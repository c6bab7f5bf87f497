"""The event-log parser and the span/job join, on a small checked-in
log: job 0 carries a job group and two stages (one failed task), job 1
carries none."""

import os

import pytest

import eventlog
from layers import SpanJobs

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.json")


def test_totals():
    log = eventlog.parse_file(LOG)
    t = log.totals
    assert (t.jobs, t.stages, t.tasks, t.tasks_failed) == (2, 3, 4, 1)
    assert t.executor_cpu_s == pytest.approx(1.0)
    assert t.gc_s == pytest.approx(0.025)
    assert t.shuffle_write_mb == pytest.approx(2.0)
    assert t.shuffle_read_mb == pytest.approx(2.0)
    assert t.spill_mb == pytest.approx(2.0)
    assert log.heap_peak_mb == pytest.approx(300.0)


def test_jobs_groups_and_intervals():
    log = eventlog.parse_file(LOG)
    assert log.jobs[0].group == "run-0"
    assert (log.jobs[0].start, log.jobs[0].end) == (1000.0, 1002.0)
    assert [j.job_id for j in log.jobs.values() if not j.group] == [1]
    assert log.jobs[0].totals.tasks == 3 and log.jobs[1].totals.tasks == 1


def test_span_join_attributes_ungrouped_jobs_by_time():
    log = eventlog.parse_file(LOG)
    spans = [
        {"id": 0, "name": "batch", "parent": None, "group": "run-0x", "start": 999.0, "end": 1005.0, "attrs": {}},
        {"id": 1, "name": "scd2.clients", "parent": 0, "group": "run-0", "start": 999.5, "end": 1002.5, "attrs": {}},
        {"id": 2, "name": "report.build", "parent": 0, "group": "run-2", "start": 1002.8, "end": 1004.0, "attrs": {}},
    ]
    sj = SpanJobs(spans, log)
    assert sj.unattributed == 1
    assert [j.job_id for j in sj.own[1]] == [0]
    assert [j.job_id for j in sj.own[2]] == [1]  # submitted while span 2 was open
    assert len(sj.subtree(0)) == 2
    # wall 3.0 s minus job 0's 2.0 s
    assert sj.driver_s(1) == pytest.approx(1.0)
    # wall 6.0 s minus 2.0 s and 0.5 s of jobs
    assert sj.driver_s(0) == pytest.approx(3.5)
