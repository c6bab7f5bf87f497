"""Parse an uncompressed, non-rolling Spark JSON event log into jobs,
stages and task totals.

Only the listener events the benchmark needs are read: JobStart/JobEnd
(interval, job group, stage ids), StageCompleted (attempts, failures),
TaskEnd (CPU, GC, shuffle, spill) and the executor-metrics peaks.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "Totals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Job:
    job_id: int
    start: float  # seconds since the epoch
    end: float
    group: str | None
    stage_ids: list = field(default_factory=list)
    totals: Totals = field(default_factory=Totals)


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)  # job id -> Job
    totals: Totals = field(default_factory=Totals)
    heap_peak_mb: float = 0.0


def _task_totals(ev: dict) -> Totals:
    t = Totals(tasks=1)
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    info = ev.get("Task Info") or {}
    if reason != "Success" or info.get("Failed") or info.get("Killed"):
        t.tasks_failed = 1
    m = ev.get("Task Metrics") or {}
    t.executor_cpu_s = m.get("Executor CPU Time", 0) / 1e9
    t.gc_s = m.get("JVM GC Time", 0) / 1e3
    t.spill_mb = (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
    sw = m.get("Shuffle Write Metrics") or {}
    t.shuffle_write_mb = sw.get("Shuffle Bytes Written", 0) / MB
    sr = m.get("Shuffle Read Metrics") or {}
    t.shuffle_read_mb = (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
    return t


def _heap_mb(metrics: dict | None) -> float:
    return (metrics or {}).get("JVMHeapMemory", 0) / MB


def parse(lines) -> EventLog:
    """`lines` is any iterable of JSON event strings (an open file)."""
    log = EventLog()
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                start=ev["Submission Time"] / 1e3,
                end=ev["Submission Time"] / 1e3,
                group=props.get("spark.jobGroup.id"),
                stage_ids=list(ev.get("Stage IDs") or []),
            )
            log.jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_job[sid] = job.job_id
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            job = log.jobs.get(stage_job.get(info.get("Stage ID")))
            if job is not None:
                job.totals.stages += 1
        elif kind == "SparkListenerTaskEnd":
            job = log.jobs.get(stage_job.get(ev.get("Stage ID")))
            t = _task_totals(ev)
            if job is not None:
                job.totals.add(t)
            log.heap_peak_mb = max(log.heap_peak_mb, _heap_mb(ev.get("Task Executor Metrics")))
        elif kind == "SparkListenerStageExecutorMetrics":
            log.heap_peak_mb = max(log.heap_peak_mb, _heap_mb(ev.get("Executor Metrics")))
    for job in log.jobs.values():
        log.totals.add(job.totals)
    log.totals.jobs = len(log.jobs)
    return log


def parse_file(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)
