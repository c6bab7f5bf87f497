"""The output checker catches wrong outputs."""

import datetime as dt

from check import (
    dedup_problems,
    expected_report,
    report_problems,
    same_problems,
    scd2_problems,
    served_problems,
)
from gen import DayBatch


def _batches():
    t = dt.datetime(2024, 3, 1, 10, 0)
    b1 = DayBatch(date="01032024", day=t.date())
    b1.expected = [
        (t, "P1", "A B C", "+7", "BLOCKED_PASSPORT"),
        (t, "P2", "D E F", "+8", "DIFF_CITY_SHORT_TIME"),
        (t.replace(minute=30), "P2", "D E F", "+8", "DIFF_CITY_SHORT_TIME"),
    ]
    b1.churned = {"clients": 0, "cards": 0}
    b2 = DayBatch(date="02032024", day=dt.date(2024, 3, 2))
    b2.expected = [(t.replace(day=2), "P3", "G H I", "+9", "BRUTE_FORCE_ATTEMPT")]
    b2.churned = {"clients": 3, "cards": 1}
    return [b1, b2]


def test_full_rescan_expectation_accumulates_history():
    batches = _batches()
    assert sum(expected_report(batches, 0).values()) == 3
    assert sum(expected_report(batches, 1).values()) == 4


def test_report_with_one_row_dropped_is_caught():
    batches = _batches()
    want = expected_report(batches, 1)
    rows = list(want.elements())
    assert report_problems(rows, want, "day 2") == []
    problems = report_problems(rows[1:], want, "day 2")
    assert len(problems) == 1 and "1 expected rows missing" in problems[0]


def test_report_with_a_duplicated_or_relabelled_row_is_caught():
    want = expected_report(_batches(), 0)
    rows = list(want.elements())
    assert report_problems(rows + rows[:1], want, "dup")
    relabelled = [rows[0][:4] + ("EXPIRED_PASSPORT",)] + rows[1:]
    assert report_problems(relabelled, want, "label")


def test_scd2_counts_follow_the_churn_schedule():
    batches = _batches()
    keys = {"clients": 10, "cards": 5}
    assert scd2_problems({"clients": (10, 3), "cards": (5, 1)}, keys, batches) == []
    assert scd2_problems({"clients": (10, 2), "cards": (5, 1)}, keys, batches)
    assert scd2_problems({"clients": (11, 3), "cards": (5, 1)}, keys, batches)


def test_index_checks():
    live, deleted = {1, 2, 3, 4}, {5}
    assert served_problems([1, 2], live, deleted, "x") == []
    assert served_problems([1, 5], live, deleted, "x")
    assert served_problems([1, 9], live, deleted, "x")
    assert served_problems([], live, deleted, "x")
    assert same_problems([(1, 0.5)], [(1, 0.5)], "x") == []
    assert same_problems([(1, 0.5)], [(1, 0.25)], "x")
    assert dedup_problems([7, 8], {7, 8}, "x") == []
    assert dedup_problems([7], {7, 8}, "x")
    assert dedup_problems([7, 8, 9], {7, 8}, "x")
