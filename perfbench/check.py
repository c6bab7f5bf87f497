"""Output checks. Each returns a list of problems; empty means correct.

The daily report is checked with the reference's full-rescan
semantics: the report written for day k holds every planted event of
days 1..k, stamped with report_dt = day k (jobs/daily.py rescans the
whole transaction fact each day).
"""

from __future__ import annotations

from collections import Counter


def expected_report(batches, upto: int) -> Counter:
    """Multiset of (event_dt, passport, fio, phone, event_type) rows the
    report of batch `upto` (0-based) must hold."""
    rows = Counter()
    for b in batches[: upto + 1]:
        rows.update(b.expected)
    return rows


def report_problems(actual_rows, expected: Counter, label: str) -> list[str]:
    actual = Counter(
        (r[0], r[1], r[2], r[3], r[4]) for r in actual_rows
    )
    if actual == expected:
        return []
    missing = expected - actual
    extra = actual - expected
    return [
        f"{label}: {sum(missing.values())} expected rows missing "
        f"(e.g. {sorted(missing)[:2]}), {sum(extra.values())} unexpected rows "
        f"(e.g. {sorted(extra)[:2]})"
    ]


def scd2_problems(counts: dict, keys: dict, batches) -> list[str]:
    """`counts`: dim -> (current_rows, closed_rows) after the last
    batch. Every key stays live, and each day's churn closes exactly
    one version per changed key."""
    out = []
    for dim, (current, closed) in counts.items():
        want_closed = sum(b.churned[dim] for b in batches)
        if current != keys[dim] or closed != want_closed:
            out.append(
                f"scd2 {dim}: current {current} closed {closed}, "
                f"expected {keys[dim]} and {want_closed}"
            )
    return out


def served_problems(served_ids, live: set, deleted: set, label: str) -> list[str]:
    served = set(served_ids)
    out = []
    if served & deleted:
        out.append(f"{label}: served deleted ids {sorted(served & deleted)[:5]}")
    if served - live - deleted:
        out.append(f"{label}: served ids never live {sorted(served - live - deleted)[:5]}")
    if not served:
        out.append(f"{label}: served nothing")
    return out


def same_problems(before, after, label: str) -> list[str]:
    if sorted(before) == sorted(after):
        return []
    return [f"{label}: top-k changed across compact ({len(before)} vs {len(after)} rows)"]


def dedup_problems(flagged_ids, planted: set, label: str) -> list[str]:
    flagged = set(flagged_ids)
    if flagged == planted:
        return []
    return [
        f"{label}: planted duplicates not flagged {sorted(planted - flagged)[:5]}, "
        f"flagged fresh documents {sorted(flagged - planted)[:5]}"
    ]
