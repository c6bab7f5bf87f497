"""Per-layer metrics of a traced run: spans joined with the Spark event
log.

A job belongs to the span whose job group it carries. Jobs without a
group (most come from `session.run_concurrently`'s pool threads, which
do not inherit the caller's local properties) are counted as
unattributed and assigned to the innermost span open when they were
submitted, so their cost still lands in the right layer. A span's
`driver_s` is its wall time minus the union of its jobs' intervals.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from eventlog import MB, EventLog, Totals
from gen import RULES

SCD2_DIMS = ("clients", "accounts", "cards", "terminals")
#: the index families of the listed index workload
LISTED_FAMILIES = ("bm25",)
FAMILY_METRICS = (
    "build_s", "absorb_s", "delete_s", "compact_s", "serve_s",
    "jobs_per_epoch", "files", "partition_dirs", "mb",
)
SPARK_METRICS = (
    "jobs", "stages", "tasks", "tasks_failed", "executor_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
)


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or name.endswith(".mb"):
        return "MB"
    if name.endswith("_ratio") or name.endswith("_share"):
        return "ratio"
    return "count"


def units(families=LISTED_FAMILIES) -> dict[str, str]:
    """name -> unit of every per-layer metric, in BENCHMARK.json order."""
    names = ["files.discover_s", "files.archive_s", "ingest.plan_s", "ingest.rows", "ingest.input_mb"]
    for d in SCD2_DIMS:
        names += [
            f"scd2.{d}.{m}"
            for m in ("s", "driver_s", "jobs", "closed_rows", "current_rows", "written_mb", "rewrite_ratio")
        ]
    names += ["facts.transactions_s", "facts.blacklist_s", "facts.rows"]
    names += [
        f"report.{m}"
        for m in ("build_s", "write_s", "driver_s", "jobs", "rows", "shuffle_mb", "spill_mb")
    ]
    names += [f"report.hits.{ev}" for ev in RULES]
    names += ["daily.scd2_share", "daily.report_share"]
    names += ["warehouse.calls", "warehouse.files_written", "warehouse.written_mb", "warehouse.meta_s"]
    for f in families:
        names += [f"{f}.{m}" for m in FAMILY_METRICS]
    if "neardup" in families:
        names.append("neardup.flag_ratio")
    names.append("index.maintain_s")
    names += [f"spark.{m}" for m in SPARK_METRICS]
    names += ["spark.jobs_unattributed", "session.jvm_heap_peak_mb", "trace.overhead_ratio"]
    return {n: _unit(n) for n in names}


UNITS = units()


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class SpanJobs:
    """Spans with their jobs attached."""

    def __init__(self, spans: list[dict], log: EventLog):
        self.spans = spans
        self.children: dict[int, list[int]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])
        by_group = {s["group"]: s["id"] for s in spans}
        self.own: dict[int, list] = defaultdict(list)
        self.unattributed = 0
        for job in log.jobs.values():
            sid = by_group.get(job.group)
            if sid is None:
                self.unattributed += 1
                sid = self._innermost(job.start)
            if sid is not None:
                self.own[sid].append(job)

    def _innermost(self, t: float):
        best = None
        for s in self.spans:  # spans are recorded in start order
            if s["start"] - 0.002 <= t <= (s["end"] or t) + 0.002:
                best = s["id"]
        return best

    def subtree(self, sid: int) -> list:
        jobs = list(self.own[sid])
        for c in self.children[sid]:
            jobs.extend(self.subtree(c))
        return jobs

    def descendants(self, sid: int, name: str) -> list[dict]:
        out = []
        for c in self.children[sid]:
            if self.spans[c]["name"] == name:
                out.append(self.spans[c])
            out.extend(self.descendants(c, name))
        return out

    def totals(self, sid: int) -> Totals:
        t = Totals()
        for j in self.subtree(sid):
            t.add(j.totals)
        t.jobs = len(self.subtree(sid))
        return t

    def driver_s(self, sid: int) -> float:
        s = self.spans[sid]
        lo, hi = s["start"], s["end"]
        iv = sorted((max(j.start, lo), min(j.end, hi)) for j in self.subtree(sid))
        busy, cur_lo, cur_hi = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        return max(0.0, (hi - lo) - busy)


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def compute(sj: SpanJobs, unit_spans: list[dict], facts: dict, names: dict) -> dict[str, float]:
    """`unit_spans`: the benchmark's unit spans (batches or epochs) in
    order; the first is the cold one. `facts`: counts the run measured
    at its own boundaries (report rows per rule, store inventories,
    observed fact rows, ...). `names`: the metrics to report; layers
    a workload does not run read 0."""
    m = {name: 0.0 for name in names}
    warm = unit_spans[1:] or unit_spans

    def per_unit(name, fn=_dur):
        """median over warm units of the summed fn() of `name` spans"""
        return _median(sum(fn(s) for s in sj.descendants(u["id"], name)) for u in warm)

    kind = facts["kind"]
    if kind == "daily":
        m["files.discover_s"] = per_unit("files.discover")
        m["files.archive_s"] = per_unit("files.archive")
        m["ingest.plan_s"] = per_unit("ingest.read")
        m["ingest.input_mb"] = per_unit("ingest.read", lambda s: s["attrs"].get("input_bytes", 0) / MB)
        m["ingest.rows"] = m["facts.rows"] = _median(facts["fact_rows"][1:] or facts["fact_rows"])
        for d in SCD2_DIMS:
            name = f"scd2.{d}"
            p = f"scd2.{d}."
            m[p + "s"] = per_unit(name)
            m[p + "driver_s"] = per_unit(name, lambda s: sj.driver_s(s["id"]))
            m[p + "jobs"] = per_unit(name, lambda s: len(sj.subtree(s["id"])))
            m[p + "written_mb"] = per_unit(name, lambda s: _written_mb(sj, s["id"]))
            spans = [s for u in unit_spans for s in sj.descendants(u["id"], name)]
            if spans:
                m[p + "closed_rows"] = spans[-1]["attrs"]["closed_rows"]
                m[p + "current_rows"] = spans[-1]["attrs"]["current_rows"]
            rewritten = changed = 0
            for prev, cur in zip(spans, spans[1:]):
                rewritten += cur["attrs"]["current_rows"]
                changed += cur["attrs"]["closed_rows"] - prev["attrs"]["closed_rows"]
            m[p + "rewrite_ratio"] = rewritten / changed if changed else 0.0
        m["facts.transactions_s"] = per_unit("warehouse.append_partitioned:fact_transactions")
        m["facts.blacklist_s"] = per_unit("warehouse.append:fact_passport_blacklist")
        rep = ("report.build", "warehouse.append_partitioned:rep_fraud")
        m["report.build_s"] = per_unit(rep[0])
        m["report.write_s"] = per_unit(rep[1])
        for key, fn in (
            ("report.driver_s", lambda s: sj.driver_s(s["id"])),
            ("report.jobs", lambda s: len(sj.subtree(s["id"]))),
            ("report.shuffle_mb", lambda s: sj.totals(s["id"]).shuffle_write_mb),
            ("report.spill_mb", lambda s: sj.totals(s["id"]).spill_mb),
        ):
            m[key] = _median(
                sum(fn(s) for name in rep for s in sj.descendants(u["id"], name)) for u in warm
            )
        m["report.rows"] = facts["report_rows"]
        for ev, n in facts["hits"].items():
            m[f"report.hits.{ev}"] = n
        batch_s = sum(_dur(u) for u in warm)
        scd2_s = sum(_dur(s) for u in warm for d in SCD2_DIMS for s in sj.descendants(u["id"], f"scd2.{d}"))
        rep_s = sum(_dur(s) for u in warm for name in rep for s in sj.descendants(u["id"], name))
        m["daily.scd2_share"] = scd2_s / batch_s
        m["daily.report_share"] = rep_s / batch_s
    else:
        maintain = 0.0
        for fam in facts["families"]:
            ops = {
                op: [s for u in unit_spans for s in sj.descendants(u["id"], f"op.{fam}.{op}")]
                for op in ("build", "absorb", "delete", "compact", "serve")
            }
            for op, spans in ops.items():
                m[f"{fam}.{op}_s"] = _median(_dur(s) for s in spans)
                if op != "serve":
                    maintain += sum(_dur(s) for s in spans)
            m[f"{fam}.jobs_per_epoch"] = _median(
                sum(
                    len(sj.subtree(c))
                    for c in sj.children[u["id"]]
                    if sj.spans[c]["name"].startswith(f"op.{fam}.")
                )
                for u in unit_spans[1:]
            )
            files, dirs, size = facts["stores"][fam]
            m[f"{fam}.files"], m[f"{fam}.partition_dirs"], m[f"{fam}.mb"] = files, dirs, size / MB
        m["index.maintain_s"] = maintain
        if "neardup" in facts["families"]:
            m["neardup.flag_ratio"] = facts["flagged"] / max(1, facts["checked"])

    calls = [s for s in sj.spans if s["name"].startswith("warehouse.")]
    writes = [s for s in calls if "written_bytes" in s["attrs"]]
    m["warehouse.calls"] = len(calls)
    m["warehouse.files_written"] = sum(s["attrs"]["files_written"] for s in writes)
    m["warehouse.written_mb"] = sum(s["attrs"]["written_bytes"] for s in writes) / MB
    m["warehouse.meta_s"] = sum(_dur(s) for s in calls if s["name"].startswith("warehouse.meta."))

    tot = Totals()
    for u in unit_spans:
        tot.add(sj.totals(u["id"]))
    for k in SPARK_METRICS:
        m[f"spark.{k}"] = getattr(tot, k)
    m["spark.jobs_unattributed"] = facts["unattributed"]
    m["session.jvm_heap_peak_mb"] = facts["heap_peak_mb"]
    m["trace.overhead_ratio"] = facts["overhead_ratio"]
    return m


def _written_mb(sj: SpanJobs, sid: int) -> float:
    total = 0
    stack = [sid]
    while stack:
        s = sj.spans[stack.pop()]
        total += s["attrs"].get("written_bytes", 0)
        stack.extend(sj.children[s["id"]])
    return total / MB
