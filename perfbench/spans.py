"""Span tracing for the traced run, kept entirely in the benchmark.

`install()` wraps the layers' public functions in the traced run only:
each call becomes a span (name, start, end, parent, run id) with its
own Spark job group, so the event log ties every job to the span that
launched it. Spans stay in memory and are written out at the end of
the run. Nothing here runs in an untraced run.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    def _set_group(self) -> None:
        if self.stack:
            top = self.spans[self.stack[-1]]
            self.sc.setJobGroup(top["group"], top["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        t = time.time()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "run": self.run_id,
            "group": f"{self.run_id}-{sid}",
            "start": t,
            "end": None,
            "attrs": {},
        }
        self.spans.append(rec)
        self.stack.append(sid)
        self._set_group()
        rec["start"] = time.time()
        self.self_s += rec["start"] - t
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            self._set_group()
            self.self_s += time.time() - rec["end"]

    def wrap(self, owner, attr: str, name, on_exit=None) -> None:
        """Replace owner.attr by a traced wrapper. `name` is a string or
        a function of the call's arguments; `on_exit(rec, args)` may add
        counts measured at the boundary to the span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label) as rec:
                out = fn(*args, **kwargs)
            if on_exit is not None:
                t = time.time()
                on_exit(rec, args)
                tracer.self_s += time.time() - t
            return out

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def _written(path: str, since: float) -> tuple[int, int]:
    """(files, bytes) of parquet data files under `path` modified at or
    after `since` — what one write call left on disk."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet") or n.startswith("part-"):
                st = os.stat(os.path.join(root, n))
                if st.st_mtime >= since - 0.02:  # coarse filesystem clock
                    files += 1
                    size += st.st_size
    return files, size


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the benchmark drives."""
    from etl_process_for_fraud_transactions_spark.jobs import daily
    from etl_process_for_fraud_transactions_spark.operators.dedup_incremental import NearDupIndex
    from etl_process_for_fraud_transactions_spark.operators.pq import PqIndex
    from etl_process_for_fraud_transactions_spark.operators.retrieval import Bm25Index
    from etl_process_for_fraud_transactions_spark.operators.scd2_partitioned import PartitionedScd2
    from etl_process_for_fraud_transactions_spark.operators.similarity import IvfIndex
    from etl_process_for_fraud_transactions_spark.sources.warehouse import Warehouse

    def write_counts(rec, args):
        wh, table = args[0], args[1]
        files, size = _written(wh.path(table), rec["start"])
        rec["attrs"].update(table=table, files_written=files, written_bytes=size)

    for method in ("append", "append_partitioned", "overwrite"):
        tracer.wrap(
            Warehouse, method, lambda wh, table, *a, _m=method, **k: f"warehouse.{_m}:{table}",
            on_exit=write_counts,
        )
    for method in ("overwrite_rows", "read_rows"):
        tracer.wrap(Warehouse, method, f"warehouse.meta.{method}")

    def scd2_counts(rec, args):
        s = args[0]
        rec["attrs"].update(
            current_rows=s.wh.count_rows(s._cur),
            closed_rows=s.wh.count_rows(s._closed) if s.wh.exists(s._closed) else 0,
        )

    tracer.wrap(
        PartitionedScd2, "apply_batch",
        lambda s, *a, **k: f"scd2.{s.table.removeprefix('dim_')}", on_exit=scd2_counts,
    )
    tracer.wrap(daily.DailyFraudJob, "run_batch", "daily.run_batch")
    tracer.wrap(daily, "assemble_report", "report.build")
    tracer.wrap(daily, "discover_batch_dates", "files.discover")
    tracer.wrap(daily, "archive_batch_files", "files.archive")

    def ingest_counts(rec, args):
        path = args[1]
        rec["attrs"]["input_bytes"] = os.path.getsize(path) if os.path.isfile(path) else 0

    tracer.wrap(daily, "read_semicolon_csv", "ingest.read", on_exit=ingest_counts)

    families = {
        "bm25": (Bm25Index, ("build", "absorb", "delete", "compact", "topk")),
        "ivf": (IvfIndex, ("build", "absorb", "delete", "compact", "topk")),
        "pq": (PqIndex, ("build", "absorb", "delete", "compact", "topk")),
        "neardup": (NearDupIndex, ("bootstrap", "absorb", "delete", "compact", "check")),
    }
    for fam, (cls, methods) in families.items():
        for m in methods:
            tracer.wrap(cls, m, f"{fam}.{m}")
