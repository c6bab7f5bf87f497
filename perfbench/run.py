#!/usr/bin/env python3
"""The repository's benchmark: the daily fraud batch and the index
lifecycles, driven through their public entry points.

    python3 perfbench/run.py --workload daily_txn_heavy --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Every input is generated from --seed
under `.perfbench_work/` in the checkout, and the Spark session keeps
its scratch there too. The last line of stdout is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with --trace 0, the per-layer metrics (spans joined with the Spark
event log) with --trace 1. The line before it stamps the result with
the core count, Spark and Java versions and the seed; results are also
kept under `.perfbench_work/results/` for `compare.py`.

Each workload has one closed-loop caller on `local[nproc]` with
SPARK_GRAFT_CPUS = nproc. The work done is fixed per workload at the
nominal --seconds (see BENCHMARK.json) and scales with --seconds, so
two runs at the same --seconds always do the same work.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, replace
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
NOMINAL_SECONDS = 30
SETUP_REPEATS = 5

sys.path[:0] = [HERE, ROOT]

from gen import DailySpec, IndexSpec  # noqa: E402
from layers import LISTED_FAMILIES  # noqa: E402

INDEX_SPEC = IndexSpec(corpus=500, epoch_fresh=50, epoch_dups=5, deletes=10, queries=4)


@dataclass
class Workload:
    kind: str  # "daily" or "index"
    spec: object
    warm_units: int  # daily batches after the first, or index epochs, at NOMINAL_SECONDS
    families: tuple = ()


#: daily_dim_heavy and index_lifecycle_all are not in BENCHMARK.json:
#: their runs do not fit the benchmark's time budget on 4 cores. Run
#: them by name for the SCD2-heavy flow and the ivf, pq and neardup
#: families.
WORKLOADS = {
    "daily_txn_heavy": Workload(
        "daily",
        DailySpec(background_clients=5000, terminals=2000, tx_per_day=10000, churn=0.01),
        1,
    ),
    "daily_dim_heavy": Workload(
        "daily",
        DailySpec(background_clients=200000, terminals=200000, tx_per_day=2000, churn=0.10),
        1,
    ),
    "index_lifecycle": Workload("index", INDEX_SPEC, 1, LISTED_FAMILIES),
    "index_lifecycle_all": Workload("index", INDEX_SPEC, 1, ("bm25", "ivf", "pq", "neardup")),
}

E2E_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "first_s": "s",
    "step_s_p50": "s",
    "store_mb": "MB",
    "store_files": "count",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Pin the core count, keep every scratch file of Spark, the JVM and
    Python inside the checkout, and size the driver heap for these
    inputs (2g unless SPARK_DRIVER_MEMORY is set; the machine is
    shared). Must run before the JVM starts."""
    cpus = str(nproc())
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ.pop("SPARK_MASTER", None)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def stop_jvm() -> None:
    """Close the gateway JVM's stdin, which makes it exit, and wait for
    it: spark.stop() leaves the process running until Python exits."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        proc.stdin.close()
        proc.wait(timeout=60)


def session_confs(work: str, trace: bool) -> dict[str, str]:
    confs = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logStageExecutorMetrics": "true",
        })
    return confs


class Recorder:
    """Times the calls the benchmark makes. In the traced run each
    timed call is also a span, so the layer spans nest under it."""

    def __init__(self, tracer=None):
        self.tracer = tracer

    @contextmanager
    def op(self, name: str):
        rec = {"name": name, "s": None, "span": None}
        with self.tracer.span(name) if self.tracer else nullcontext() as span:
            rec["span"] = span
            t = time.perf_counter()
            try:
                yield rec
            finally:
                rec["s"] = time.perf_counter() - t

    def check(self):
        """Scope for output checks: their jobs stay out of the layers."""
        return self.tracer.span("check") if self.tracer else nullcontext()


def store_inventory(path: str, prefix: str = "") -> tuple[int, int, int]:
    """(files, partition dirs, bytes) under `path`, for tables whose
    name starts with `prefix`."""
    files = dirs = size = 0
    if not os.path.isdir(path):
        return 0, 0, 0
    for table in os.listdir(path):
        if not table.startswith(prefix):
            continue
        for root, subdirs, names in os.walk(os.path.join(path, table)):
            dirs += sum("=" in d for d in subdirs)
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, dirs, size


# -- workloads ------------------------------------------------------------------


def run_daily(job, spec, seed, n_warm, rec, facts) -> list[str]:
    from check import expected_report, report_problems, scd2_problems
    from etl_process_for_fraud_transactions_spark.jobs import daily
    from gen import RULES, DailyGenerator

    g = DailyGenerator(replace(spec, days=1 + n_warm), seed, job.input_dir, job.source_dir)
    batches, problems = [], []
    facts.update(fact_rows=[], report_rows=0, hits={})
    for _ in range(1 + n_warm):
        batch = g.write_day()
        facts["attempted"] += 1
        try:
            with rec.op("batch") as unit:
                dates = daily.discover_batch_dates(job.input_dir)
                for date in dates:
                    job.run_batch(date)
        except Exception:
            facts["failed"] += 1
            facts["errors"].append(traceback.format_exc(limit=3))
            return problems
        facts["units"].append(unit)
        batches.append(batch)
        facts["fact_rows"].append(job.metrics[f"fact_transactions_{batch.date}"]["n_rows"])
        if dates != [batch.date]:
            problems.append(f"discovered {dates}, wrote {batch.date}")

    # every report partition, read once after the timed batches
    with rec.check():
        rows = job.wh.read("rep_fraud").select(
            "report_dt", "event_dt", "passport", "fio", "phone", "event_type"
        ).collect()
    for i, batch in enumerate(batches):
        found = [tuple(r)[1:] for r in rows if r["report_dt"] == batch.day]
        problems += report_problems(found, expected_report(batches, i), f"report {batch.date}")
    facts["report_rows"] = len(found)
    facts["hits"] = {ev: sum(r[4] == ev for r in found) for ev in RULES}

    counts = {}
    for dim in ("clients", "accounts", "cards", "terminals"):
        cur, closed = f"dim_{dim}_current", f"dim_{dim}_closed"
        counts[dim] = (
            job.wh.count_rows(cur),
            job.wh.count_rows(closed) if job.wh.exists(closed) else 0,
        )
    return problems + scd2_problems(counts, g.key_counts(), batches)


def run_index(spark, wh, spec, seed, n_epochs, fams, rec, facts) -> list[str]:
    from check import dedup_problems, same_problems, served_problems
    from etl_process_for_fraud_transactions_spark.operators.dedup_incremental import NearDupIndex
    from etl_process_for_fraud_transactions_spark.operators.pq import PqIndex
    from etl_process_for_fraud_transactions_spark.operators.retrieval import Bm25Index
    from etl_process_for_fraud_transactions_spark.operators.similarity import IvfIndex
    from gen import IndexGenerator

    g = IndexGenerator(spec, seed)
    cls = {"bm25": Bm25Index, "ivf": IvfIndex, "pq": PqIndex, "neardup": NearDupIndex}
    idx = {f: cls[f](wh, partitioned=True) for f in fams}
    id_col = {"bm25": "doc_id", "ivf": "vec_id", "pq": "vec_id", "neardup": "doc_id"}

    def frame(fam, ids):
        if id_col[fam] == "doc_id":
            return spark.createDataFrame([(i, g.items[i][0]) for i in ids], "doc_id long, text string")
        return spark.createDataFrame(
            [(i, g.items[i][1]) for i in ids], "vec_id long, embedding array<double>"
        )

    term_q = g.term_queries()
    vec_q = spark.createDataFrame(g.vector_queries(), "query_id long, query_vec array<double>")

    def serve(fam):
        if fam == "bm25":
            rows = idx[fam].topk(term_q).collect()
        else:
            rows = idx[fam].topk(vec_q).collect()
        return [tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in rows], [
            r[id_col[fam]] for r in rows
        ]

    corpus = g.corpus()
    live = {f: set(corpus) for f in fams}
    deleted: set = set()
    problems: list[str] = []
    facts.update(flagged=0, checked=0)

    def step(name, fn):
        facts["attempted"] += 1
        try:
            with rec.op(name):
                return fn()
        except Exception:
            facts["failed"] += 1
            facts["errors"].append(f"{name}: {traceback.format_exc(limit=3)}")
            raise

    try:
        with rec.op("build") as unit:
            for f in fams:
                build = idx[f].bootstrap if f == "neardup" else idx[f].build
                data = frame(f, corpus)
                step(f"op.{f}.build", lambda: build(data))
        facts["units"].append(unit)
        for e in range(1, n_epochs + 1):
            fresh, dups = g.epoch(live.get("neardup", set(corpus)) - deleted)
            new = fresh + list(dups)
            with rec.op("epoch") as unit:
                kept = new
                if "neardup" in fams:
                    data = frame("neardup", new)
                    flagged = step(
                        "op.neardup.serve",
                        lambda: [r["new_id"] for r in idx["neardup"].check(data).collect()],
                    )
                    facts["flagged"] += len(set(flagged))
                    facts["checked"] += len(new)
                    problems += dedup_problems(flagged, set(dups), f"neardup epoch {e}")
                    kept = [i for i in new if i not in set(flagged)]
                for f in fams:
                    ids = kept if f == "neardup" else new
                    data = frame(f, ids)
                    step(f"op.{f}.absorb", lambda: idx[f].absorb(data, batch=e))
                    live[f].update(ids)
                gone = g.deletions(set.intersection(*live.values()) - deleted)
                for f in fams:
                    ids_df = spark.createDataFrame([(i,) for i in gone], f"{id_col[f]} long")
                    step(f"op.{f}.delete", lambda: idx[f].delete(ids_df))
                deleted.update(gone)
                before = {}
                for f in fams:
                    if f == "neardup":
                        continue
                    before[f], ids = step(f"op.{f}.serve", lambda: serve(f))
                    problems += served_problems(ids, live[f], deleted, f"{f} epoch {e}")
                for f in fams:
                    step(f"op.{f}.compact", lambda: idx[f].compact(through=e))
                for f in before:
                    after, _ = step(f"op.{f}.serve", lambda: serve(f))
                    problems += same_problems(before[f], after, f"{f} epoch {e}")
            facts["units"].append(unit)
    except Exception:
        pass  # recorded by step()
    return problems


# -- main -------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=NOMINAL_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    wl = WORKLOADS[args.workload]
    kind, spec = wl.kind, wl.spec
    n_units = max(1, round(wl.warm_units * args.seconds / NOMINAL_SECONDS))

    # importing starts no JVM; prepare_env below still runs before it starts
    from etl_process_for_fraud_transactions_spark.session import get_spark
    from etl_process_for_fraud_transactions_spark.sources.warehouse import Warehouse

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)

    wh_root = os.path.join(work, "wh")
    setups, spark, opened = [], None, None
    try:
        for _ in range(SETUP_REPEATS):
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            spark = get_spark("perfbench", extra_confs=session_confs(work, trace))
            if kind == "daily":
                from etl_process_for_fraud_transactions_spark.jobs.daily import DailyFraudJob

                opened = DailyFraudJob(
                    spark, os.path.join(work, "incoming"), os.path.join(work, "sourcedb"), wh_root
                )
            else:
                opened = Warehouse(spark, wh_root)
            setups.append(time.perf_counter() - t)

        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": nproc(),
            "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "spark_version": spark.version,
            "java_version": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python_version": sys.version.split()[0],
        }
        tracer = None
        if trace:
            import spans

            tracer = spans.Tracer(spark, f"pb{args.seed}")
            spans.install(tracer)
        rec = Recorder(tracer)
        facts = {"kind": kind, "attempted": 0, "failed": 0, "errors": [], "units": []}
        if kind == "daily":
            problems = run_daily(opened, spec, args.seed, n_units, rec, facts)
        else:
            problems = run_index(spark, opened, spec, args.seed, n_units, wl.families, rec, facts)
            facts["stores"] = {f: store_inventory(wh_root, f + "_") for f in wl.families}
        facts["families"] = wl.families

        unit_s = [u["s"] for u in facts["units"]]
        files, _, size = store_inventory(wh_root)
        e2e = {
            "setup_s": statistics.median(setups),
            "run_s": sum(unit_s),
            "first_s": unit_s[0] if unit_s else 0.0,
            "step_s_p50": statistics.median(unit_s[1:]) if len(unit_s) > 1 else 0.0,
            "store_mb": size / (1024 * 1024),
            "store_files": files,
        }
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()

    failed = facts["failed"] + len(problems)
    correct = failed == 0 and len(unit_s) == 1 + n_units
    for p in facts["errors"] + problems:
        print("FAILED:", p, file=sys.stderr)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    if trace:
        import layers

        units = layers.units(wl.families or LISTED_FAMILIES)
        metrics = per_layer(tracer, facts, work, app_id, e2e["run_s"], stamp, results, units)
    else:
        metrics, units = e2e, E2E_UNITS
    record = {"stamp": stamp, "correct": correct, "metrics": metrics}
    with open(os.path.join(results, f"{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    # keep the spans and the measured event log; drop the data
    for sub in ("wh", "incoming", "sourcedb", "local", "tmp"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    print("stamp: " + json.dumps(stamp))
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, facts["attempted"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def per_layer(tracer, facts, work, app_id, run_s, stamp, results, names) -> dict:
    import eventlog
    import layers

    tracer.dump(os.path.join(work, "spans.jsonl"))
    log = eventlog.parse_file(os.path.join(work, "eventlog", app_id))
    sj = layers.SpanJobs(tracer.spans, log)
    units = [u["span"] for u in facts["units"]]
    if not units:
        return {name: 0.0 for name in names}
    facts.update(
        unattributed=sj.unattributed,
        heap_peak_mb=log.heap_peak_mb,
        overhead_ratio=overhead_ratio(run_s, stamp, results, tracer.self_s),
    )
    return layers.compute(sj, units, facts, names)


def overhead_ratio(run_s: float, stamp: dict, results: str, self_s: float) -> float:
    """Traced run_s over the median untraced run_s of the same workload
    and --seconds taken in this checkout at the same core count. With
    no such run, the tracer's own bookkeeping share stands in."""
    from compare import comparable

    base = []
    for name in os.listdir(results):
        with open(os.path.join(results, name)) as f:
            other = json.load(f)
        s = other["stamp"]
        if (
            s["trace"] == 0
            and s["workload"] == stamp["workload"]
            and s["seconds"] == stamp["seconds"]
            and comparable(s, stamp)
            and other["correct"]
        ):
            base.append(other["metrics"]["run_s"])
    if base:
        return run_s / statistics.median(base)
    return run_s / max(1e-9, run_s - self_s)


if __name__ == "__main__":
    sys.exit(main())
