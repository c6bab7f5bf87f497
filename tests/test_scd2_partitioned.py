"""Partitioned SCD2 equals the snapshot operator on multi-batch
histories (and only rewrites the bounded current partition)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from etl_process_for_fraud_transactions_spark.functions.core import ddmmyyyy_to_date
from etl_process_for_fraud_transactions_spark.jobs.daily import DailyFraudJob
from etl_process_for_fraud_transactions_spark.operators.report import assemble_report
from etl_process_for_fraud_transactions_spark.operators.scd2 import scd2_apply
from etl_process_for_fraud_transactions_spark.operators.scd2_partitioned import (
    PartitionedScd2,
)
from etl_process_for_fraud_transactions_spark.schemas import DIMENSIONS
from etl_process_for_fraud_transactions_spark.sources.warehouse import Warehouse

from .test_plan_invariants import _children, _node, _subtree

BATCHES = [
    [("c1", "111"), ("c2", "222")],
    [("c1", "111x"), ("c2", "222"), ("c3", "333")],
    [("c1", "111y"), ("c3", "333x")],
]


def _snap(df):
    return sorted(
        (r.client_id, r.phone, str(r.effective_from), str(r.effective_to), r.deleted_flg)
        for r in df.collect()
    )


def test_partitioned_matches_snapshot(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    part = PartitionedScd2(wh, "dim_clients", ["client_id"], ["phone"])
    snap = None
    for i, rows in enumerate(BATCHES):
        b = F.lit(dt.date(2024, 1, 1) + dt.timedelta(days=i))
        stg = spark.createDataFrame(rows, "client_id string, phone string")
        part.apply_batch(stg, b)
        snap = scd2_apply(snap, stg, ["client_id"], ["phone"], b)
    assert _snap(part.history()) == _snap(snap)
    assert _snap(part.current()) == _snap(snap.filter("deleted_flg = false"))


def _files(root):
    return {
        os.path.relpath(os.path.join(d, f), root)
        for d, _, names in os.walk(root)
        for f in names
    }


def test_closed_partition_is_append_only(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    part = PartitionedScd2(wh, "dim", ["client_id"], ["phone"])
    part.apply_batch(
        spark.createDataFrame([("c1", "1")], "client_id string, phone string"),
        F.lit(dt.date(2024, 1, 1)),
    )
    part.apply_batch(
        spark.createDataFrame([("c1", "2")], "client_id string, phone string"),
        F.lit(dt.date(2024, 1, 2)),
    )
    closed_files = _files(wh.path("dim_closed"))
    part.apply_batch(
        spark.createDataFrame([("c1", "3")], "client_id string, phone string"),
        F.lit(dt.date(2024, 1, 3)),
    )
    # batch 3 only ADDED files (its own date partition) to the closed
    # table; batch 2's partition is untouched
    assert closed_files < _files(wh.path("dim_closed"))
    assert part.history().count() == 3


def test_unpartitioned_closed_table_is_refused_before_any_write(spark, tmp_path):
    """A `_closed` table with data files at its root (written flat) is
    refused before the batch writes anything: appending partitions next
    to those files would leave a layout no later read resolves."""
    wh = Warehouse(spark, str(tmp_path))
    part = PartitionedScd2(wh, "dim", ["client_id"], ["phone"])
    part.apply_batch(
        spark.createDataFrame([("c1", "1")], "client_id string, phone string"),
        F.lit(dt.date(2024, 1, 1)),
    )
    wh.append("dim_closed", wh.read("dim_current").limit(0))
    before = _files(str(tmp_path))
    with pytest.raises(ValueError, match="written unpartitioned"):
        part.apply_batch(
            spark.createDataFrame([("c1", "2")], "client_id string, phone string"),
            F.lit(dt.date(2024, 1, 2)),
        )
    assert _files(str(tmp_path)) == before


def _hist_rows(df):
    return sorted(
        (r.client_id, r.phone, str(r.effective_from), str(r.effective_to), r.deleted_flg)
        for r in df.collect()
    )


@pytest.fixture(scope="module")
def five_batch_jobs(spark, tmp_path_factory):
    """The full daily job over 5 batch dates, run once per module, next
    to an independent reference: a fold of the snapshot operator
    (`scd2_apply`, reference-exact full rewrite) over the same
    per-batch staging frames, plus `assemble_report` over that fold.
    The reference's histories and reports live in their own warehouse,
    written every batch, so their lazy lineage never reads the source
    files a later batch replaces. Returns the job, the reference
    warehouse, the report the job returned for the last batch and the
    last batch date."""
    import shutil

    tmp_path = tmp_path_factory.mktemp("five_batch")
    input_dir = tmp_path / "incoming"
    source_dir = tmp_path / "sourcedb"
    input_dir.mkdir()

    def write_clients(phones):
        rows = [
            (f"c{i}", f"Last{i}", f"First{i}", "M", dt.date(1980, 1, 1 + i),
             f"P{i}00", dt.date(2030, 1, 1), phones[i])
            for i in range(len(phones))
        ]
        tmp = str(tmp_path / "cl_tmp.parquet")
        spark.createDataFrame(
            rows,
            "client_id string, last_name string, first_name string, patronymic string, "
            "date_of_birth date, passport_num string, passport_valid_to date, phone string",
        ).write.mode("overwrite").parquet(tmp)
        target = str(source_dir / "clients.parquet")
        if os.path.exists(target):
            shutil.rmtree(target)
        shutil.move(tmp, target)

    write_clients(["+70", "+71", "+72"])
    spark.createDataFrame(
        [("a0", dt.date(2030, 1, 1), "c0"), ("a1", dt.date(2030, 1, 1), "c1"),
         ("a2", dt.date(2030, 1, 1), "c2")],
        "account string, valid_to date, client string",
    ).write.parquet(str(source_dir / "accounts.parquet"))
    spark.createDataFrame(
        [("card0", "a0"), ("card1", "a1"), ("card2", "a2")],
        "card_num string, account string",
    ).write.parquet(str(source_dir / "cards.parquet"))

    def write_batch(date, trans_rows):
        (input_dir / f"transactions_{date}.txt").write_text(
            "transaction_id;transaction_date;card_num;oper_type;amount;oper_result;terminal\n"
            + "\n".join(trans_rows) + "\n"
        )
        (input_dir / f"terminals_{date}.csv").write_text(
            "terminal_id,terminal_type,terminal_city,terminal_address\n"
            "t1,ATM,Moscow,addr1\nt2,POS,Kazan,addr2\n"
        )
        (input_dir / f"passport_blacklist_{date}.csv").write_text("passport,date\n")

    job = DailyFraudJob(spark, str(input_dir), str(source_dir),
                        str(tmp_path / "wh"), archive=False)
    ref = Warehouse(spark, str(tmp_path / "wh_ref"))

    # phone histories never repeat a prior value per client, so the
    # documented tuple-IN divergence cannot trigger here
    phone_plan = [
        ["+70", "+71", "+72"],
        ["+70a", "+71", "+72"],        # c0 changes
        ["+70a", "+71a", "+72"],       # c1 changes
        ["+70b", "+71a", "+72a"],      # c0 + c2 change
        ["+70b", "+71a", "+72a"],      # no change
    ]
    for i, phones in enumerate(phone_plan):
        date = f"{i + 1:02d}012024"
        batch = ddmmyyyy_to_date(date)
        write_clients(phones)
        write_batch(date, [
            f"tx{i}a;2024-01-{i + 1:02d} 10:00:00;card0;PAY;10,00;SUCCESS;t1",
            f"tx{i}b;2024-01-{i + 1:02d} 10:30:00;card0;PAY;20,00;SUCCESS;t2",
        ])
        for name, (keys, attrs) in DIMENSIONS.items():
            stg = (job._stage_terminals(date) if name == "terminals"
                   else job._stage_source_table(name))
            table = f"dim_{name}_hist"
            prev = ref.read(table) if ref.exists(table) else None
            ref.overwrite(table, scd2_apply(prev, stg, keys, attrs, batch))
        report = job.run_batch(date)

        fact = job.wh.read("fact_transactions")
        expected = assemble_report(
            fact.filter(F.col("batch_dt") <= batch).drop("batch_dt"),
            ref.read("dim_cards_hist"), ref.read("dim_accounts_hist"),
            ref.read("dim_clients_hist"), ref.read("dim_terminals_hist"),
            job.wh.read("fact_passport_blacklist"),
            report_dt=batch,
        )
        ref.append_partitioned("rep_fraud", expected, "report_dt")
        for frame in expected._gate_persists:
            frame.unpersist()
    return job, ref, report, date


def test_five_batch_daily_job_matches_snapshot_operator(five_batch_jobs):
    """Dim histories and fraud reports of the daily job must agree row
    for row with the snapshot operator's fold when attribute tuples
    don't repeat across versions."""
    job, ref, _, _ = five_batch_jobs

    assert _hist_rows(ref.read("dim_clients_hist")) == _hist_rows(
        job.read_dim_history("clients")
    )
    # every dim agrees, not just clients
    for name in DIMENSIONS:
        s_rows = sorted(map(tuple, ref.read(f"dim_{name}_hist").collect()))
        p_rows = sorted(map(tuple, job.read_dim_history(name).collect()))
        assert s_rows == p_rows, name

    rep_s = sorted(map(tuple, ref.read("rep_fraud").collect()))
    rep_p = sorted(map(tuple, job.wh.read("rep_fraud").collect()))
    assert rep_s == rep_p
    # c0's diff-city pairs fire every day
    assert len(rep_s) > 0


def test_current_only_report_matches_full_history_report(five_batch_jobs):
    """The daily job's report reads only the current dimension tables.
    Its last batch must equal assemble_report over the full
    current∪closed history on the same inputs. (Equality with the
    snapshot operator's reports, a full-history read, is
    test_five_batch_daily_job_matches_snapshot_operator's.)"""
    job, _, report, date = five_batch_jobs
    # clients have closed versions, so dropping them from the read is
    # load-bearing
    assert job.wh.exists("dim_clients_closed")

    dims = {name: job.read_dim_history(name) for name in DIMENSIONS}
    batch = ddmmyyyy_to_date(date)
    full = assemble_report(
        job.wh.read("fact_transactions").drop("batch_dt"),
        dims["cards"], dims["accounts"], dims["clients"], dims["terminals"],
        job.wh.read("fact_passport_blacklist"),
        report_dt=batch,
    )
    try:
        expected = sorted(map(tuple, full.collect()))
    finally:
        for frame in full._gate_persists:
            frame.unpersist()
    assert expected
    assert sorted(map(tuple, report.collect())) == expected
    written = job.wh.read("rep_fraud").filter(F.col("report_dt") == batch)
    assert sorted(map(tuple, written.select(*full.columns).collect())) == expected


def test_daily_report_plan_reads_no_closed_table_and_hints_no_rule_hits(five_batch_jobs):
    """The report run_batch returns scans no dim_*_closed table, and none of its broadcast hints sits on a
    fact-scaled side: the hinted sides are the dimension and blacklist
    reads, never the rule-hit join-backs, whose hit sets derive from
    the fact and so carry its trans_id."""
    job, _, report, _ = five_batch_jobs
    assert job.wh.exists("dim_clients_closed")
    assert [f for f in report.inputFiles() if "_closed" in f] == []
    assert any("dim_clients_current" in f for f in report.inputFiles())

    lines = report._jdf.queryExecution().optimizedPlan().toString().splitlines()
    assert not any("_closed" in line for line in lines)
    n_hints = 0
    for i, line in enumerate(lines):
        n = _node(line)
        if not n.startswith("Join"):
            continue
        kids = _children(lines, i)
        sides = []
        if "leftHint=(strategy=broadcast)" in n and kids:
            sides.append(kids[0])
        if "rightHint=(strategy=broadcast)" in n and len(kids) > 1:
            sides.append(kids[1])
        for k in sides:
            n_hints += 1
            sub = [_node(l) for l in _subtree(lines, k)]
            assert not any(s.startswith("InMemoryRelation") for s in sub), sub[0]
            leaves = [s for s in sub if s.startswith("Relation ")]
            assert leaves, sub[0]
            for leaf in leaves:
                assert "trans_id#" not in leaf, leaf
    assert n_hints > 0  # the dim/blacklist hints are still there


def test_tuple_repeat_divergence_documented(spark, tmp_path):
    """The ONE case the two operators legitimately differ on (documented
    in operators/scd2_partitioned.py): a key whose attribute tuple repeats
    an older version's tuple. The snapshot operator reproduces the
    reference's tuple-IN close-out (main.py:144-145), which re-stamps
    the coinciding HISTORICAL row too; the partitioned variant closes
    by key — the intended SCD2 semantics — leaving history immutable."""
    wh = Warehouse(spark, str(tmp_path))
    part = PartitionedScd2(wh, "dim", ["client_id"], ["phone"])

    # A -> B -> A -> C : closing the day-3 current row (tuple (c1, A))
    # also matches the day-1 historical row (c1, A)
    snap = None
    for i, phone in enumerate(["A", "B", "A", "C"]):
        b = F.lit(dt.date(2024, 1, 1 + i))
        stg = spark.createDataFrame([("c1", phone)], "client_id string, phone string")
        part.apply_batch(stg, b)
        snap = scd2_apply(snap, stg, ["client_id"], ["phone"], b)

    part_hist = _hist_rows(part.history())
    snap_hist = _hist_rows(snap)

    # partitioned: clean 4-version history, each closed at its true date
    assert part_hist == [
        ("c1", "A", "2024-01-01", "2024-01-02", True),
        ("c1", "A", "2024-01-03", "2024-01-04", True),
        ("c1", "B", "2024-01-02", "2024-01-03", True),
        ("c1", "C", "2024-01-04", "3000-01-01", False),
    ]
    # snapshot (reference quirk): the day-1 (c1, A) row was re-stamped
    # by day 4's tuple-IN close-out, so its effective_to moved to 01-04
    assert snap_hist == [
        ("c1", "A", "2024-01-01", "2024-01-04", True),
        ("c1", "A", "2024-01-03", "2024-01-04", True),
        ("c1", "B", "2024-01-02", "2024-01-03", True),
        ("c1", "C", "2024-01-04", "3000-01-01", False),
    ]
    assert part_hist != snap_hist
