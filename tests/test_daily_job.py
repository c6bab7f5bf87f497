"""End-to-end daily-batch test: two dated batches through staging,
SCD2, facts and the five-rule report — the reference's whole main loop
on crafted fixtures with known fraud labels."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from etl_process_for_fraud_transactions_spark.jobs.daily import DailyFraudJob
from etl_process_for_fraud_transactions_spark.operators.scd2_partitioned import (
    PartitionedScd2,
)
from etl_process_for_fraud_transactions_spark.sources.warehouse import Warehouse


@pytest.fixture()
def fixture_dirs(spark, tmp_path):
    input_dir = tmp_path / "incoming"
    source_dir = tmp_path / "sourcedb"
    wh_dir = tmp_path / "wh"
    input_dir.mkdir()

    # source DB tables (note source-side names: patronymic, account)
    spark.createDataFrame(
        [
            ("c1", "Ivanov", "Ivan", "I", dt.date(1980, 1, 1), "P100", dt.date(2030, 1, 1), "+71"),
            ("c2", "Petrov", "Petr", "P", dt.date(1981, 1, 1), "P200", dt.date(2020, 1, 1), "+72"),  # expired passport
            ("c3", "Blk", "Boris", "B", dt.date(1982, 1, 1), "P300", dt.date(2030, 1, 1), "+73"),  # blacklisted
        ],
        "client_id string, last_name string, first_name string, patronymic string, "
        "date_of_birth date, passport_num string, passport_valid_to date, phone string",
    ).write.parquet(str(source_dir / "clients.parquet"))
    spark.createDataFrame(
        [
            ("a1", dt.date(2030, 1, 1), "c1"),
            ("a2", dt.date(2030, 1, 1), "c2"),
            ("a3", dt.date(2030, 1, 1), "c3"),
        ],
        "account string, valid_to date, client string",
    ).write.parquet(str(source_dir / "accounts.parquet"))
    spark.createDataFrame(
        [("card1", "a1"), ("card2", "a2"), ("card3", "a3")],
        "card_num string, account string",
    ).write.parquet(str(source_dir / "cards.parquet"))

    def write_batch(date: str, trans_rows: list[str], blacklist_rows: list[str]):
        (input_dir / f"transactions_{date}.txt").write_text(
            "transaction_id;transaction_date;card_num;oper_type;amount;oper_result;terminal\n"
            + "\n".join(trans_rows)
            + "\n"
        )
        (input_dir / f"terminals_{date}.csv").write_text(
            "terminal_id,terminal_type,terminal_city,terminal_address\n"
            "t1,ATM,Moscow,addr1\n"
            "t2,POS,Kazan,addr2\n"
        )
        (input_dir / f"passport_blacklist_{date}.csv").write_text(
            "passport,date\n" + "\n".join(blacklist_rows) + ("\n" if blacklist_rows else "")
        )

    # batch 1: c2 expired-passport txn; c1 diff-city pair within 1h
    write_batch(
        "01012024",
        [
            "tx1;2024-01-01 10:00:00;card2;PAY;100,50;SUCCESS;t1",
            "tx2;2024-01-01 11:00:00;card1;PAY;50,00;SUCCESS;t1",
            "tx3;2024-01-01 11:30:00;card1;PAY;60,00;SUCCESS;t2",
        ],
        ["P300,2023-12-01"],
    )
    return str(input_dir), str(source_dir), str(wh_dir), write_batch


def test_two_batch_pipeline(spark, fixture_dirs):
    input_dir, source_dir, wh_dir, write_batch = fixture_dirs
    job = DailyFraudJob(spark, input_dir, source_dir, wh_dir)
    dates = job.run()
    assert dates == ["01012024"]

    rep = job.wh.read("rep_fraud")
    by_type = {
        (r.passport, r.event_type) for r in rep.collect()
    }
    # c2: expired passport fires on tx1; c1: diff-city on tx2/tx3
    assert ("P200", "EXPIRED_PASSPORT") in by_type
    assert ("P100", "DIFF_CITY_SHORT_TIME") in by_type
    # files archived after consumption
    assert os.path.exists(os.path.join(input_dir, "archive"))

    # batch 2: c3 transacts on a blacklisted passport; blacklist file empty
    write_batch(
        "02012024",
        ["tx4;2024-01-02 09:00:00;card3;PAY;10,00;SUCCESS;t1"],
        [],
    )
    job.run()

    hist = job.read_dim_history("clients")
    # no attribute changed between batches -> still exactly one version per client
    assert hist.count() == 3

    rep2 = job.wh.read("rep_fraud")
    rows2 = {(r.passport, r.event_type) for r in rep2.collect()}
    assert ("P300", "BLOCKED_PASSPORT") in rows2

    # report partitions: one per report_dt; day-1 rows re-derived on day 2
    # (full-fact rescan, as the reference does) land in day-2's partition
    fact = job.wh.read("fact_transactions")
    assert fact.count() == 4


def test_failing_write_in_the_wave_keeps_inputs_and_skips_report(
    spark, fixture_dirs, monkeypatch
):
    """The SCD2 x4 and fact writes run as one concurrent wave; one
    failing write must fail the batch after the wave joins — the inputs
    stay in the inbox (no archival) and no report partition is written,
    so re-running the date once the fault is gone completes it."""
    input_dir, source_dir, wh_dir, _ = fixture_dirs
    apply_batch = PartitionedScd2.apply_batch

    def failing_cards(self, stg, batch_date):
        if self.table == "dim_cards":
            raise RuntimeError("injected dim_cards failure")
        return apply_batch(self, stg, batch_date)

    monkeypatch.setattr(PartitionedScd2, "apply_batch", failing_cards)
    inbox = sorted(os.listdir(input_dir))
    job = DailyFraudJob(spark, input_dir, source_dir, wh_dir)
    with pytest.raises(RuntimeError, match="injected dim_cards failure"):
        job.run_batch("01012024")

    assert sorted(os.listdir(input_dir)) == inbox
    assert not os.path.exists(os.path.join(input_dir, "archive"))
    assert not os.path.exists(
        os.path.join(job.wh.path("rep_fraud"), "report_dt=2024-01-01")
    )

    monkeypatch.undo()
    job.run_batch("01012024")
    rep = {(r.passport, r.event_type) for r in job.wh.read("rep_fraud").collect()}
    assert ("P200", "EXPIRED_PASSPORT") in rep
    assert ("P100", "DIFF_CITY_SHORT_TIME") in rep
    assert os.listdir(input_dir) == ["archive"]
    assert job.wh.read("fact_passport_blacklist").count() == 1


def test_incremental_report_only_batch_rows(spark, fixture_dirs):
    input_dir, source_dir, wh_dir, write_batch = fixture_dirs
    job = DailyFraudJob(
        spark, input_dir, source_dir, wh_dir + "_inc", incremental_report=True
    )
    job.run()
    write_batch(
        "02012024",
        ["tx4;2024-01-02 09:00:00;card2;PAY;10,00;SUCCESS;t1"],
        [],
    )
    job.run()
    rep = job.wh.read("rep_fraud")
    # day-2 partition holds ONLY day-2's transaction (tx4: expired
    # passport for c2), not re-derived day-1 rows
    day2 = rep.filter("report_dt = date'2024-01-02'").collect()
    assert {str(r.event_dt) for r in day2} == {"2024-01-02 09:00:00"}
    day1 = rep.filter("report_dt = date'2024-01-01'")
    assert day1.count() > 0  # day-1 partition intact


def _change_phone(spark, source_dir, client_id, phone):
    """Rewrite the source clients table with one client's phone changed."""
    import shutil

    import pyspark.sql.functions as F

    path = os.path.join(source_dir, "clients.parquet")
    mutated = spark.read.parquet(path).withColumn(
        "phone", F.when(F.col("client_id") == client_id, phone).otherwise(F.col("phone"))
    )
    tmp = path + "_tmp"
    mutated.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    shutil.move(tmp, path)


def _c1_versions(job):
    return sorted(
        (r.phone, str(r.effective_from), str(r.effective_to), r.deleted_flg)
        for r in job.read_dim_history("clients").filter("client_id = 'c1'").collect()
    )


def test_scd2_change_across_batches(spark, fixture_dirs):
    input_dir, source_dir, wh_dir, write_batch = fixture_dirs
    job = DailyFraudJob(spark, input_dir, source_dir, wh_dir)
    job.run()

    # mutate source: c1 changes phone
    _change_phone(spark, source_dir, "c1", "+71NEW")
    write_batch("02012024", ["tx9;2024-01-02 09:00:00;card1;PAY;5,00;SUCCESS;t1"], [])
    job.run()

    assert _c1_versions(job) == [
        ("+71", "2024-01-01", "2024-01-02", True),
        ("+71NEW", "2024-01-02", "3000-01-01", False),
    ]


def test_rerun_after_current_swap_fails_keeps_one_closed_version(
    spark, fixture_dirs, monkeypatch
):
    """A dim's closing rows are written before its current table is
    swapped. If the swap fails, `_current` keeps the old rows and a
    re-run of the date computes the same closing rows again; they must
    not be appended twice."""
    input_dir, source_dir, wh_dir, write_batch = fixture_dirs
    job = DailyFraudJob(spark, input_dir, source_dir, wh_dir)
    job.run()
    _change_phone(spark, source_dir, "c1", "+71NEW")
    write_batch("02012024", ["tx9;2024-01-02 09:00:00;card1;PAY;5,00;SUCCESS;t1"], [])

    overwrite = Warehouse.overwrite
    failed = []

    def failing_swap(self, table, df):
        if table == "dim_clients_current" and not failed:
            failed.append(table)
            raise RuntimeError("injected dim_clients_current swap failure")
        return overwrite(self, table, df)

    monkeypatch.setattr(Warehouse, "overwrite", failing_swap)
    with pytest.raises(RuntimeError, match="injected dim_clients_current"):
        job.run_batch("02012024")
    # the closing row landed; the current table still holds +71
    assert job.wh.exists("dim_clients_closed")
    cur = job.wh.read("dim_clients_current").filter("client_id = 'c1'")
    assert [r.phone for r in cur.collect()] == ["+71"]

    assert job.run() == ["02012024"]
    rows = [tuple(r) for r in job.read_dim_history("clients").collect()]
    assert len(rows) == len(set(rows)) == 4
    assert _c1_versions(job) == [
        ("+71", "2024-01-01", "2024-01-02", True),
        ("+71NEW", "2024-01-02", "3000-01-01", False),
    ]


def test_rerun_after_later_wave_failure_keeps_every_closed_version(
    spark, fixture_dirs, monkeypatch
):
    """The clients dim completes its batch (closed rows and swap), but
    a fact write in the same wave fails, so the date is re-run — after
    another client changed in the source. The re-run closes that
    client's old version next to the one the first attempt closed; no
    closed version may be lost or written twice."""
    input_dir, source_dir, wh_dir, write_batch = fixture_dirs
    job = DailyFraudJob(spark, input_dir, source_dir, wh_dir)
    job.run()
    _change_phone(spark, source_dir, "c1", "+71NEW")
    write_batch("02012024", ["tx9;2024-01-02 09:00:00;card1;PAY;5,00;SUCCESS;t1"], [])

    append_partitioned = Warehouse.append_partitioned
    failed = []

    def failing_fact(self, table, df, partition_col):
        if table == "fact_transactions" and not failed:
            failed.append(table)
            raise RuntimeError("injected fact_transactions failure")
        return append_partitioned(self, table, df, partition_col)

    monkeypatch.setattr(Warehouse, "append_partitioned", failing_fact)
    with pytest.raises(RuntimeError, match="injected fact_transactions"):
        job.run_batch("02012024")
    cur = job.wh.read("dim_clients_current").filter("client_id = 'c1'")
    assert [r.phone for r in cur.collect()] == ["+71NEW"]

    _change_phone(spark, source_dir, "c2", "+72NEW")
    assert job.run() == ["02012024"]
    history = job.read_dim_history("clients")
    rows = [tuple(r) for r in history.collect()]
    assert len(rows) == len(set(rows)) == 5
    assert sorted(
        (r.client_id, r.phone, str(r.effective_from), str(r.effective_to), r.deleted_flg)
        for r in history.filter("client_id IN ('c1', 'c2')").collect()
    ) == [
        ("c1", "+71", "2024-01-01", "2024-01-02", True),
        ("c1", "+71NEW", "2024-01-02", "3000-01-01", False),
        ("c2", "+72", "2024-01-01", "2024-01-02", True),
        ("c2", "+72NEW", "2024-01-02", "3000-01-01", False),
    ]
