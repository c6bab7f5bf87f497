"""Partitioned SCD2 maintenance: O(current + changes) per batch
instead of O(full history) — the layout the daily job stores its
dimensions in.

operators.scd2 rewrites the whole history table per batch — simple and
correct, but at 1e9-row dimensions with years of versions the rewrite
cost is dominated by rows that can never change again. This layout
exploits the SCD2 state machine: a CLOSED row (deleted_flg=true,
effective_to != open sentinel) is immutable*, so each dimension is two
tables:

- `<table>_closed`: partitioned by `effective_to` — each batch
  appends just the versions it closed, into its own date partition;
- `<table>_current`: rewritten by temp-dir + swap — bounded by the
  live key count, not by history depth.

The closed versions are appended before the current table is swapped,
and only for keys the batch's partition does not hold yet. That
partition exists only on a re-run, and only then is it read; the
check itself is a driver-side directory lookup. So a re-run of a date
keeps every version an earlier attempt closed and adds no duplicate:
after a failed swap (`_current` still on the old rows) the same
closing rows are skipped, and after a later failure in the batch a
key that changed in between is closed next to them. A key closed
again by the re-run keeps its first closed version; its interim
version, open only on the batch date, is replaced by the re-run's.

(*) The reference's tuple-IN close-out (main.py:144-145) can, in a
pathological case, re-stamp a historical row whose full attribute
tuple coincides with a closing current row. The snapshot operator
reproduces that quirk bit-for-bit; this layout deliberately closes by
key (the intended semantics, and what every SCD2 implementation does)
— equivalent whenever attribute tuples don't repeat across versions
of the same key, which the golden and property tests assert for
realistic histories. The change join, the close-out projection and the
new-version leg are operators.scd2's.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame

from ..functions.core import constant_value
from ..sources.warehouse import Warehouse
from .scd2 import changed_rows, close_out, new_versions, scd2_bootstrap


class PartitionedScd2:
    """SCD2 over a warehouse table stored as <table>_current (rewritten
    per batch) and <table>_closed (one partition per closing date)."""

    def __init__(self, wh: Warehouse, table: str, key_cols: Sequence[str], attr_cols: Sequence[str]):
        self.wh = wh
        self.table = table
        self.keys = list(key_cols)
        self.attrs = list(attr_cols)

    @property
    def _cur(self) -> str:
        return f"{self.table}_current"

    @property
    def _closed(self) -> str:
        return f"{self.table}_closed"

    def apply_batch(self, stg: DataFrame, batch_date: Column) -> None:
        if not self.wh.exists(self._cur):
            self.wh.overwrite(self._cur, scd2_bootstrap(stg, batch_date))
            return
        cur = self.wh.read(self._cur)
        d, s = cur.alias("d"), stg.alias("s")

        all_cols = [*self.keys, *self.attrs]
        changed_keys = changed_rows(d, s, self.keys, self.attrs, self.keys)
        # newly closed versions -> this batch's closed partition, minus
        # keys an earlier attempt at the same date already closed there
        closing = close_out(cur.join(changed_keys, self.keys, "left_semi"), all_cols, batch_date)
        if self.wh.exists(self._closed):
            day = constant_value(self.wh.spark, batch_date)
            done = self.wh.read_partition(self._closed, "effective_to", day)
            if done is not None:
                closing = closing.join(done.select(*self.keys), self.keys, "left_anti")
        self.wh.append(self._closed, closing, ["effective_to"])

        # surviving current rows + fresh versions -> rewrite current
        untouched = cur.join(changed_keys, self.keys, "left_anti")
        fresh = new_versions(d, s, self.keys, self.attrs, batch_date)
        self.wh.overwrite(self._cur, untouched.unionByName(fresh))

    def history(self) -> DataFrame:
        """Full history view (current ∪ closed) — same schema as the
        snapshot operator's output."""
        cur = self.wh.read(self._cur)
        if self.wh.exists(self._closed):
            # batches that closed nothing append no file to infer from
            return cur.unionByName(self.wh.read(self._closed, cur.schema))
        return cur

    def current(self) -> DataFrame:
        return self.wh.read(self._cur)
