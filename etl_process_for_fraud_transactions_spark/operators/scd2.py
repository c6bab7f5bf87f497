"""SCD2 (slowly-changing-dimension type 2) history maintenance.

Re-expresses the reference's repeated PL/pgSQL block (main.py:121-379;
structure per SURVEY.md §2.4) as a pure DataFrame snapshot rewrite:

1. bootstrap      — dim empty: all staging rows become current
                    (effective_from=batch, effective_to=3000-01-01,
                    deleted_flg=false)            [main.py:125-140]
2. close-out      — rows whose full attribute tuple appears in
                    (current ⋈ staging with any tracked attr changed)
                    get effective_to=batch, deleted_flg=true
                    [main.py:142-160; tuple-IN == left-semi join]
3. insert-new     — staging rows that are new keys OR changed get a
                    fresh current version        [main.py:162-191]

Semantics preserved exactly, including the reference's quirks:
- the change predicate uses null-unsafe `<>` (a NULL attribute never
  counts as changed) — functions.any_attr_differs;
- the close-out matches on the FULL tuple, not just the key, so a
  historical row whose tuple coincides with a closing current row is
  also re-stamped (tuple-IN semantics, main.py:144-145);
- superseded versions get deleted_flg=true ("not current"), which is
  what downstream reads filter on (main.py:423-426).

The change join (`changed_rows`), the close-out projection
(`close_out`) and the new-version leg (`new_versions`) are written
once here; operators.scd2_partitioned builds from the same three and
differs only in its close-out rule (by key, not by tuple).

Scale design: the dim is re-derived as `untouched ∪ closed ∪ fresh` and
snapshot-swapped (sources.warehouse.atomic_overwrite). All three legs
are hash joins on the business key (or the attribute tuple); with dims
orders of magnitude smaller than facts these broadcast, and even at
dimension cardinalities of 1e9 they are single-shuffle equi-joins.
There is no UPDATE-in-place, so the operation parallelizes trivially
and is idempotent per batch date.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.core import any_attr_differs, open_ended_date


def _key_match(key_cols: Sequence[str]) -> list[Column]:
    return [F.col(f"d.{k}") == F.col(f"s.{k}") for k in key_cols]


def _open_rows(d: DataFrame) -> DataFrame:
    return d.filter(F.col("d.effective_to") == open_ended_date())


def changed_rows(
    cur: DataFrame,
    stg: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    cols: Sequence[str],
) -> DataFrame:
    """The distinct `cols` of the current rows (aliased `d`) whose key
    joins a staging row (aliased `s`) with a tracked attribute changed
    under the null-unsafe `<>` (main.py:144-157). distinct mirrors
    IN-subquery set semantics."""
    return (
        cur.join(stg, on=_key_match(key_cols), how="inner")
        .filter(any_attr_differs("d", "s", attr_cols))
        .select(*[F.col(f"d.{c}").alias(c) for c in cols])
        .distinct()
    )


def close_out(rows: DataFrame, all_cols: Sequence[str], batch_date: Column) -> DataFrame:
    """The closed version of `rows`: effective_to = batch,
    deleted_flg = true (main.py:146-150)."""
    return rows.select(
        *all_cols,
        F.col("effective_from"),
        batch_date.alias("effective_to"),
        F.lit(True).alias("deleted_flg"),
    )


def new_versions(
    d: DataFrame,
    stg: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    batch_date: Column,
) -> DataFrame:
    """Staging rows (aliased `s`) with no open row in `d` for their key,
    or whose open row changed: each becomes a fresh current version
    (main.py:162-191)."""
    all_cols = [*key_cols, *attr_cols]
    return (
        stg.join(_open_rows(d), on=_key_match(key_cols), how="left")
        .filter(F.col(f"d.{key_cols[0]}").isNull() | any_attr_differs("d", "s", attr_cols))
        .select(
            *[F.col(f"s.{c}").alias(c) for c in all_cols],
            batch_date.alias("effective_from"),
            open_ended_date().alias("effective_to"),
            F.lit(False).alias("deleted_flg"),
        )
    )


def scd2_bootstrap(stg: DataFrame, batch_date: Column) -> DataFrame:
    """Initial load of an empty dimension (main.py:125-140)."""
    return stg.select(
        "*",
        batch_date.alias("effective_from"),
        open_ended_date().alias("effective_to"),
        F.lit(False).alias("deleted_flg"),
    )


def scd2_apply(
    dim: DataFrame | None,
    stg: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    batch_date: Column,
) -> DataFrame:
    """One batch of SCD2 maintenance; returns the full new history.

    `dim` is the existing history (or None/empty for bootstrap); `stg`
    is this batch's staging snapshot. Both must carry exactly
    key_cols + attr_cols (+ SCD2 cols on dim).
    """
    if dim is None or dim.isEmpty():
        return scd2_bootstrap(stg, batch_date)

    all_cols = [*key_cols, *attr_cols]
    d = dim.alias("d")
    s = stg.alias("s")

    # tuple-IN close-out: every row whose full tuple is a changed
    # current tuple closes
    close_tuples = changed_rows(_open_rows(d), s, key_cols, attr_cols, all_cols)
    closing = close_out(dim.join(close_tuples, on=all_cols, how="left_semi"), all_cols, batch_date)
    untouched = dim.join(close_tuples, on=all_cols, how="left_anti").select(
        *all_cols, "effective_from", "effective_to", "deleted_flg"
    )
    fresh = new_versions(d, s, key_cols, attr_cols, batch_date)

    return untouched.unionByName(closing).unionByName(fresh)


def scd2_current(dim: DataFrame) -> DataFrame:
    """Current (not superseded) rows, as downstream queries read them
    (main.py:423-426). Applied before a join, the residual pushes down
    to the dimension scan."""
    return dim.filter(F.col("deleted_flg") == F.lit(False))
