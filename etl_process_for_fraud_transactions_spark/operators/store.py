"""The persisted-store lifecycle shared by the four index families.

Bm25Index, IvfIndex, PqIndex and NearDupIndex each persist a few
parquet tables, a one-row `<name>_meta` marker and — versioned stores
— a one-row `<name>_version` pointer. Everything about that lifecycle
that is not the family's own data work lives here, once; a family
holds one `IndexStore` (composition) and describes itself to it as
DATA: its table roles, the meta and pointer schemas, the partition
columns each table collapses on, and the pointer payload it commits.

- Naming. `<name>_<role>` unversioned, `<name>_<role>_v<N>` versioned;
  deletion tombstones are one more role (`<name>_tombstones[_v<N>]`).
  Tombstones are per-version: a rebuild's fresh version starts with no
  tombstones (the new corpus is the caller's statement of record), and
  a purging compaction commits "tombstones applied" by simply not
  creating the table for the new version.
- The head. `head()` reads the committed state in ONE one-row
  parquet read (no Spark job): the pointer row of a versioned store
  — version, `compacted_through` and the family payload (Bm25's
  id_type, Ivf's n_cells, Pq's layout) — or the meta row of an
  unversioned one. Every
  decision a call makes (replay skip, tables read and written, layout
  interpretation) derives from that single row, so a concurrent flip
  can never pair one version's tables with another version's metadata
  or watermark.
- Pruning. `prune_versions(keep)` removes every table of the versions
  older than the newest `keep`.
- The delete gate. `delete_gate` appends only NEW tombstones and
  reports what it appended — see its docstring for the job shape.
- Compaction. `compact` enumerates epoch stamps, selects the merge set
  and the monotone watermark (`epochs.merge_selection`), collapses the
  selected epochs per table, purges tombstones physically on a full
  merge, and commits with the crash ordering of `operators/epochs.py`.
- The guarded commit. Every versioned maintenance op (build, retrain,
  compact) goes through one `Flip`: snapshot the current version's
  file inventory, refuse before the first write into shared target
  paths if a competing maintainer already flipped, re-check the
  inventory and the pointer immediately before the flip, then flip.
  See `sources/warehouse.py::guard_pointer_unmoved` and
  `guard_concurrent_writes` for the adversaries each check covers.

All filesystem access goes through `Warehouse` and the `epochs`
helpers (the r17 FS-boundary pin in tests/test_plan_invariants.py).
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..sources.warehouse import (
    _ddl_arrow_schema,
    atomic_overwrite,
    guard_concurrent_writes,
    guard_pointer_unmoved,
    table_inventory,
)
from . import epochs
from .tombstones import anti_join_tombstones

#: hive partition column carrying the epoch stamp of partitioned stores
BATCH_COL = "__batch"


class Head(NamedTuple):
    """A store's committed state from one row read: `version` (None
    for an unversioned store) and `row` — the version-pointer row of a
    versioned store, the meta row (or {} before a build) otherwise."""

    version: int | None
    row: dict

    @property
    def watermark(self) -> int | None:
        """The replay watermark; None = never compacted (rows written
        before compaction existed simply lack the column)."""
        wm = self.row.get("compacted_through")
        return None if wm is None else int(wm)


def _row_tuple(ddl: str, row: dict) -> tuple:
    return tuple(row.get(c) for c in _ddl_arrow_schema(ddl).names)


class IndexStore:
    """One index family's persisted store (see the module docstring).

    `roles` are the family's table roles in a fixed order; `meta_ddl`
    and `pointer_ddl` the one-row schemas (every write goes through
    them, so a positional row can never drift from its schema);
    `meta_defaults` the values metas written before a column existed
    were built under. `purge_in_place`: an UNVERSIONED store applies
    tombstones physically at a full compaction — sound only when no
    stored statistic subtracts them, so that a crash between the purged
    swap and the tombstone removal filters rows that no longer exist
    (a no-op) and re-running converges; a versioned store always purges
    at a full merge, atomically inside the pointer flip."""

    def __init__(
        self,
        wh,
        kind: str,
        name: str,
        roles,
        id_col: str,
        *,
        versioned: bool = False,
        meta_ddl: str,
        pointer_ddl: str | None = None,
        meta_defaults: dict | None = None,
        purge_in_place: bool = False,
    ):
        self.wh = wh
        self.kind = kind
        self.name = name
        self.roles = tuple(roles)
        self.id_col = id_col
        self.versioned = versioned
        self.meta_ddl = meta_ddl
        self.pointer_ddl = pointer_ddl
        self.meta_defaults = dict(meta_defaults or {})
        self.purge_in_place = purge_in_place

    @property
    def label(self) -> str:
        return f"{self.kind} '{self.name}'"

    def op(self, verb: str) -> str:
        return f"{self.kind}('{self.name}').{verb}"

    @property
    def meta_table(self) -> str:
        return f"{self.name}_meta"

    @property
    def pointer_table(self) -> str:
        return f"{self.name}_version"

    # --- naming ---------------------------------------------------------

    def table(self, role: str, version: int | None = None) -> str:
        """A role's table name; versioned stores resolve the current
        version (one pointer read) unless `version` pins one."""
        if not self.versioned:
            return f"{self.name}_{role}"
        v = self.version() if version is None else version
        return f"{self.name}_{role}_v{v}"

    def tables(self, version: int | None = None) -> dict[str, str]:
        """{role: table} from ONE pointer resolution, so a caller using
        several tables gets a jointly consistent set."""
        if self.versioned and version is None:
            version = self.version()
        return {r: self.table(r, version) for r in self.roles}

    def tombstones(self, version: int | None = None) -> str:
        return self.table("tombstones", version)

    def _version_tables(self, version: int | None) -> tuple[str, ...]:
        return (*self.tables(version).values(), self.tombstones(version))

    # --- meta and pointer rows ------------------------------------------

    def meta(self) -> dict | None:
        """The meta row (a pyarrow read, no Spark job) with
        `meta_defaults` filled in, or None when no build completed."""
        if not self.wh.exists(self.meta_table):
            return None
        return {**self.meta_defaults, **self.wh.read_rows(self.meta_table)[0]}

    def write_meta(self, row: dict) -> None:
        self.wh.overwrite_rows(
            self.meta_table, [_row_tuple(self.meta_ddl, row)], self.meta_ddl
        )

    def head(self) -> Head:
        if not self.versioned:
            return Head(None, self.meta() or {})
        if not self.wh.exists(self.pointer_table):
            raise ValueError(
                f"{self.label} is versioned but has no version pointer — "
                "run build() (it commits v1 and writes the pointer) or "
                "fix the warehouse root"
            )
        row = self.wh.read_rows(self.pointer_table)[0]
        return Head(int(row["version"]), row)

    def version(self) -> int | None:
        """The current version (one pointer read); None for an
        unversioned store, without reading anything."""
        return self.head().version if self.versioned else None

    def version_or_none(self) -> int | None:
        """Current pointer version, or None when no pointer exists —
        the maintenance-race probe of `Flip`."""
        if not self.wh.exists(self.pointer_table):
            return None
        return self.version()

    def watermark(self) -> int | None:
        return self.head().watermark

    def write_pointer(self, version: int, row: dict) -> None:
        self.wh.overwrite_rows(
            self.pointer_table,
            [_row_tuple(self.pointer_ddl, {**row, "version": int(version)})],
            self.pointer_ddl,
        )

    # --- lifecycle ------------------------------------------------------

    def prune_versions(self, keep: int = 1) -> list[str]:
        """Delete old versions' tables (the versioned-rebuild garbage
        collector). `keep` retains the most recent `keep` versions
        (default 1 = current only); pass keep=2 while lagging readers
        may still hold plans resolved against the previous version — a
        lazy DataFrame pins its resolved paths at plan time, so only
        prune a version after queries planned against it drain.
        Returns the removed table names; unversioned stores remove
        nothing."""
        if not self.versioned:
            return []
        if keep < 1:
            raise ValueError("prune_versions keep must be >= 1")
        removed = []
        for v in range(1, self.version() - keep + 1):
            for t in self._version_tables(v):
                if self.wh.remove_table(t):
                    removed.append(t)
        return removed

    def delete_gate(
        self, tomb_t: str, candidates: DataFrame, **metrics: Column
    ) -> dict[str, int]:
        """Append the tombstone rows of `candidates` not already in
        `tomb_t`, and return `metrics` over what was appended (the
        first metric is the gate: zero appends nothing). Idempotent, so
        a repeated delete() never double-subtracts.

        The metrics ride the checkpoint materialization itself as
        observed metrics (CollectMetrics is computed inside the action
        with exactly-once delivery, unlike accumulators): there is no
        separate count/agg job, so a delete is two jobs (checkpoint,
        conditional append) and a no-op delete is one. The tombstone
        side of the anti-join is hint-free — a mass delete degrades to
        a shuffle join instead of a forced broadcast."""
        if self.wh.exists(tomb_t):
            candidates = candidates.join(
                self.wh.read(tomb_t).select(self.id_col).distinct(),
                self.id_col,
                "left_anti",
            )
        obs = Observation()
        new = candidates.observe(
            obs, *(c.alias(k) for k, c in metrics.items())
        ).localCheckpoint()
        row = obs.get
        got = {k: int(row[k]) for k in metrics}
        if next(iter(got.values())):
            self.wh.append(tomb_t, new)
        return got

    def delete_ids(
        self, ids: DataFrame, role: str, version: int | None = None
    ) -> dict[str, int]:
        """The id-keyed delete (every family but Bm25Index, whose
        tombstones carry per-occurrence statistics): tombstone each id
        of `ids` present in the `role` table. Returns {"deleted_ids":
        n}, the ids actually tombstoned by this call."""
        data_t = self.table(role, version)
        if not self.wh.exists(data_t):
            # day-zero store: nothing indexed, nothing to tombstone
            return {"deleted_ids": 0}
        present = (
            self.wh.read(data_t)
            .select(self.id_col)
            .join(
                # hint-free: a mass delete must not force-broadcast an
                # unbounded caller frame (the erase_keys convention)
                ids.select(self.id_col).distinct(),
                self.id_col,
                "left_semi",
            )
            .distinct()
        )
        return self.delete_gate(
            self.tombstones(version), present, deleted_ids=F.count(F.lit(1))
        )

    def begin(
        self, verb: str, head: Head | None = None, target: int | None = None
    ) -> "Flip":
        """Start a guarded maintenance op against `head` (default: a
        fresh pointer read) that commits version `target` (default: the
        next one). Unversioned stores get a Flip whose guards and
        commit are no-ops."""
        if not self.versioned:
            return Flip(self, verb, None, None)
        cur = head.version if head is not None else self.version_or_none()
        return Flip(self, verb, cur, target or (cur or 0) + 1)

    def compact(
        self,
        collapse: dict[str, list[str]],
        *,
        files_per_partition: int = 1,
        through: int | None = None,
        live: bool = False,
        partitioned: bool = True,
        head: Head | None = None,
        payload: dict | None = None,
        fold: dict[str, Callable] | None = None,
    ) -> dict:
        """Collapse the epoch partitions of the `collapse` tables
        ({role: partition columns}) into one `__compacted__` stamp —
        the semantics are stated in operators/epochs.py. A role in
        `fold` is rewritten by `fold[role](merged, kept, tombs)`
        instead (tombs is the tombstone frame when this compaction
        purges, else None); the other collapsed tables are anti-joined
        against the tombstones when purging. Versioned stores carry
        every other existing table into the new version as a byte copy,
        carry live tombstones unless purged, and commit the new pointer
        row `{**head.row, **payload, compacted_through}` in one flip.
        Unversioned stores persist the watermark in the meta BEFORE the
        data swap (either crash side is correct) and remove a purged
        tombstone table last.

        Returns {"stamps_merged", "compacted_through", "purged",
        "files_before", "files_after"}; the file counts cover the
        rewritten tables."""
        from ..session import run_concurrently

        if not partitioned:
            raise ValueError(
                f"{self.label}: compact() is epoch-partition maintenance "
                "— only a partitioned=True store accumulates __batch "
                "partitions"
            )
        if not self.wh.exists(self.meta_table):
            raise ValueError(
                f"{self.label}: no meta marker — compact() records the "
                "replay watermark against a completed build; run build()"
            )
        head = head or self.head()
        flip = self.begin("compact", head)
        src = self.tables(head.version)
        tomb_t = self.tombstones(head.version)
        tombs = self.wh.read(tomb_t) if self.wh.exists(tomb_t) else None
        # the stamp column is cast to string up front: partition-type
        # inference reads an all-numeric-epoch store's __batch as int,
        # and the restamp-to-__compacted__ union must not mix types.
        # Stamps come from the hive directory names (no Spark job).
        frames, stamps = {}, set()
        for role in collapse:
            if self.wh.exists(src[role]):
                frames[role] = self.wh.read(src[role]).withColumn(
                    BATCH_COL, F.col(BATCH_COL).cast("string")
                )
                stamps |= epochs.hive_partition_values(
                    self.wh.path(src[role]), BATCH_COL
                )
        merged, wm, full = epochs.merge_selection(
            stamps, through, live, head.watermark
        )
        purge = full and tombs is not None and (
            self.versioned or self.purge_in_place
        )
        files_before = sum(
            epochs.parquet_file_count(self.wh.path(src[r])) for r in frames
        )
        writes = []
        for role, df in frames.items():
            merge = df.filter(F.col(BATCH_COL).isin(merged))
            keep = df.filter(~F.col(BATCH_COL).isin(merged))
            if role in (fold or {}):
                out = fold[role](merge, keep, tombs if purge else None)
            else:
                out = epochs.collapse_epochs(
                    merge, BATCH_COL, collapse[role], self.id_col,
                    files_per_partition,
                ).unionByName(keep)
                if purge:
                    # size-gated like serving: a mass takedown followed
                    # by a full compaction degrades to a shuffle
                    # anti-join, never a forced unbounded broadcast
                    out = anti_join_tombstones(
                        out, self.wh, tomb_t, self.id_col
                    )
            writes.append((flip.tables[role], out, collapse[role]))
        if not self.versioned:
            self.write_meta({**head.row, "compacted_through": wm})
        flip.before_write()
        # the collapsed tables are independent of one another —
        # overlap their writes (guide §2.6)
        run_concurrently(*(
            lambda t=t, f=f, p=p: atomic_overwrite(
                f, self.wh.path(t), partition_by=p
            )
            for t, f, p in writes
        ))
        if self.versioned:
            for role, t in src.items():
                if role not in frames and self.wh.exists(t):
                    self.wh.copy_table(t, flip.tables[role])
            if tombs is not None and not purge:
                self.wh.copy_table(tomb_t, flip.tombstones)
        flip.commit(
            {**head.row, **(payload or {}), "compacted_through": wm}
        )
        if purge and not self.versioned:
            self.wh.remove_table(tomb_t)
        return {
            "stamps_merged": len(merged),
            "compacted_through": wm,
            "purged": purge,
            "files_before": files_before,
            "files_after": sum(
                epochs.parquet_file_count(self.wh.path(flip.tables[r]))
                for r in frames
            ),
        }


class Flip:
    """One maintenance op's guarded commit. Created by
    `IndexStore.begin`: it snapshots the file inventory of the version
    the op started from (`cur`) and names the target version's tables
    (`tables`, `tombstones`). Call `before_write()` immediately before
    the first write into the target paths and `commit(row)` to flip.

    A target equal to `cur` (IvfIndex's v1-over-v1 rebuild) overwrites
    the guarded tables themselves, so the inventory comparison is
    meaningful only up to the first write: it runs in `before_write`
    instead of at the flip."""

    def __init__(self, store: IndexStore, verb: str, cur, target):
        self.store = store
        self.op = store.op(verb)
        self.cur = cur
        self.target = target
        self.guarded = store._version_tables(cur) if cur is not None else ()
        self.inventory = table_inventory(store.wh, self.guarded)
        self.tables = store.tables(target)
        self.tombstones = store.tombstones(target)

    def _guard_writes(self) -> None:
        guard_concurrent_writes(
            self.store.wh, self.guarded, self.inventory, self.op
        )

    def before_write(self) -> None:
        if not self.store.versioned:
            return
        guard_pointer_unmoved(self.store.version_or_none(), self.cur, self.op)
        if self.target == self.cur:
            self._guard_writes()

    def commit(self, row: dict) -> None:
        """The commit point: the target version and `row` (payload and
        watermark) become visible in one atomic pointer write."""
        if not self.store.versioned:
            return
        if self.target != self.cur:
            self._guard_writes()
        guard_pointer_unmoved(self.store.version_or_none(), self.cur, self.op)
        self.store.write_pointer(self.target, row)
