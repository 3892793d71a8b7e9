"""Spark ↔ sink glue: turn delta DataFrames into sink batches and close
the IVM loop (view recompute → distributed snapshot diff → transactional
apply).

Scale design: the previous committed snapshot of every table lives as a
**parquet mirror** on shared storage, so the per-epoch diff is one
distributed union + count aggregate over two Spark-readable snapshots —
O(|view|) cluster work, O(churn) driver traffic. Only the NET delta
(which scales with the view's churn, not with the input — K2
consolidation runs distributed first) is collected for the single-writer
store, matching the reference's topology of shipping consolidated
batches through an in-process channel (reference
``src/runner.rs:113-122``). For a multi-writer JDBC target the same
batches would be applied per-partition via foreachPartition.

One evaluation per epoch: the view is lazy, and both the diff and the
mirror write read the new snapshot, so :func:`write_snapshots` persists
it first. The diff's collect (or stage) evaluates the view once and
fills that cache; the mirror write reads the cache, not the event log.
The cache is released when the epoch ends, committed or not.

Crash consistency: the mirror pointer (`_mirror_state`) commits in the
SAME sink transaction as the delta and offsets, and each epoch writes to
its own directory keyed by the offsets it reflects, so

- crash after parquet write, before commit → pointer still names the old
  epoch; the retry recomputes the same delta and overwrites the same
  (orphaned) epoch directory — idempotent;
- retry after commit → diff against the just-committed mirror is empty.

Ordering: each table's delta is collected (or staged) BEFORE its mirror
directory is overwritten — on a same-epoch retry the old and the new
snapshot share that directory.

If the mirror directory is lost (e.g. a fresh temp dir after restart),
the writer rebuilds it once from the sink's stored rows — a recovery
path only, never the steady-state loop.
"""

from __future__ import annotations

import shutil
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..delta import DELTA_COL, consolidate, snapshot_diff
from .spec import DbTable, Union
from .dbapi import DbapiSink


def consolidated_rows(delta: DataFrame, table: DbTable) -> list[tuple[tuple, int]]:
    """Collect an already-consolidated delta (the table's written
    columns + ``DELTA_COL``) as (row_values, mult) pairs ordered by the
    table's written columns. Runs no aggregate of its own."""
    cols = [c.name for c in table.written_columns]
    return [(tuple(r[c] for c in cols), r[DELTA_COL]) for r in delta.collect()]


def deltas_to_rows(delta_df: DataFrame, table: DbTable) -> list[tuple[tuple, int]]:
    """Consolidate a delta DataFrame, then collect it as
    :func:`consolidated_rows` does."""
    cols = [c.name for c in table.written_columns]
    return consolidated_rows(consolidate(delta_df).select(*cols, DELTA_COL), table)


def _epoch_key(offsets: Mapping[str, int]) -> str:
    """Deterministic directory key for the offsets a snapshot reflects —
    a retried batch maps to the same epoch and overwrites itself."""
    return "_".join(f"{k}-{v}" for k, v in sorted(offsets.items())) or "empty"


class SnapshotMirror:
    """Parquet mirror of each table's last committed snapshot, the
    distributed 'old side' of the per-epoch diff."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _dir(self, table: DbTable, epoch: str) -> str:
        return f"{self.root}/{table.name}/{epoch}"

    def read_previous(self, sink: DbapiSink, table: DbTable, schema) -> DataFrame:
        """The snapshot the sink's rows currently reflect, as a
        DataFrame. Empty if nothing committed yet; rebuilt from the sink
        (recovery path) if the pointer names a missing directory."""
        epoch = sink.mirror_epoch(table.name)
        if epoch is None:
            rows = sink.rows(table)  # fetched once — this is a full scan
            if rows:
                # sink predates the mirror (or mirror state was cleared):
                # one-time rebuild from stored rows.
                return self.spark.createDataFrame(rows, schema=schema)
            return self.spark.createDataFrame([], schema=schema)
        try:
            return self.spark.read.schema(schema).parquet(self._dir(table, epoch))
        except Exception:  # noqa: BLE001 — dir lost: recovery rebuild
            return self.spark.createDataFrame(sink.rows(table), schema=schema)

    def write(self, table: DbTable, snapshot: DataFrame, epoch: str) -> None:
        snapshot.write.mode("overwrite").parquet(self._dir(table, epoch))

    def prune(self, table: DbTable, keep_epoch: str) -> None:
        """Best-effort removal of superseded epoch directories."""
        shutil.rmtree(f"{self.root}/{table.name}/_tmp", ignore_errors=True)
        try:
            import os

            for d in os.listdir(f"{self.root}/{table.name}"):
                if d != keep_epoch:
                    shutil.rmtree(f"{self.root}/{table.name}/{d}", ignore_errors=True)
        except FileNotFoundError:
            pass


def snapshot_delta(
    spark: SparkSession,
    sink: DbapiSink,
    table: DbTable,
    new_snapshot: DataFrame,
    mirror: SnapshotMirror,
) -> DataFrame:
    """The (distributed, uncollected) net-delta plan for one table:
    full-outer count-diff of the mirror vs the new snapshot. Exposed so
    tests can assert the physical plan has no single-partition
    exchange."""
    cols = [c.name for c in table.written_columns]
    new = new_snapshot.select(*cols)
    old = mirror.read_previous(sink, table, schema=new.schema)
    return snapshot_diff(old, new)


DISTRIBUTED_DELTA_THRESHOLD = 100_000


def write_snapshots(
    spark: SparkSession,
    sink: DbapiSink,
    views: Sequence[tuple[DbTable, DataFrame]],
    offsets: Mapping[str, int],
    mirror: SnapshotMirror,
    offsets_table: str | None = None,
    applier=None,
    conn_factory=None,
    distributed_threshold: int = DISTRIBUTED_DELTA_THRESHOLD,
) -> dict[str, int]:
    """Materialize several snapshots (one input stream → up to N record
    types, reference ``src/db/mod.rs:230-244``) in ONE transaction with
    the offsets they reflect. Returns per-table applied delta-row
    counts.

    Per table: persist the new snapshot, diff it distributed against
    the parquet mirror, ship only the net delta, write the same cached
    snapshot under this epoch's mirror directory; then a single sink
    transaction applies every delta + offsets + the mirror pointers.
    The epoch evaluates each view exactly once — the diff fills the
    cache and the mirror write reads it — and every cache is released
    before returning, also when the epoch fails. Idempotent per the
    module docstring.

    Delta shipping has two topologies:

    - driver-side: collect the churn-sized delta to the driver, apply
      via the sink connection (the reference's shape — right when churn
      is small);
    - staged (:class:`~..sinks.distributed.DistributedApplier`):
      executors bulk-load each delta into the DB's staging table in
      parallel and one ``finalize_many`` transaction applies all tables
      + offsets — the huge-delta path (backfill, rebuild), same
      exactly-once contract.

    Routing: pass ``applier`` to force the staged path. Otherwise, if
    ``conn_factory`` (a picklable DB-API connection factory — executors
    must open their own connections) is given, the epoch's deltas are
    counted first and the staged path engages automatically when ANY
    table's delta exceeds ``distributed_threshold`` rows — a backfill
    epoch can no longer OOM the driver just because nobody opted in.
    Only this size probe reads a delta twice, so only then are the
    deltas persisted too. Without either, the driver-side path applies
    unconditionally."""
    epoch = _epoch_key(offsets)
    mirror_epochs = {t.name: epoch for t, _ in views}
    probe = applier is None and conn_factory is not None

    cached: list[DataFrame] = []
    try:
        prepared: list[tuple[DbTable, DataFrame, DataFrame]] = []
        for table, new_snapshot in views:
            new = new_snapshot.select(*[c.name for c in table.written_columns]).persist()
            cached.append(new)
            delta = snapshot_delta(spark, sink, table, new, mirror)
            if probe:
                cached.append(delta.persist())
            prepared.append((table, new, delta))

        if probe and any(
            delta.limit(distributed_threshold + 1).count() > distributed_threshold
            for _, _, delta in prepared
        ):
            from .distributed import DistributedApplier

            applier = DistributedApplier(conn_factory, sink.dialect)

        if applier is not None:
            staged: list[DbTable] = []
            for table, new, delta in prepared:
                applier.ensure_stage(sink, table)
                # stage BEFORE overwriting the mirror
                applier.stage(delta, table, epoch)
                mirror.write(table, new, epoch)
                staged.append(table)
            results = applier.finalize_many(
                sink, staged, epoch, dict(offsets),
                offsets_table=offsets_table, mirror_epochs=mirror_epochs,
            )
            for table, _, _ in prepared:
                mirror.prune(table, epoch)
            return {name: ins + dels for name, (ins, dels) in results.items()}
        batches: dict[DbTable, list[tuple[tuple, int]]] = {}
        for table, new, delta in prepared:
            # collect BEFORE overwriting the mirror
            batches[table] = consolidated_rows(delta, table)
            mirror.write(table, new, epoch)
        sink.advance_offsets(
            batches,
            dict(offsets),
            offsets_table=offsets_table,
            mirror_epochs=mirror_epochs,
        )
        for table, _, _ in prepared:
            mirror.prune(table, epoch)
        return {t.name: len(b) for t, b in batches.items()}
    finally:
        for df in cached:
            df.unpersist()


def write_snapshot(
    spark: SparkSession,
    sink: DbapiSink,
    table: DbTable,
    new_snapshot: DataFrame,
    offsets: Mapping[str, int],
    mirror: SnapshotMirror,
) -> int:
    """Single-table convenience over :func:`write_snapshots`."""
    return write_snapshots(spark, sink, [(table, new_snapshot)], offsets, mirror)[
        table.name
    ]


def write_delta(
    spark: SparkSession,
    sink: DbapiSink,
    table: DbTable,
    delta_df: DataFrame,
    offsets: Mapping[str, int],
    offsets_table: str | None = None,
) -> int:
    """Apply a PRECOMPUTED consolidated delta — the true-IVM epoch.

    Where :func:`write_snapshot` recomputes the view and diffs against
    the mirror (exact for arbitrary DAGs, cost O(|view|) cluster-side),
    this path takes the delta straight from the incremental operators
    (``delta.delta_join`` / ``delta.delta_agg_sum``) — cost O(churn)
    end-to-end — and applies it with the offsets in ONE transaction,
    same exactly-once contract. The caller owns snapshot consistency
    (``delta.delta_agg_next`` folds the delta into the next base); the
    offsets table remains the resume point, so a crashed epoch replays
    from its source offsets rather than re-applying a remembered delta."""
    batch = deltas_to_rows(delta_df, table)
    sink.advance_offsets({table: batch}, dict(offsets), offsets_table=offsets_table)
    return len(batch)
