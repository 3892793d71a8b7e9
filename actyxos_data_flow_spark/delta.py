"""Signed-multiplicity (retraction) layer — what makes this an IVM engine.

The reference's every operator output is a stream of deltas
``(record, multiplicity: isize)`` — +insert/−delete — consolidated per
epoch into a canonical net-effect batch before hitting the database
(/root/reference/src/flow.rs:129-146, /root/reference/src/coll.rs:25-101).

Spark-first equivalent:

- A *delta DataFrame* is any DataFrame with an integer ``delta`` column.
- :func:`consolidate` = the reference's ``Coll`` compaction
  (/root/reference/src/coll.rs:89-101): group identical records, sum
  multiplicities, drop zero-sum rows. One hash aggregate — the same
  physical shape at 60k rows or 100 TB.
- :func:`snapshot_diff` computes the delta set between two materialized
  results (old → new). This is how batch mode emits retractions: rather
  than maintaining per-operator incremental state (the differential-
  dataflow substrate), we recompute the view and diff snapshots — exact
  for arbitrary DAGs, embarrassingly parallel, and on a cluster the diff
  co-partitions both sides on the full-row hash so the join is
  shuffle-balanced. With Delta-CDF-style sources the diff narrows to
  changed partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DELTA_COL = "delta"


def with_delta(df: DataFrame, mult: int = 1) -> DataFrame:
    """Lift a materialized DataFrame into delta space (all rows ×mult)."""
    if DELTA_COL in df.columns:
        return df.withColumn(DELTA_COL, F.col(DELTA_COL) * F.lit(mult))
    return df.withColumn(DELTA_COL, F.lit(mult))


def consolidate(df: DataFrame) -> DataFrame:
    """K2 — net-effect compaction: sum multiplicities per distinct record,
    drop rows netting to zero (/root/reference/src/coll.rs:89-101)."""
    if DELTA_COL not in df.columns:
        df = with_delta(df)
    cols = [c for c in df.columns if c != DELTA_COL]
    return (
        df.groupBy(*cols)
        .agg(F.sum(DELTA_COL).cast("long").alias(DELTA_COL))
        .filter(F.col(DELTA_COL) != 0)
    )


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Delta set turning ``old`` into ``new``: rows of ``new`` not in
    ``old`` get +n, rows of ``old`` not in ``new`` get −n (multiset
    semantics, counted per distinct record — one aggregate per side plus
    a full-outer co-partitioned join on the record columns)."""
    cols = old.columns
    if cols != new.columns:
        raise ValueError(f"snapshot schemas differ: {cols} vs {new.columns}")
    if DELTA_COL in cols:
        raise ValueError("snapshot_diff inputs are materialized rows, not delta frames")
    # union + one hash aggregate, NOT a join: groupBy treats NULL keys as
    # equal, whereas a join on the record columns is null-UNSAFE — a row
    # with any NULL field would never match itself across old/new and
    # every epoch would emit a spurious retract/insert pair for it.
    # (Also one less shuffle than aggregate-per-side + full-outer join.)
    return consolidate(with_delta(old, -1).unionByName(with_delta(new, 1)))


def apply_delta(snapshot: DataFrame, delta: DataFrame) -> DataFrame:
    """Apply a consolidated delta to a snapshot → next snapshot
    (inverse of :func:`snapshot_diff`; used by tests to close the loop).
    A valid application leaves no negative multiplicities; negatives are
    dropped (the reference panics — src/flow.rs:286-321 monotonic ops)."""
    cols = [c for c in delta.columns if c != DELTA_COL]
    merged = consolidate(with_delta(snapshot).unionByName(delta))
    expanded = merged.filter(F.col(DELTA_COL) > 0).select(
        *cols, F.explode(F.array_repeat(F.lit(1), F.col(DELTA_COL).cast("int"))).alias("_one")
    )
    return expanded.drop("_one")


def _mul_join(x: DataFrame, y: DataFrame, on) -> DataFrame:
    """Equi-join two delta frames; multiplicities multiply (the
    bilinear rule of join over signed multisets)."""
    xd = x.withColumnRenamed(DELTA_COL, "_dx")
    yd = y.withColumnRenamed(DELTA_COL, "_dy")
    return (
        xd.join(yd, on=on)
        .withColumn(DELTA_COL, (F.col("_dx") * F.col("_dy")).cast("long"))
        .drop("_dx", "_dy")
    )


def delta_join(a_old: DataFrame, da: DataFrame, b_old: DataFrame, db: DataFrame, on) -> DataFrame:
    """Incremental equi-join maintenance: the exact delta of A ⋈ B given
    base snapshots and their deltas, WITHOUT recomputing the join —

        Δ(A ⋈ B) = ΔA ⋈ B ∪ A ⋈ ΔB ∪ ΔA ⋈ ΔB

    (join is bilinear over signed multisets; row multiplicities
    multiply). Cost scales with CHURN × match-degree, not |A| × |B| —
    the true-IVM alternative to ``snapshot_diff`` recompute when deltas
    are small and the bases are already materialized. All three terms
    shuffle on the same join key, so a cluster co-partitions them once;
    non-key columns of the two sides must be disjoint (pre-alias).
    ``a_old``/``b_old`` are plain snapshots (lifted to ×1); the result
    is consolidated (zero-net rows dropped)."""
    a0 = with_delta(a_old) if DELTA_COL not in a_old.columns else a_old
    b0 = with_delta(b_old) if DELTA_COL not in b_old.columns else b_old
    parts = [
        _mul_join(da, b0, on),
        _mul_join(a0, db, on),
        _mul_join(da, db, on),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return consolidate(out)


def delta_agg_sum(old_agg: DataFrame, delta: DataFrame, keys, val: str, out: str) -> DataFrame:
    """Incremental grouped-SUM maintenance: given the previous aggregate
    snapshot ``old_agg`` (keys + ``out`` sum + ``_n`` count) and a
    consolidated source delta, emit the reference-style retraction pairs
    — (old row, −1), (new row, +1) — for exactly the touched keys:

        contribution per key = Σ delta·value  (and Σ delta rows)

    One aggregate over the delta (churn-sized), one equi-join against
    the touched keys of the old snapshot. Keys whose row count reaches
    zero emit only the retraction; brand-new keys only the insert. Use
    ``delta_agg_next`` to also get the updated snapshot."""
    keys = list(keys)
    contrib = delta.groupBy(*keys).agg(
        F.sum(F.col(val) * F.col(DELTA_COL)).alias("_dv"),
        F.sum(DELTA_COL).cast("long").alias("_dn"),
    ).alias("_c")
    old = old_agg.select(*keys, F.col(out).alias("_ov"), F.col("_n").alias("_on")).alias("_o")
    # NULL-SAFE key equality: `on=keys` uses `=`, under which a NULL
    # group key never matches its own old row — the old contribution
    # would be ignored and the stale row never retracted
    cond = None
    for k in keys:
        e = F.col(f"_c.{k}").eqNullSafe(F.col(f"_o.{k}"))
        cond = e if cond is None else cond & e
    j = contrib.join(old, cond, "left").select(
        *[F.col(f"_c.{k}").alias(k) for k in keys], "_dv", "_dn", "_ov", "_on"
    )
    new_n = (F.coalesce(F.col("_on"), F.lit(0)) + F.col("_dn")).cast("long")
    retract = F.when(
        F.col("_ov").isNotNull(),
        F.struct(*keys, F.col("_ov").alias(out), F.col("_on").alias("_n"), F.lit(-1).alias(DELTA_COL)),
    )
    insert = F.when(
        new_n > 0,
        F.struct(
            *keys,
            (F.coalesce(F.col("_ov"), F.lit(0)) + F.col("_dv")).alias(out),
            new_n.alias("_n"),
            F.lit(1).alias(DELTA_COL),
        ),
    )
    # both rows of a pair come from ONE pass over the join, so the
    # source delta is read once (a union of two filtered branches plans
    # two differently-pruned scans of it)
    pairs = j.select(F.explode(F.array(retract, insert)).alias("_r"))
    return consolidate(pairs.filter(F.col("_r").isNotNull()).select("_r.*"))


def delta_agg_next(old_agg: DataFrame, agg_delta: DataFrame, keys=None) -> DataFrame:
    """Fold a :func:`delta_agg_sum` result back into the snapshot form
    (keys + sum + _n): apply the +1 rows, drop the −1 rows.

    Pass ``keys`` explicitly when any group key starts with an
    underscore or the sum column doesn't (the default derivation
    treats every non-underscore, non-``_n`` column except the last
    value column as a key only by naming convention)."""
    cols = [c for c in agg_delta.columns if c != DELTA_COL]
    if keys is None:
        keys = [c for c in cols if c not in ("_n",) and not c.startswith("_")]
    else:
        keys = list(keys)
    plus = agg_delta.filter(F.col(DELTA_COL) == 1).select(*cols)
    minus_keys = agg_delta.filter(F.col(DELTA_COL) == -1).select(*keys).distinct()
    # one anti-join suffices: delta_agg_sum emits a −1 retraction for
    # EVERY touched key that existed in old_agg, so plus-rows for
    # existing keys are already covered by minus_keys, and plus-rows
    # for brand-new keys have nothing to remove. NULL-safe equality so
    # NULL-keyed retractions actually remove their stale row.
    oa, mk = old_agg.alias("_oa"), minus_keys.alias("_mk")
    cond = None
    for k in keys:
        e = F.col(f"_oa.{k}").eqNullSafe(F.col(f"_mk.{k}"))
        cond = e if cond is None else cond & e
    untouched = oa.join(mk, cond, "left_anti")
    return untouched.unionByName(plus)
