"""Incremental aggregate maintenance — algebraic materialized-view
upkeep under CDC, the third leg of the snapshot-maintenance family
(merge.py rewrites rows copy-on-write, mor.py defers the merge to read
time; this module keeps a GROUP BY summary current without ever
re-scanning the base).

Count and sum are algebraic: a change batch's effect on the aggregate
is itself a tiny aggregate of per-row deltas —

- matched U/I → (-1, -old) at the OLD group and (+1, +new) at the NEW
  group (merge_apply upserts every non-D op, so a matched I replaces
  the row exactly like a matched U; handles group moves; the two rows
  collapse arithmetically when the group is unchanged)
- matched D  → (-1, -old) at the old group
- unmatched I/U (upsert fallthrough, merge.py's rule) → (+1, +new)
- unmatched D → no-op

Scale: old values come from ONE keyed join of the change batch against
the base (the batch broadcasts; at 100 TB the stored aggregate table
and the base are inputs, so maintenance costs O(|changes| + |groups|)
per batch instead of a full re-aggregation — the difference between
seconds and hours on a big fact table). Exactness: measures are bigint
(convert money to cents upstream), so delta application is associative
with zero float drift; the maintained result is bit-equal to a full
recompute over the merged snapshot (tests/test_incremental.py and
q_incremental_agg's oracle both assert exactly that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WEIGHT_COL = "_w"  # a Z-relation row's signed bigint multiplicity


def incremental_group_sums(
    base_agg: DataFrame,
    base: DataFrame | None,
    changes: DataFrame,
    key: str,
    group_col: str,
    measure_col: str,
    insert_only: bool = False,
) -> DataFrame:
    """Maintain (group_col, n, sum_measure) under a CDC batch.

    base_agg: the stored aggregate — (group_col, n BIGINT, sum_measure
    BIGINT), e.g. yesterday's materialized view. base: the pre-merge
    snapshot (only the change keys' rows are read via the keyed join).
    changes: CDC rows with op ∈ I/U/D carrying the key, group and
    measure columns. Returns the post-merge aggregate; groups whose
    count reaches zero disappear (as a recompute would have it).

    insert_only=True declares the batch APPEND-ONLY (every key is new
    to the base): the retraction join is skipped entirely and `base`
    may be None. This matters at 100 TB because the retraction join
    keeps the batch on the PRESERVED left side of a left-outer join —
    Spark only supports BuildRight broadcast for LeftOuter, so the
    plan must shuffle (or broadcast) the entire BASE per refresh even
    when no change key can possibly match (r11 ADVICE). With the fast
    path, maintenance touches only the batch and the groups-sized
    stored aggregate: O(|batch| + |groups|), no history scan. A D in
    an insert_only batch is dropped — an unmatched D is a no-op under
    the CDC rule anyway; callers own the every-key-is-new claim."""
    ch = changes.select(
        F.col(key).alias("_k"),
        F.col("op").alias("_op"),
        F.col(group_col).alias("_new_g"),
        F.col(measure_col).cast("bigint").alias("_new_m"),
    )
    if insert_only:
        # append-only: nothing to retract, deltas are a pure aggregate
        # of the batch — the base is never read
        deltas = (
            ch.filter(F.col("_op").isin("I", "U"))
            .groupBy(F.col("_new_g").alias(group_col))
            .agg(
                F.count("*").cast("bigint").alias("_dn"),
                F.sum("_new_m").cast("bigint").alias("_dm"),
            )
        )
    else:
        if base is None:
            raise ValueError(
                "incremental_group_sums: base required unless insert_only"
            )
        old = base.select(
            F.col(key).alias("_k"),
            F.col(group_col).alias("_old_g"),
            F.col(measure_col).cast("bigint").alias("_old_m"),
            F.lit(1).alias("_matched"),
        )
        j = ch.join(old, "_k", "left")

        # ANY matched change retracts the old row's contribution:
        # merge_apply upserts every op except D, so a matched I
        # replaces the existing row exactly like a matched U
        # (hypothesis caught the I-on-existing-key double count when
        # this filtered to U/D only)
        neg = j.filter(F.col("_matched").isNotNull()).select(
            F.col("_old_g").alias(group_col),
            F.lit(-1).cast("bigint").alias("_dn"),
            (-F.col("_old_m")).alias("_dm"),
        )
        # every U adds its new value (matched U also removed the old
        # one above; an unmatched U is merge.py's upsert fallthrough)
        pos = j.filter(F.col("_op").isin("I", "U")).select(
            F.col("_new_g").alias(group_col),
            F.lit(1).cast("bigint").alias("_dn"),
            F.col("_new_m").alias("_dm"),
        )
        deltas = (
            neg.unionByName(pos)
            .groupBy(group_col)
            .agg(F.sum("_dn").alias("_dn"), F.sum("_dm").alias("_dm"))
        )

    merged = base_agg.join(deltas, group_col, "full_outer").select(
        group_col,
        (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0)))
        .cast("bigint")
        .alias("n"),
        (
            F.coalesce(F.col("sum_measure"), F.lit(0))
            + F.coalesce(F.col("_dm"), F.lit(0))
        )
        .cast("bigint")
        .alias("sum_measure"),
    )
    return merged.filter(F.col("n") > 0)


# --- incremental JOIN-view maintenance (Z-relations / DBSP algebra) --------
#
# A row-level join view V = A ⋈ B updates under signed-multiset deltas
# (weight +1 = insert, -1 = retract; an update is retract+insert) by
# the bilinear identity
#
#   Δ(A ⋈ B) = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB
#
# with weights multiplying across the join — the classic incremental
# view maintenance rule (Blakeley et al. 1986; the Z-relation form is
# DBSP/Differential Dataflow's). Maintenance cost is O(|ΔA|·fanout +
# |ΔB|·fanout + |ΔA⋈ΔB|): the delta sides broadcast against the big
# bases at 100 TB, and the stored view is touched only additively —
# never re-joined from scratch.


def delta_join(
    a: DataFrame,
    da: DataFrame,
    b: DataFrame,
    db: DataFrame,
    key: str,
) -> DataFrame:
    """The signed delta of the join view A ⋈ B. `a`/`b` are the
    PRE-change sides (implicit weight +1 per row); `da`/`db` carry
    `_w` (signed bigint). Non-key columns of the two sides must
    be disjoint (the join view's schema). Returns rows of the joined
    schema plus `_w` — NOT normalized; feed through
    apply_delta (or an aggregate) to collapse weights."""
    overlap = (set(a.columns) & set(b.columns)) - {key}
    if overlap:
        raise ValueError(f"delta_join: non-key columns collide: {overlap}")
    if set(da.columns) != set(a.columns) | {WEIGHT_COL}:
        raise ValueError("delta_join: da schema must be a's + weight")
    if set(db.columns) != set(b.columns) | {WEIGHT_COL}:
        raise ValueError("delta_join: db schema must be b's + weight")

    a1 = a.withColumn(WEIGHT_COL, F.lit(1).cast("bigint"))
    b1 = b.withColumn(WEIGHT_COL, F.lit(1).cast("bigint"))

    def _term(left, right):
        lw = F.col(f"_lw").cast("bigint")
        rw = F.col(f"_rw").cast("bigint")
        return (
            left.withColumnRenamed(WEIGHT_COL, "_lw")
            .join(right.withColumnRenamed(WEIGHT_COL, "_rw"), key)
            .withColumn(WEIGHT_COL, (lw * rw).cast("bigint"))
            .drop("_lw", "_rw")
        )

    out = _term(da, b1)
    out = out.unionByName(_term(a1, db))
    return out.unionByName(_term(da, db))


def apply_delta(view: DataFrame, dv: DataFrame) -> DataFrame:
    """Add a signed delta to a Z-relation snapshot: union, sum weights
    per distinct row, drop zero-weight rows. With bigint weights this
    is exact and associative — apply_delta(apply_delta(v, d1), d2) ==
    apply_delta(v, d1 ∪ d2), the law tests/test_property_laws.py
    randomizes."""
    cols = [c for c in view.columns if c != WEIGHT_COL]
    return (
        view.unionByName(dv.select(*view.columns))
        .groupBy(*cols)
        .agg(F.sum(WEIGHT_COL).cast("bigint").alias(WEIGHT_COL))
        .filter(F.col(WEIGHT_COL) != 0)
    )


def empty_delta(spark, schema: str) -> DataFrame:
    """A KNOWN-empty delta relation (LocalRelation <empty>, not an
    RDD-backed empty DataFrame): Catalyst's PropagateEmptyRelation can
    only erase join terms whose emptiness is visible in the plan —
    `createDataFrame([], schema)` produces a LogicalRDD that defeats
    the rule, while a LocalRelation.limit(0) folds, so delta_join with
    an empty side costs exactly the non-empty terms
    (tests/test_incremental.py pins both facts)."""
    row = tuple(None for _ in schema.split(","))
    return spark.createDataFrame([row], schema).limit(0)
