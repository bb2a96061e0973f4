"""Distributed CDC MERGE (upsert/delete apply) — the lakehouse
`MERGE INTO` shape without a table format.

A change-data-capture batch carries (key, op, new columns) rows with op
∈ {I, U, D}. Applying it to a snapshot is ONE keyed full-outer join:

- match + U  → take the change row's columns (update)
- match + D  → drop the row (delete)
- no match + I → append the change row (insert)
- no target match for U → insert the change row (upsert fallthrough)
- no change row for a target key → keep the snapshot row

Spark-first shape: the join shuffles both sides once on the key (or
broadcasts the change batch when it is small — the common CDC case,
which AQE picks by size); every rule above is a column-level
`coalesce`/filter, so the whole merge stays in whole-stage codegen with
zero UDFs. At 100 TB the snapshot never moves more than its one keyed
exchange — and with both sides bucketed on the key (io.write_parquet +
bucketing, see tests/test_plans.py's bucketed-join evidence) even that
exchange disappears.

Determinism contract: at most one change row per key per batch (the
standard CDC compaction precondition — enforce upstream with a
row_number over (key, change_seq) if the feed can carry multiples).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_apply(target: DataFrame, changes: DataFrame, key: str) -> DataFrame:
    """Apply a CDC batch to a snapshot. ``changes`` has the same columns
    as ``target`` plus ``op`` ('I' insert / 'U' update / 'D' delete).
    Returns the merged snapshot with target's column order."""
    cols = target.columns
    t = target.select(
        F.col(key).alias("_t_key"),
        *[F.col(c).alias(f"_t_{c}") for c in cols if c != key],
    )
    c = changes.select(
        F.col(key).alias("_c_key"),
        F.col("op").alias("_op"),
        *[F.col(col).alias(f"_c_{col}") for col in cols if col != key],
    )
    # eqNullSafe: NULL is a real key value — a null-key change row must
    # match the null-key target row (otherwise replaying
    # snapshot_diff(v0, v1) duplicates instead of updating it and the
    # merge(v0, diff(v0, v1)) == v1 law breaks; see
    # test_snapshot_diff_null_key_roundtrip).
    joined = t.join(c, t["_t_key"].eqNullSafe(c["_c_key"]), "full_outer")
    # Keep every row whose change op is not D: matched D disappears
    # (delete), unmatched D is a no-op (its only row is the change side,
    # dropped here), and rows with no change (op NULL) pass through.
    # NOTE: the predicate must depend ONLY on _op — testing _t_key is
    # wrong anyway because NULL is a legal key value.
    kept = joined.filter(
        F.col("_op").isNull() | (F.col("_op") != F.lit("D"))
    )
    merged_cols = [
        F.coalesce(F.col("_c_key"), F.col("_t_key")).alias(key)
        if col == key
        else F.when(F.col("_op").isNotNull(), F.col(f"_c_{col}"))
        .otherwise(F.col(f"_t_{col}"))
        .alias(col)
        for col in cols
    ]
    return kept.select(*merged_cols)


def snapshot_diff(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """The INVERSE of merge_apply: derive the CDC batch that transforms
    snapshot `old` into snapshot `new` — table-diff change-feed
    generation (what a lakehouse emits as a "change data feed" between
    two committed versions, and what replication bootstraps from when
    no upstream CDC exists).

    Classification is one keyed full-outer join: key only in `new` → I
    (new row), only in `old` → D (old row's values, the full-row-image
    convention merge_apply's D expects), in both with any non-key column
    differing (null-safe comparison) → U (new row); identical rows emit
    nothing. Round-trip law — merge_apply(old, snapshot_diff(old, new))
    == new, and snapshot_diff(old, merge_apply(old, ch)) == ch for any
    one-row-per-key full-row-image batch (both proven in
    tests/test_merge.py).

    Scale: the single full-outer exchange on the key (or none, with
    both versions bucketed on it); the column comparison is codegen
    `<=>` conjunctions, no UDFs."""
    cols = old.columns
    if new.columns != cols:
        raise ValueError(
            f"snapshot_diff: column mismatch {cols} vs {new.columns}"
        )
    o = old.select(
        F.col(key).alias("_o_key"),
        *[F.col(c).alias(f"_o_{c}") for c in cols if c != key],
        F.lit(1).alias("_o_present"),
    )
    n = new.select(
        F.col(key).alias("_n_key"),
        *[F.col(c).alias(f"_n_{c}") for c in cols if c != key],
        F.lit(1).alias("_n_present"),
    )
    # eqNullSafe: a null-key row present in BOTH snapshots must match
    # itself (plain equality would emit a spurious D+I pair, and
    # replaying that diff through merge_apply — which keeps unmatched
    # null-key target rows — would duplicate the row, breaking the
    # merge(v0, diff(v0, v1)) == v1 law).
    j = o.join(n, o["_o_key"].eqNullSafe(n["_n_key"]), "full_outer")
    changed = None
    for c in cols:
        if c == key:
            continue
        diff_c = ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
        changed = diff_c if changed is None else (changed | diff_c)
    op = (
        F.when(F.col("_o_present").isNull(), F.lit("I"))
        .when(F.col("_n_present").isNull(), F.lit("D"))
        .when(changed, F.lit("U"))
    )
    out_cols = [
        F.coalesce(F.col("_n_key"), F.col("_o_key")).alias(key),
        F.col("_op").alias("op"),
        *[
            F.when(F.col("_op") == "D", F.col(f"_o_{c}"))
            .otherwise(F.col(f"_n_{c}"))
            .alias(c)
            for c in cols
            if c != key
        ],
    ]
    return j.withColumn("_op", op).filter(F.col("_op").isNotNull()).select(
        *out_cols
    )
