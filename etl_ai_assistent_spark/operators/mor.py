"""Merge-on-read CDC — the write-cheap half of lakehouse snapshot
maintenance (copy-on-write's complement; q_stream_cdc_merge is the CoW
exemplar, reference shape: the upsert loop in the reference's
scripts/services/qdrant_service.py:24-42 is effectively MoR).

Commit path: a change batch is APPENDED to a delta log stamped with a
monotone sequence number — the write cost is the batch size, never the
snapshot size (CoW rewrites the full snapshot per batch: write
amplification |snapshot|/|batch|, catastrophic at 100 TB with frequent
small batches). The base is never rewritten between compactions.

Read path: base ∪ log, latest-wins per key (base rows carry seq 0, so
any change outranks them; within the log, higher seq wins — the
at-most-one-change-per-(key, batch) CDC precondition makes (key, seq)
unique), then drop keys whose winning op is D. Cost: one keyed shuffle
over |base| + |log| rows — the read amplification is the log size, kept
bounded by periodic compaction.

Compaction: materialize the resolved view as a new base (via
compaction.compact_fixed_width — the rewrite doubles as the small-file
fix) and start an empty log; reads before and after are identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SEQ_COL = "_seq"


def stamp_batch(batch: DataFrame, seq: int) -> DataFrame:
    """A log entry: the change batch with its commit sequence number.
    seq must be ≥ 1 (0 is reserved for base rows) and monotone per
    commit — derive it from the deterministic micro-batch id exactly
    like the CoW twin derives snapshot versions."""
    if seq < 1:
        raise ValueError(f"log sequence must be >= 1 (0 is the base): {seq}")
    return batch.withColumn(SEQ_COL, F.lit(seq).cast("bigint"))


def resolve(base: DataFrame, log: DataFrame, key: str) -> DataFrame:
    """Read-time merge: latest-wins per key over base ∪ log, deletes
    dropped. Returns base's column order. Equivalent to folding
    merge_apply over the log batches in seq order (tests/test_mor.py
    proves it against operators/merge.merge_apply)."""
    cols = base.columns
    b = base.select(
        *cols,
        F.lit(None).cast("string").alias("op"),
        F.lit(0).cast("bigint").alias(SEQ_COL),
    )
    u = b.unionByName(log.select(*cols, "op", SEQ_COL))
    w = Window.partitionBy(key).orderBy(F.desc(SEQ_COL))
    latest = u.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    # NULL op marks a base row (never a delete); survivor selection must
    # not touch the key column, so all-null keys pass through untouched
    return latest.filter(
        F.col("op").isNull() | (F.col("op") != F.lit("D"))
    ).select(*cols)


def compact(base: DataFrame, log: DataFrame, key: str, out_path: str) -> None:
    """Fold the log into a new base: resolve, then rewrite key-clustered
    into 8 files via compaction.compact_fixed_width (disjoint per-file
    key ranges — the zone-map layout). Afterwards the caller truncates
    the log; a read of (new base, empty log) equals a read of (old base,
    log)."""
    from .compaction import compact_fixed_width

    compact_fixed_width(resolve(base, log, key), out_path, key, 8)
