"""Z-order (Morton) clustering — multi-dimensional data skipping.

A single-key sort gives perfect zone-map pruning on that key and NONE
on any other; interleaving the bits of two keys into one Morton value
and range-clustering by it bounds BOTH dimensions within every file —
a predicate on either key (or both) prunes ~sqrt-proportionally
instead of scanning everything. This is the lakehouse `OPTIMIZE ZORDER
BY` primitive, built from the same pieces as compaction.py: a pure
integer expression + fixed-width bucketing + partitionBy.

Everything is exact bigint arithmetic in whole-stage codegen (shifts,
masks, a bounded sequence fold) — no UDFs, and an identical SQL twin
runs on any engine, so layouts are replayable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def z_value(a: str, b: str, bits: int = 16) -> Column:
    """Morton-interleave the low `bits` bits of two non-negative int
    COLUMNS (by name): a's bit i lands at position 2i, b's at 2i+1.
    2·bits ≤ 62 keeps the result in a bigint. Values are masked to
    `bits` (normalize wider domains upstream — rank or bucket them).
    Built as one SQL aggregate fold so the whole thing stays in
    whole-stage codegen (pyspark's shiftleft only takes literal shift
    amounts; the SQL expression form shifts by the fold variable)."""
    if 2 * bits > 62:
        raise ValueError(f"2*bits must fit a bigint: {bits}")
    return F.expr(
        f"CAST(aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT),"
        f" (acc, i) -> acc"
        f" + shiftleft(shiftright(CAST({a} AS BIGINT), i) % 2, i * 2)"
        f" + shiftleft(shiftright(CAST({b} AS BIGINT), i) % 2, i * 2 + 1))"
        f" AS BIGINT)"
    )


def z_value_sql(a: str, b: str, bits: int = 16) -> str:
    """The DuckDB/ANSI twin of z_value — same fold, same masking."""
    return (
        f"CAST(list_sum(list_transform(generate_series(0, {bits - 1}), i ->"
        f" ((({a} // (1 << i)) % 2) * (1 << (i * 2)))"
        f" + ((({b} // (1 << i)) % 2) * (1 << (i * 2 + 1))))) AS BIGINT)"
    )


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int,
    bits: int = 16,
) -> None:
    """Rewrite `df` as ~n_files z-clustered parquet files: fixed-width
    buckets over the Morton value (deterministic file → z-range mapping,
    compaction.compact_fixed_width's policy), sorted by z within each
    file so row-group/page stats are monotone too. Reads that filter on
    EITHER column prune by footer min/max of that column — the evidence
    test measures the pruning vs a single-key sort."""
    z = z_value(col_a, col_b, bits)
    lo_hi = df.select(F.min(z).alias("lo"), F.max(z).alias("hi")).first()
    if lo_hi["lo"] is None:
        raise ValueError("write_zordered: empty input, nothing to cluster")
    width = (int(lo_hi["hi"]) - int(lo_hi["lo"])) // n_files + 1
    (
        df.withColumn("_z", z)
        .withColumn(
            "zbucket",
            ((F.col("_z") - F.lit(int(lo_hi["lo"]))) / width)
            .cast("int"),
        )
        .withColumnRenamed("zbucket", "bucket")
        .repartition(n_files, "bucket")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .partitionBy("bucket")  # bucket= dirs: compaction.partitioned_zone_maps reads them
        .parquet(path)
    )
