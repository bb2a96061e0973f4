"""operators/rank.py laws: the bounded-histogram global row number and
the SQL-exact ntile reconstruction must equal the single-partition
window versions on adversarial inputs (heavy ties, negatives, N < n,
bucket widths from 1 to wider-than-domain)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_ai_assistent_spark.operators import rank as RK


def _vals(spark, seed: int, n: int):
    """n rows of (id, v): v is a small-domain value (heavy ties) mixed
    across negatives and positives, deterministically derived from id."""
    return spark.range(n).select(
        F.col("id"),
        ((F.xxhash64(F.col("id") + seed) % 37) - 18).cast("bigint").alias("v"),
    )


@pytest.mark.parametrize("bucket_div", [1, 5, 1000])
def test_global_row_number_matches_window(spark, bucket_div):
    df = _vals(spark, seed=7, n=500)
    got = RK.with_global_row_number(
        df, "v", "id", bucket_div=bucket_div, total="n_all"
    )
    want = df.withColumn(
        "rn_w",
        F.row_number().over(Window.orderBy(F.asc("v"), F.asc("id"))),
    )
    joined = got.join(want, ["id", "v"])
    assert joined.filter(F.col("rn") != F.col("rn_w")).count() == 0
    assert got.filter(F.col("n_all") != 500).count() == 0


@pytest.mark.parametrize("n_rows,n_tiles", [(500, 4), (500, 5), (500, 7), (3, 5), (1, 3)])
def test_ntile_on_matches_builtin(spark, n_rows, n_tiles):
    """ntile_on(rn, N) == F.ntile over the same total order — including
    the front-loaded remainder distribution and the N < n edge."""
    df = _vals(spark, seed=11, n=n_rows)
    got = RK.with_global_row_number(
        df, "v", "id", bucket_div=7, total="n_all"
    ).select("id", RK.ntile_on(n_tiles, "rn", "n_all").alias("t"))
    want = df.select(
        "id",
        F.ntile(n_tiles)
        .over(Window.orderBy(F.asc("v"), F.asc("id")))
        .cast("int")
        .alias("t_w"),
    )
    assert (
        got.join(want, "id").filter(F.col("t") != F.col("t_w")).count() == 0
    )


def test_rank_plan_has_no_data_sized_global_window(spark):
    """The operator's own plan: the only unpartitioned window runs over
    the bucket histogram, never the input — evidenced by the Window's
    child aggregate, and by the input-sized window being partitioned."""
    from tests.test_plans import global_windows

    df = _vals(spark, seed=3, n=1000)
    out = RK.with_global_row_number(df, "v", "id", bucket_div=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    hits = global_windows(plan)
    # the histogram running-sum window IS unpartitioned — but it must
    # be the only one, and it aggregates _bkt counts, not input rows
    assert len(hits) <= 1
    for h in hits:
        assert "_bc" in h, f"unexpected global window over data: {h}"


def test_histogram_cardinality_guard_raises(spark, monkeypatch):
    """Seeded violation for the in-plan MAX_BUCKETS guard (ADVICE r8):
    a bucket_div mis-sized for the key range must RAISE at runtime,
    not silently widen the 'bounded' histogram into a data-sized
    global sort. Shrinking the ceiling below the real bucket count
    simulates the drifted domain."""
    monkeypatch.setattr(RK, "MAX_BUCKETS", 10)
    df = spark.range(500).select(
        F.col("id"), (F.col("id") * 97).cast("bigint").alias("v")
    )
    out = RK.with_global_row_number(df, "v", "id", bucket_div=1)
    with pytest.raises(Exception, match="rank histogram exceeded"):
        out.collect()


def test_histogram_guard_transparent_when_bounded(spark):
    """The guard must be invisible on healthy inputs: same rows, same
    row numbers as before it existed."""
    df = _vals(spark, seed=19, n=300)
    got = RK.with_global_row_number(df, "v", "id", bucket_div=5)
    want = df.withColumn(
        "rn_w",
        F.row_number().over(Window.orderBy(F.asc("v"), F.asc("id"))),
    )
    joined = got.join(want, ["id", "v"])
    assert joined.filter(F.col("rn") != F.col("rn_w")).count() == 0


def _rank_from_stats(df, total=None):
    """with_global_row_number_from_stats over `df` with its own (min, max)
    of `v` riding a 1-row broadcast — the shape q_rfm_segments uses."""
    stats = df.agg(
        F.min("v").cast("bigint").alias("lo"),
        F.max("v").cast("bigint").alias("hi"),
    )
    return RK.with_global_row_number_from_stats(
        df.crossJoin(F.broadcast(stats)), "v", "id", "lo", "hi", total=total
    )


def test_auto_bucket_matches_window_wide_domain(spark):
    """Auto-derived bucket width (with_global_row_number_from_stats
    over the input's own range stats) on a WIDE seeded domain (the r9
    verdict #5 scenario that fixture-tuned divisors drift on): range
    stats derive the width in-plan, the result equals the
    single-partition window ranking, and the histogram stays bounded
    (no MAX_BUCKETS trip)."""
    # span ~9.2e18/1e6: values spread over ~1e13 — any fixed
    # fixture-tuned divisor would blow the histogram or collapse it
    df = spark.range(2000).select(
        F.col("id"),
        (F.xxhash64(F.col("id") + 3) / 1_000_000).cast("bigint").alias("v"),
    )
    got = _rank_from_stats(df, total="n_all")
    want = df.withColumn(
        "rn_w",
        F.row_number().over(Window.orderBy(F.asc("v"), F.asc("id"))),
    )
    joined = got.join(want, ["id", "v"])
    assert joined.filter(F.col("rn") != F.col("rn_w")).count() == 0
    assert got.filter(F.col("n_all") != 2000).count() == 0


def test_auto_bucket_degenerate_domains(spark):
    """Constant column (span 0) and tiny inputs must still rank
    exactly — the width clamps to 1 and everything lands in bucket 0."""
    one = spark.range(5).select(F.col("id"), F.lit(42).cast("bigint").alias("v"))
    got = _rank_from_stats(one)
    assert [r["rn"] for r in got.orderBy("id").collect()] == [1, 2, 3, 4, 5]

    single = spark.range(1).select(F.col("id"), F.lit(-7).cast("bigint").alias("v"))
    assert _rank_from_stats(single).collect()[0]["rn"] == 1


def test_auto_bucket_histogram_bounded_by_target(spark, monkeypatch):
    """The histogram cardinality is ≤ ~2·TARGET_BUCKETS BY
    CONSTRUCTION, independent of the domain — the property that makes
    the stats-derived width immune to domain drift. A 64-bucket target
    keeps the bound far below the 5000 input rows."""
    monkeypatch.setattr(RK, "TARGET_BUCKETS", 64)
    df = spark.range(5000).select(
        F.col("id"), F.xxhash64("id").cast("bigint").alias("v")
    )
    got = _rank_from_stats(df)
    # recompute the bucket column the same way and count distinct
    stats = df.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).first()
    width = max(stats["hi"] // 64 - stats["lo"] // 64, 1)
    n_buckets = (
        df.select(F.expr(f"v div {width}")).distinct().count()
    )
    assert n_buckets <= 2 * 64 + 2
    # and the ranking is still exact
    want = df.withColumn(
        "rn_w", F.row_number().over(Window.orderBy(F.asc("v"), F.asc("id")))
    )
    assert (
        got.join(want, ["id", "v"])
        .filter(F.col("rn") != F.col("rn_w"))
        .count()
        == 0
    )


def test_from_stats_matches_auto(spark):
    """with_global_row_number_from_stats (caller-supplied range-stat
    columns — the shared-broadcast path q_rfm_segments uses) must equal
    with_global_row_number at the auto-derived width, computed here on
    the driver from the same (min, max), on a wide seeded domain."""
    df = spark.range(2000).select(
        F.col("id"),
        (F.xxhash64(F.col("id") + 3) / 1_000_000).cast("bigint").alias("v"),
    )
    lo, hi = df.agg(F.min("v"), F.max("v")).first()
    t = RK.TARGET_BUCKETS

    def div(a, b):  # SQL `div` truncates toward zero
        return abs(a) // b * (1 if a >= 0 else -1)

    width = max(div(hi, t) - div(lo, t), 1)
    got = _rank_from_stats(df, total="n_all")
    want = RK.with_global_row_number(df, "v", "id", bucket_div=width, total="n_all")
    joined = got.join(
        want.withColumnRenamed("rn", "rn_a").withColumnRenamed(
            "n_all", "n_a"
        ),
        ["id", "v"],
    )
    assert joined.count() == 2000
    assert joined.filter(
        (F.col("rn") != F.col("rn_a")) | (F.col("n_all") != F.col("n_a"))
    ).count() == 0


def test_grouped_rank_matches_per_group_window(spark):
    """group_cols: per-group exact row numbers from ONE plan must equal
    a per-group window ranking (the multi-axis collapse q_rfm_segments
    uses), including per-group totals."""
    df = spark.range(3000).select(
        F.col("id"),
        (F.xxhash64(F.col("id")) % 3).cast("string").alias("g"),
        ((F.xxhash64(F.col("id") + 11) % 97) - 48).cast("bigint").alias("v"),
    )
    stats = df.groupBy("g").agg(
        F.min("v").cast("bigint").alias("lo"),
        F.max("v").cast("bigint").alias("hi"),
    )
    got = RK.with_global_row_number_from_stats(
        df.join(F.broadcast(stats), "g"), "v", "id", "lo", "hi",
        total="n_g", group_cols=("g",),
    )
    want = df.withColumn(
        "rn_w",
        F.row_number().over(
            Window.partitionBy("g").orderBy(F.asc("v"), F.asc("id"))
        ),
    ).withColumn("n_w", F.count("*").over(Window.partitionBy("g")))
    joined = got.join(want, ["g", "id", "v"])
    assert joined.filter(
        (F.col("rn") != F.col("rn_w")) | (F.col("n_g") != F.col("n_w"))
    ).count() == 0
