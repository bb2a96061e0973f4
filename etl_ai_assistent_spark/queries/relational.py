"""Relational analytics suite (SURVEY.md §2.6 ● extensions).

The reference has no joins/aggs/windows/set-ops; the engine ships Spark's
full relational surface and registers one oracle-checked query per
category over the TPC-H-ish star schema.

Float discipline: every order-sensitive aggregate (SUM/AVG over DOUBLE)
is computed on DECIMAL (exact, order-independent) and cast to DOUBLE at
the end — bit-identical across engines and across Spark task scheduling,
with no rounding tolerance needed. Source money columns have 2 decimals
(fits DECIMAL(12,2)); discount/tax have 2 decimals (DECIMAL(3,2)).

Scale notes are on each query: what shuffles, what broadcasts, what AQE
does at 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from .. import store as ST
from ..functions import cents, cents_sql, units_to_double
from ..registry import register
from ..substrates import cached_substrates


def _exact_unit_sums(
    df: DataFrame,
    groups: list[str],
    measures: dict[str, "F.Column"],
) -> DataFrame:
    """Exact grouped money sums WITHOUT high-precision decimal
    aggregation buffers — the hot path stays pure bigint.

    Why: sum(decimal(>18 digits)) can't live in a mutable UnsafeRow
    slot, so every row allocates through the BigDecimal path. Measured
    on the sf10 fixture (60M rows, quiet windows): the decimal chain
    ran 112-365 s at 87-91% KERNEL time (allocation/GC churn
    amplifying scheduler noise — the exact signature rounds 10-12
    blamed on co-tenant storms) vs 0.7-0.9 s for the identical double
    sums; this rewrite lands 5-8 s warm with bit-identical results.

    How: measures are EXACT bigint unit expressions (products of
    HALF_UP-rounded integer units, e.g. price_cents × (100-disc_c) ×
    (100+tax_c) in 10^-6 units — identical integers to the decimal
    product at scale 6). Level 1 partial-sums per (groups,
    spark_partition_id()): a partition's row count is bounded by
    spark.sql.files.maxPartitionBytes at ANY corpus scale, so the
    per-bucket bigint sums cannot overflow (≈4M rows × ≤1.1e11/row ≈
    4e17 « 2^63) — the overflow bound rides partition SIZE, not table
    size. Scope of that bound (ADVICE r12): it is airtight only when
    `df` is a RAW SCAN. For post-join/post-shuffle inputs
    (q_trade_volume, q_market_share, q_revenue_by_nation),
    spark_partition_id() reflects shuffle/AQE partitions, whose row
    counts are governed by spark.sql.adaptive.advisoryPartitionSizeInBytes
    plus AQE skew-splitting rather than maxPartitionBytes; a
    pathologically skewed join key could in principle concentrate
    ~7.7e7 rows × ~1.2e11 units in one bucket and wrap silently in
    non-ANSI mode. Deployments running joined inputs at extreme skew
    should keep AQE skew-join handling on (this engine's default) or
    salt the bucket key; the margin at the advisory default is ~200×.
    Level 2 sums the |groups|·|partitions| bucket partials as
    decimal(38,0) — exact, and the BigDecimal cost is paid on bucket
    rows, not data rows. Bucket assignment is non-deterministic under
    retries, but the regrouped total is bucket-invariant, so the
    result is deterministic. Returns one row per group with each
    measure as decimal(38,0) unit totals plus `_n` (count)."""
    lvl1 = df.groupBy(
        *groups, F.spark_partition_id().alias("_b")
    ).agg(
        *[F.sum(expr).alias(name) for name, expr in measures.items()],
        F.count("*").alias("_n"),
    )
    return lvl1.groupBy(*groups).agg(
        *[
            F.sum(F.col(name).cast("decimal(38,0)")).alias(name)
            for name in measures
        ],
        F.sum("_n").cast("bigint").alias("_n"),
    )


# --- aggregation: TPC-H Q1 shape -----------------------------------------

@register(
    "q_pricing_summary",
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
       AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
           * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2))))
       AS DOUBLE) AS sum_charge,
  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
  CAST(sum(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary. One scan + TWO-LEVEL exact hash agg:
    bigint unit sums per (group, partition) — allocation-free
    whole-stage codegen — then a bucket-count-sized exact decimal
    fold (_exact_unit_sums; the r12 rewrite off the measured 112-365 s
    sum(decimal(22+,·)) BigDecimal churn at sf10 vs 5-8 s for this
    plan, bit-identical output). The shipdate predicate pushes to the
    parquet scan; the shuffle carries |flags|·|partitions| partial
    rows."""
    li = io.load_table(spark, sf_dir, "lineitem")
    qty_u = cents("l_quantity")
    price_u = cents("l_extendedprice")
    disc_u = cents("l_discount")
    tax_u = cents("l_tax")
    base = li.filter(
        F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp")
    )
    totals = _exact_unit_sums(
        base,
        ["l_returnflag", "l_linestatus"],
        {
            # scales: qty/price 10^-2; disc_price 10^-4; charge 10^-6 —
            # the exact integers the decimal(·,2/4/6) products carry
            "_qty": qty_u,
            "_price": price_u,
            "_disc": disc_u,
            "_disc_price": price_u * (100 - disc_u),
            "_charge": price_u * (100 - disc_u) * (100 + tax_u),
        },
    )
    return totals.select(
        "l_returnflag",
        "l_linestatus",
        units_to_double("_qty", 2).alias("sum_qty"),
        units_to_double("_price", 2).alias("sum_base_price"),
        units_to_double("_disc_price", 4).alias("sum_disc_price"),
        units_to_double("_charge", 6).alias("sum_charge"),
        (units_to_double("_qty", 2) / F.col("_n")).alias("avg_qty"),
        (units_to_double("_price", 2) / F.col("_n")).alias("avg_price"),
        (units_to_double("_disc", 2) / F.col("_n")).alias("avg_disc"),
        F.col("_n").alias("count_order"),
    )


# --- multi-way join: TPC-H Q5 shape ---------------------------------------

@register(
    "q_revenue_by_nation",
    oracle="""
SELECT
  n.n_name,
  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2))))
       AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM customer c
JOIN orders o    ON c.c_custkey = o.o_custkey
JOIN lineitem l  ON o.o_orderkey = l.l_orderkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n    ON s.s_nationkey = n.n_nationkey
JOIN region r    ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
""",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join. region/nation are FIXED-size (5/25
    rows at every SF) -> explicit broadcast hints. customer/supplier GROW
    with SF (customer = 150k×SF rows), so they get NO hint: an explicit
    hint overrides spark.sql.autoBroadcastJoinThreshold and would
    force-broadcast a multi-GB table at 100× scale — instead AQE picks
    broadcast-hash while they fit under the threshold and falls back to
    shuffle-hash/sort-merge (with skew handling) when they don't. The
    only guaranteed big exchange is orders⋈lineitem on orderkey."""
    c = io.load_table(spark, sf_dir, "customer")
    o = io.load_table(spark, sf_dir, "orders")
    li = io.load_table(spark, sf_dir, "lineitem")
    s = io.load_table(spark, sf_dir, "supplier")
    n = io.load_table(spark, sf_dir, "nation")
    r = io.load_table(spark, sf_dir, "region")

    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
    )
    # revenue rides the exact bigint-unit two-level sum (10^-4 units of
    # price_cents × (100 - disc_c)) — same BigDecimal-churn avoidance
    # as q_pricing_summary, bit-identical to the decimal-sum oracle
    price_u, disc_u = cents("l_extendedprice"), cents(
        "l_discount"
    )
    totals = _exact_unit_sums(
        joined, ["n_name"], {"_rev": price_u * (100 - disc_u)}
    )
    return totals.select(
        "n_name",
        units_to_double("_rev", 4).alias("revenue"),
        F.col("_n").alias("n_items"),
    )


# --- window: top-k per group ----------------------------------------------

@register(
    "q_top_orders_per_customer",
    oracle="""
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
)
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
""",
)
def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer. One hash exchange on custkey + in-
    partition sort; row_number (not rank) with an orderkey tiebreak keeps
    it deterministic. totalprice passes through unaggregated -> exact."""
    o = io.load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


# --- window: running aggregate ---------------------------------------------

@register(
    "q_running_revenue",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
            OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
FROM orders
WHERE o_custkey < 100
""",
)
def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer spend in order-date order. The prefix sum
    runs in exact bigint CENTS (a customer-lifetime total in cents
    sits far under 2^63), widened to the oracle's double per row —
    the window twin of the _exact_unit_sums rule: sum(decimal(22,2))
    would allocate BigDecimal once per row per frame step. ROWS frame
    with an orderkey tiebreak makes the prefix deterministic under
    date ties."""
    o = io.load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        units_to_double(
            F.sum(cents("o_totalprice")).over(w), 2
        ).alias("running_spend"),
    )


# --- cube / rollup ----------------------------------------------------------

@register(
    "q_cube_quantity",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def q_cube_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 4 grouping sets in one
    pass (Catalyst Expand + single shuffle, not 4 scans)."""
    li = io.load_table(spark, sf_dir, "lineitem")
    # exact bigint qty-cents through the Expand (≤5000/row: a long sum
    # is safe past 10^15 rows), widened once — no per-row BigDecimal
    return li.cube("l_returnflag", "l_linestatus").agg(
        units_to_double(F.sum(cents("l_quantity")), 2).alias(
            "sum_qty"
        ),
        F.count("*").alias("n"),
    )


@register(
    "q_rollup_orders",
    oracle="""
SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderstatus,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
       count(*) AS n
FROM orders
GROUP BY ROLLUP (CAST(year(o_orderdate) AS INT), o_orderstatus)
""",
)
def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP by (year, status): hierarchical totals in one shuffle."""
    o = io.load_table(spark, sf_dir, "orders")
    # two-level exact sum THROUGH the rollup: bigint cents per
    # (year, status, partition) first — rollup of partials equals
    # rollup of rows because sum is decomposable — then the rollup
    # folds bucket-count-sized decimal(38,0) partials (totalprice
    # cents run to 5e7/row, so the direct long sum would sit within
    # 1.2x of 2^63 at the 10^11-order scale; the partition-bounded
    # level 1 removes the ceiling entirely)
    lvl1 = (
        o.withColumn("order_year", F.year("o_orderdate").cast("int"))
        .groupBy("order_year", "o_orderstatus", F.spark_partition_id().alias("_b"))
        .agg(
            F.sum(cents("o_totalprice")).alias("_t"),
            F.count("*").alias("_n"),
        )
    )
    return lvl1.rollup("order_year", "o_orderstatus").agg(
        units_to_double(F.sum(F.col("_t").cast("decimal(38,0)")), 2).alias(
            "total"
        ),
        F.sum("_n").cast("bigint").alias("n"),
    )


# --- pivot -------------------------------------------------------------------

@register(
    "q_pivot_linestatus",
    oracle="""
SELECT l_returnflag,
       CAST(sum(CASE WHEN l_linestatus = 'O'
                     THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_O,
       CAST(sum(CASE WHEN l_linestatus = 'F'
                     THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_F
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot on an explicit value list (never let Spark scan for distinct
    pivot values at 100 TB — pass them)."""
    li = io.load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(units_to_double(F.sum(cents("l_quantity")), 2))
    )
    return out.select(
        "l_returnflag",
        F.col("O").alias("qty_O"),
        F.col("F").alias("qty_F"),
    )


# --- semi / anti joins (set-membership) --------------------------------------

@register(
    "q_customers_without_orders",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
""",
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (the 'chunks without embeddings' integrity-check
    shape from SURVEY.md §2.6). The 'P'-status filter keeps the result
    non-empty at every sf; the hash side is the filtered distinct key
    set only."""
    c = io.load_table(spark, sf_dir, "customer")
    o = io.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "P"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "q_active_machinery_customers",
    oracle="""
SELECT c_custkey, c_acctbal
FROM customer c
WHERE c.c_mktsegment = 'MACHINERY'
  AND EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
""",
)
def q_active_machinery_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join with pushed-down filters on both sides."""
    c = io.load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "MACHINERY"
    )
    o = io.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_acctbal"
    )


# --- set operations -----------------------------------------------------------

@register(
    "q_except_event_hours",
    oracle="""
SELECT (epoch_us(ts) // 1000000) // 3600 AS hour_id
FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT (epoch_us(ts) // 1000000) // 3600 AS hour_id
FROM events WHERE event_type = 'error'
""",
)
def q_except_event_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — the version-diff query shape (SURVEY.md §2.6
    set ops): hours that saw purchases but no errors. Spark plans it as
    a distinct left-anti."""
    e = io.load_events(spark, sf_dir).withColumn(
        "hour_id", F.expr("(ts_us DIV 1000000) DIV 3600")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select("hour_id")
    errors = e.filter(F.col("event_type") == "error").select("hour_id")
    return purchases.subtract(errors)  # EXCEPT DISTINCT, unlike exceptAll


@register(
    "q_nation_intersect",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def q_nation_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = io.load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = io.load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


# --- stats: exact distinct + order statistics ----------------------------------

@register(
    "q_priority_stats",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers,
       CAST(min(o_totalprice) AS DOUBLE) AS min_price,
       CAST(max(o_totalprice) AS DOUBLE) AS max_price,
       round(quantile_cont(o_totalprice, 0.5), 4) AS median_price
FROM orders
GROUP BY o_orderpriority
""",
)
def q_priority_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority stats: exact COUNT DISTINCT (two-level agg under the
    hood) and an exact interpolated median. At 100 TB you'd reach for
    approx_count_distinct / percentile_approx — exposed by the engine but
    kept out of the oracle gate because sketch outputs are
    engine-specific."""
    o = io.load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.count_distinct("o_custkey").alias("n_customers"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.round(F.percentile("o_totalprice", 0.5), 4).alias("median_price"),
    )


@register(
    "q_grouping_sets",
    oracle="""
SELECT o_orderpriority, o_orderstatus,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
       CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS BIGINT)
         AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
""",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than cube/rollup): chosen set list
    with grouping_id disambiguating the all-rows stratum from real NULL
    keys. Catalyst expands to a single Expand+hash-agg — one shuffle."""
    io.load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
               CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
                    AS BIGINT) AS gid
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), ())
        """
    )


@register(
    "q_value_percentiles",
    oracle="""
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events
GROUP BY event_type
""",
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (Spark `percentile`
    == DuckDB quantile_cont: both sort-and-interpolate). At 100 TB the
    approximate twin is percentile_approx (t-digest sketch, mergeable
    map-side) — exact here because the oracle gate demands exactness."""
    e = io.load_events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


@register(
    "q_ntile_segments",
    oracle="""
WITH t AS (
  SELECT c_mktsegment,
         ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS quartile
  FROM customer
)
SELECT c_mktsegment, CAST(quartile AS INT) AS quartile, count(*) AS n
FROM t GROUP BY 1, 2
""",
)
def q_ntile_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) wealth quartiles over customers crossed with market
    segment — the cohort-bucketing window. Deterministic because the
    ORDER BY carries a unique tie-break key (c_custkey); without it
    ntile boundaries are engine-dependent.

    NOT computed with a global ntile window: customer grows with SF,
    and an unpartitioned window is an Exchange SinglePartition (the
    plan-lint ban). Instead the exact global row number comes from
    operators/rank.py's bounded-histogram pattern — acctbal is exact
    cents (2-decimal TPC-H domain, ~1.1M possible values), bucketed
    into ~110 coarse cells whose running sum is the only global window
    left (histogram-sized, SF-constant), then ntile_on reproduces SQL
    tile assignment exactly from (rn, N). Oracle stays the plain
    ntile() — the gate proves the distributed rewrite is the same
    function."""
    from ..operators import rank as RK

    c = io.load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        # DESC acctbal == ASC negated exact cents (order-preserving)
        (-F.col("c_acctbal").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("neg_cents"),
    )
    ranked = RK.with_global_row_number(
        c, "neg_cents", "c_custkey", bucket_div=10_000, total="n_cust"
    )
    return (
        ranked.select(
            "c_mktsegment",
            RK.ntile_on(4, "rn", "n_cust").alias("quartile"),
        )
        .groupBy("c_mktsegment", "quartile")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_orders_above_cust_avg",
    oracle="""
WITH avgs AS (
  SELECT o_custkey, avg(CAST(o_totalprice AS DECIMAL(12,2))) AS cavg
  FROM orders GROUP BY o_custkey
)
SELECT o.o_orderkey, o.o_custkey,
       CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS totalprice
FROM orders o JOIN avgs a ON a.o_custkey = o.o_custkey
WHERE CAST(o.o_totalprice AS DECIMAL(12,2)) > a.cavg
""",
)
def q_orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (each order vs its customer's average
    order value), written as correlated SQL and decorrelated by Catalyst
    into the same aggregate+join the oracle states explicitly — the
    rewrite is the point: no per-row subquery execution ever happens.
    DECIMAL comparison keeps the boundary exact."""
    io.load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS totalprice
        FROM orders o
        WHERE CAST(o_totalprice AS DECIMAL(12,2)) > (
            SELECT avg(CAST(i.o_totalprice AS DECIMAL(12,2)))
            FROM orders i WHERE i.o_custkey = o.o_custkey
        )
        """
    )


@register(
    "q_full_outer_reconcile",
    oracle="""
WITH order_tot AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
  FROM orders GROUP BY o_custkey
)
SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
       c.c_custkey IS NOT NULL AS in_customer,
       o.o_custkey IS NOT NULL AS has_orders,
       COALESCE(o.n_orders, 0) AS n_orders,
       COALESCE(o.total, CAST(0 AS DOUBLE)) AS order_total
FROM customer c
FULL OUTER JOIN order_tot o ON o.o_custkey = c.c_custkey
""",
)
def q_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation (the two-system audit shape): every
    customer and every ordering custkey, with presence flags on both
    sides and zero-defaulted aggregates — rows missing from either side
    surface instead of vanishing. Completes the §2.6 join matrix
    (equi/broadcast/semi/anti/as-of/range/full-outer). Exact bigint
    CENTS per customer (orders-per-customer is a fixed dbgen ratio,
    so the per-group total sits forever under 2^63 — no BigDecimal
    buffer), widened to DOUBLE once."""
    customer = io.load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = io.load_table(spark, sf_dir, "orders")
    order_tot = orders.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        units_to_double(
            F.sum(cents("o_totalprice")), 2
        ).alias("total"),
    )
    j = customer.join(
        order_tot, customer["c_custkey"] == order_tot["o_custkey"], "full_outer"
    )
    return j.select(
        F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
        F.col("c_custkey").isNotNull().alias("in_customer"),
        F.col("o_custkey").isNotNull().alias("has_orders"),
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("bigint").alias("n_orders"),
        F.coalesce(F.col("total"), F.lit(0.0)).alias("order_total"),
    )


@register(
    "q_unpivot_part_metrics",
    oracle="""
SELECT p_partkey, metric, CAST(value AS DOUBLE) AS value
FROM (SELECT p_partkey,
             CAST(p_size AS DOUBLE) AS p_size,
             CAST(p_retailprice AS DOUBLE) AS p_retailprice
      FROM part WHERE p_partkey < 500)
UNPIVOT (value FOR metric IN (p_size, p_retailprice))
""",
)
def q_unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt (the inverse of q_pivot_linestatus): wide per-part
    metric columns to long (key, metric, value) form — the shape feature
    stores and metric warehouses ingest. Native `unpivot` keeps it one
    narrow codegen'd projection (each input row fans out to n_metrics
    rows, no shuffle at all)."""
    part = (
        io.load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 500)
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("p_size"),
            F.col("p_retailprice").cast("double").alias("p_retailprice"),
        )
    )
    return part.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# --- CDC MERGE (lakehouse upsert/delete apply) -----------------------------

# The deterministic CDC batch and its merge oracle are SHARED with the
# streaming twin (queries/streaming.q_stream_cdc_merge builds the same
# batches split by op): the streaming query's correctness argument is
# "drained snapshot == single-batch merge", so both sides must reference
# ONE definition — editing the batch rule here updates both in lock-step.

# the change batch as standalone SQL — shared by the merge oracle and
# q_snapshot_diff's oracle (diff(v0, merge(v0, ch)) must equal ch)
CDC_CHANGES_SQL = """
  SELECT c_custkey, 'U' AS op, c_name, c_nationkey,
         c_acctbal + 100.0 AS c_acctbal, 'UPDATED' AS c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, 'D', c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 17 = 3 AND c_custkey % 10 <> 0
  UNION ALL
  SELECT c_custkey + 100000000, 'I',
         'NEW#' || CAST(c_custkey + 100000000 AS VARCHAR),
         CAST(c_custkey % 25 AS INTEGER), CAST(0.0 AS DOUBLE), 'NEWSEG'
  FROM customer WHERE c_custkey < 50
"""

CDC_MERGE_ORACLE = f"""
WITH changes AS ({CDC_CHANGES_SQL})
SELECT COALESCE(ch.c_custkey, t.c_custkey) AS c_custkey,
       CASE WHEN ch.op IS NOT NULL THEN ch.c_name
            ELSE t.c_name END AS c_name,
       CASE WHEN ch.op IS NOT NULL THEN ch.c_nationkey
            ELSE t.c_nationkey END AS c_nationkey,
       CASE WHEN ch.op IS NOT NULL THEN ch.c_acctbal
            ELSE t.c_acctbal END AS c_acctbal,
       CASE WHEN ch.op IS NOT NULL THEN ch.c_mktsegment
            ELSE t.c_mktsegment END AS c_mktsegment
FROM customer t FULL OUTER JOIN changes ch ON ch.c_custkey = t.c_custkey
WHERE ch.op IS NULL OR ch.op <> 'D'
"""


def cdc_change_batches(c: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The deterministic (updates, deletes, inserts) CDC batches over a
    customer snapshot — keys are mutually DISJOINT (update wins the
    %10/%17 overlap; inserts land at custkey+1e8, beyond every SF's key
    range), so applying them in any order or all at once yields the
    same snapshot."""
    updates = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.lit("U").alias("op"),
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    deletes = c.filter(
        (F.col("c_custkey") % 17 == 3) & (F.col("c_custkey") % 10 != 0)
    ).select(
        "c_custkey",
        F.lit("D").alias("op"),
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    inserts = c.filter(F.col("c_custkey") < 50).select(
        (F.col("c_custkey") + 100000000).alias("c_custkey"),
        F.lit("I").alias("op"),
        F.concat(
            F.lit("NEW#"), (F.col("c_custkey") + 100000000).cast("string")
        ).alias("c_name"),
        (F.col("c_custkey") % 25).cast("int").alias("c_nationkey"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEWSEG").alias("c_mktsegment"),
    )
    return updates, deletes, inserts


@register("q_cdc_merge", oracle=CDC_MERGE_ORACLE)
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE apply (operators/merge.py): a deterministic change
    batch — full-row updates for custkey%10=0, deletes for custkey%17=3
    (update wins the overlap), 50 inserts at custkey+1e8 (beyond every
    SF's key range: TPC-H customer keys are 150k×SF, so the at-most-one
    -change-per-key merge precondition holds at any scale) — applied
    to the customer snapshot with ONE keyed full-outer join: the
    engine's `MERGE INTO` without a table format. At scale the change
    side is CDC-batch-sized (AQE broadcasts it); the snapshot pays at
    most its single keyed exchange, zero with bucketing."""
    from ..operators.merge import merge_apply

    c = io.load_table(spark, sf_dir, "customer")
    updates, deletes, inserts = cdc_change_batches(c)
    changes = updates.unionByName(deletes).unionByName(inserts)
    return merge_apply(c, changes, key="c_custkey")


@register("q_cdc_mor", oracle=CDC_MERGE_ORACLE)
def q_cdc_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read CDC (operators/mor.py) — the write-cheap tier that
    completes the CoW/MoR pair with q_cdc_merge / q_stream_cdc_merge:
    the same three deterministic change batches are APPENDED to a
    seq-stamped delta log on disk (write cost = batch size; the base
    customer snapshot is never rewritten), and the snapshot is merged
    at READ time — latest-wins per key over base ∪ log, deletes
    dropped. Same batches ⇒ the CoW oracle verifies the MoR read
    bit-for-bit.

    Scale: each commit writes |batch| rows (CoW writes |snapshot|); a
    read costs one keyed shuffle over |base| + |log|, and the log stays
    bounded by periodic compaction (operators/mor.compact →
    compact_fixed_width; read-amplification evidence in
    tests/test_mor.py)."""
    import os

    from ..operators import mor as MOR

    c = io.load_table(spark, sf_dir, "customer")
    root = ST.corpus_path("spark_graft_mor_v1", sf_dir, "customer")
    batches = cdc_change_batches(c)

    def build(tmp: str) -> None:
        for seq, batch in enumerate(batches, start=1):
            MOR.stamp_batch(batch, seq).write.parquet(
                os.path.join(tmp, f"batch_{seq}")
            )

    ST.publish(
        root,
        build,
        validate=lambda p: ST.has_success(
            p, *(f"batch_{seq}" for seq in range(1, len(batches) + 1))
        ),
    )
    log = spark.read.parquet(os.path.join(root, "batch_*"))
    return MOR.resolve(c, log, key="c_custkey")


@register(
    "q_incremental_agg",
    oracle=f"""
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum({cents_sql('c_acctbal')}) AS BIGINT)
         AS sum_acctbal_cents
FROM ({CDC_MERGE_ORACLE.strip()})
GROUP BY 1
""",
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance
    (operators/incremental.py): the per-nation (count, Σ acctbal-cents)
    summary is kept current under the shared CDC batch by APPLYING
    DELTAS — matched updates/deletes retract the old row's
    contribution, inserts and updates add the new one — instead of
    re-aggregating the merged snapshot. The oracle IS that full
    recompute (GROUP BY over the CDC-merge result), so the gate proves
    delta maintenance ≡ recomputation, bit-for-bit (bigint cents via
    the floor(x*100+0.5) idiom both engines share).

    Scale: per batch this costs one keyed join of the CDC batch against
    the base (batch broadcasts) plus a groups-sized merge — O(|changes|
    + |groups|), never a rescan of the fact table. Group MOVES (an
    update that changes c_nationkey) retract at the old group and add
    at the new one; tests/test_incremental.py exercises that path on
    synthetic data."""
    from ..operators.incremental import incremental_group_sums

    c = io.load_table(spark, sf_dir, "customer")
    acct_cents = cents("c_acctbal")
    c = c.withColumn("acct_cents", acct_cents)
    base_agg = c.groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("acct_cents").cast("bigint").alias("sum_measure"),
    )
    updates, deletes, inserts = cdc_change_batches(
        io.load_table(spark, sf_dir, "customer")
    )
    changes = (
        updates.unionByName(deletes)
        .unionByName(inserts)
        .withColumn("acct_cents", acct_cents)
    )
    out = incremental_group_sums(
        base_agg,
        c,
        changes,
        key="c_custkey",
        group_col="c_nationkey",
        measure_col="acct_cents",
    )
    return out.select(
        "c_nationkey",
        F.col("n").alias("n_customers"),
        F.col("sum_measure").alias("sum_acctbal_cents"),
    )


@register(
    "q_snapshot_diff",
    oracle=f"""
SELECT * FROM ({CDC_CHANGES_SQL})
""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed generation (operators/merge.snapshot_diff): the
    INVERSE of the merge — diff the base customer snapshot against the
    CDC-merged snapshot and recover the change batch. One keyed
    full-outer join classifies each key as I (new only), D (old only,
    full-row-image values), or U (both present, any non-key column
    null-safe-differs); identical rows vanish. The oracle is the change
    batch itself, so the gate proves the round-trip law
    diff(v0, merge(v0, ch)) == ch exactly — which also re-verifies the
    merge from a second direction.

    Scale: the diff is the snapshots' one keyed exchange (zero with
    both versions bucketed on the key); the column comparison is
    codegen `<=>` conjunctions. This is what replication bootstraps
    from when no upstream CDC feed exists, and what a lakehouse serves
    as a change data feed between committed versions."""
    from ..operators.merge import merge_apply, snapshot_diff

    c = io.load_table(spark, sf_dir, "customer")
    updates, deletes, inserts = cdc_change_batches(c)
    changes = updates.unionByName(deletes).unionByName(inserts)
    merged = merge_apply(c, changes, key="c_custkey")
    return snapshot_diff(c, merged, key="c_custkey")


# --- window-function breadth: rank/distribution/frame-navigation ------------


@register(
    "q_window_family",
    oracle="""
SELECT o_custkey, o_orderkey,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd,
       first_value(o_orderkey) OVER wf AS first_key,
       nth_value(o_orderkey, 2) OVER wf AS second_key,
       last_value(o_orderkey) OVER wf AS last_key
FROM orders
WHERE o_custkey < 100
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def q_window_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining window-function families in one query:
    distribution ranks (percent_rank, cume_dist) and frame navigation
    (first_value / nth_value / last_value over the full-partition
    frame). The ORDER BY includes the unique orderkey, so peers are
    single rows and both rank doubles are exact small-integer divisions
    (IEEE-identical on every engine — no rounding needed).

    Scale: one hash exchange on custkey + one in-partition sort serves
    all five functions (Spark collapses same-window expressions into a
    single Window physical node)."""
    o = io.load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.first("o_orderkey").over(wf).alias("first_key"),
        F.nth_value("o_orderkey", 2).over(wf).alias("second_key"),
        F.last("o_orderkey").over(wf).alias("last_key"),
    )


# --- multi-join shapes: TPC-H Q7 / Q8 / Q22 ------------------------------

@register(
    "q_trade_volume",
    oracle="""
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(volume) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
         CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
           AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
  WHERE s.s_nationkey < 6 AND c.c_nationkey < 6
    AND s.s_nationkey != c.c_nationkey
    AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
) GROUP BY 1, 2, 3
""",
)
def q_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (bilateral nation-pair trade volume by ship
    year, cross-pairs within a 6-nation trading bloc). Reference
    parity: the relational surface the reference's store queries imply
    (scripts/services/qdrant_service.py:24-42 works per-record; this
    is the set-oriented equivalent family).

    Plan shape: the two nation joins hit the SAME 25-row dimension
    under two aliases — both broadcast (fixed-size at every SF). The
    nationkey bloc filters push into the supplier/customer scans
    BEFORE their joins (shrinking both build sides ~4×), and the
    inequality runs as a residual on the joined rows. customer/supplier carry no
    hint (they grow with SF; AQE decides). The ship-date filter is
    pushed to the lineitem scan, so the only big exchange is
    orders⋈lineitem. Revenue folds in DECIMAL(12,2) exactly, cast to
    double only at the end."""
    s = io.load_table(spark, sf_dir, "supplier")
    li = io.load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = io.load_table(spark, sf_dir, "orders")
    c = io.load_table(spark, sf_dir, "customer")
    n1 = io.load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = io.load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    s = s.filter(F.col("s_nationkey") < 6)
    c = c.filter(F.col("c_nationkey") < 6)
    j = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
    )
    # revenue through the exact bigint-unit two-level sum (10^-4
    # units) — the group count is tiny (bloc² × years) so every group
    # funnels millions of rows through what was a BigDecimal buffer
    price_u = cents("l_extendedprice")
    disc_u = cents("l_discount")
    totals = _exact_unit_sums(
        j.withColumn("l_year", F.year("l_shipdate").cast("bigint")),
        ["supp_nation", "cust_nation", "l_year"],
        {"_rev": price_u * (100 - disc_u)},
    )
    return totals.select(
        "supp_nation",
        "cust_nation",
        "l_year",
        units_to_double("_rev", 4).alias("revenue"),
        F.col("_n").alias("n_items"),
    )


@register(
    "q_market_share",
    oracle="""
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume
                           ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share,
       count(*) AS n_items
FROM (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         n2.n_name AS supp_nation,
         CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
           AS volume
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
  JOIN region r   ON n1.n_regionkey = r.r_regionkey
  JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO'
) GROUP BY 1
""",
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_1's share of EUROPE's PROMO-part
    consumption by order year — an 8-way join with a conditional
    aggregate ratio. Numerator and denominator both fold in
    DECIMAL(12,2) exactly; the single double division at the end is
    IEEE-identical across engines and rounded to 6 places on both
    sides (the repo's float discipline).

    Plan shape: nation (twice) and region broadcast (fixed 25/5 rows
    at every SF); the p_type filter is pushed into the part scan and
    part⋈lineitem prunes the fact table FIRST, so downstream joins see
    only PROMO rows. customer/supplier/part get no hint — they grow
    with SF, AQE decides."""
    p = io.load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = io.load_table(spark, sf_dir, "lineitem")
    s = io.load_table(spark, sf_dir, "supplier")
    o = io.load_table(spark, sf_dir, "orders")
    c = io.load_table(spark, sf_dir, "customer")
    n1 = io.load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = io.load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = io.load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    j = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    # numerator/denominator in exact 10^-4 bigint units through the
    # two-level sum (two groups total — the worst BigDecimal funnel),
    # widened to the oracle's doubles before the share division
    vol_u = cents("l_extendedprice") * (
        100 - cents("l_discount")
    )
    totals = _exact_unit_sums(
        j.withColumn("o_year", F.year("o_orderdate").cast("bigint")),
        ["o_year"],
        {
            "_num": F.when(
                F.col("supp_nation") == "NATION_1", vol_u
            ).otherwise(F.lit(0).cast("bigint")),
            "_den": vol_u,
        },
    )
    return totals.select(
        "o_year",
        F.round(
            units_to_double("_num", 4) / units_to_double("_den", 4), 6
        ).alias("mkt_share"),
        F.col("_n").alias("n_items"),
    )


@register(
    "q_untapped_customers",
    oracle=f"""
WITH cents AS (
  SELECT c_custkey, c_nationkey,
         {cents_sql('c_acctbal')} AS bal_cents
  FROM customer
),
pos AS (SELECT * FROM cents WHERE bal_cents > 0),
g AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS total, count(*) AS n FROM pos)
SELECT c.c_nationkey,
       count(*) AS n_customers,
       CAST(sum(c.bal_cents) AS BIGINT) AS sum_bal_cents
FROM cents c, g
WHERE c.bal_cents * g.n > g.total
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY 1
""",
)
def q_untapped_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-average scalar subquery + NOT EXISTS
    anti-join): customers with an account balance above the average of
    all positive balances who have never placed an order, counted per
    nation ("never" = no order since 2000-01-01 — every synthetic
    customer has SOME order, mirroring Q22's recent-activity window).
    The average comparison is EXACT — integer cross-multiply
    (bal_cents * n > total_cents) instead of a float mean, so no
    rounding is needed on either engine.

    Plan shape: the global (total, n) is a 1-row aggregate crossJoined
    onto customer (bounded broadcast nested loop — the ALLOWED_CROSS
    pattern); the no-orders test is a LEFT ANTI join on o_custkey,
    Spark's native EXISTS-free formulation. At scale: one shuffle for
    the anti join (or none if AQE broadcasts the filtered customer
    side); orders is never aggregated, only semi-probed."""
    c = io.load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        cents("c_acctbal").alias("bal_cents"),
    )
    g = (
        c.filter(F.col("bal_cents") > 0)
        .agg(
            F.sum("bal_cents").cast("bigint").alias("total"),
            F.count("*").alias("n"),
        )
    )
    o = (
        io.load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate")
            >= F.lit("2000-01-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    rich = c.crossJoin(F.broadcast(g)).filter(
        F.col("bal_cents") * F.col("n") > F.col("total")
    )
    untapped = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return untapped.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        F.sum("bal_cents").cast("bigint").alias("sum_bal_cents"),
    )


# --- incremental JOIN-view maintenance (Z-relation deltas) -----------------

LATE_MOD = 97   # o_orderkey % LATE_MOD == 0 → the late-arriving fact batch
MOVE_MOD = 89   # c_custkey % MOVE_MOD == 0 → dimension rows reassigned
MOVE_SHIFT = 7  # reassigned nation = (c_nationkey + MOVE_SHIFT) % 25


@register(
    "q_delta_join_view",
    oracle=f"""
WITH mod_cust AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % {MOVE_MOD} = 0
              THEN (c_nationkey + {MOVE_SHIFT}) % 25
              ELSE c_nationkey END AS c_nationkey
  FROM customer
)
SELECT c.c_nationkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum({cents_sql('o.o_totalprice')}) AS BIGINT)
         AS revenue_cents
FROM orders o JOIN mod_cust c ON o.o_custkey = c.c_custkey
GROUP BY 1
""",
)
def q_delta_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of an aggregate over a JOIN view
    (operators/incremental.delta_join — the Z-relation/DBSP bilinear
    rule Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB with weights multiplying),
    extending q_incremental_agg from single-table group sums to the
    realistic matview: per-nation order count + revenue over
    orders ⋈ customer, kept current under SIMULTANEOUS changes on both
    sides — a late-arriving fact batch (orders with key % {LATE_MOD}
    == 0, weight +1) and a dimension reassignment (customers with key
    % {MOVE_MOD} == 0 move nations: −1 at the old row, +1 at the new).
    The Spark side never re-joins the bases: it aggregates the stored
    pre-change view once and ADDS the signed delta contributions. The
    oracle IS the full recompute over the post-change tables, so the
    gate proves delta maintenance ≡ recomputation bit-for-bit (bigint
    cents; weights and counts are exact integers).

    Scale: the three delta terms join batch-sized inputs against the
    bases (delta sides broadcast; ΔA⋈ΔB is batch×batch); the stored
    view is touched only by a groups-sized full-outer merge —
    O(|ΔA| + |ΔB| + |groups|) per refresh, never a fact-table rescan.
    At 100 TB that is the difference between a seconds-long refresh
    and re-running the warehouse's biggest join."""
    from ..operators.incremental import delta_join

    orders = io.load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        cents("o_totalprice").alias("rev_cents"),
    )
    base_a = orders.filter(F.col("o_orderkey") % LATE_MOD != 0).drop(
        "o_orderkey"
    )
    da = (
        orders.filter(F.col("o_orderkey") % LATE_MOD == 0)
        .drop("o_orderkey")
        .withColumn("_w", F.lit(1).cast("bigint"))
    )

    cust = io.load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_nationkey"
    )
    moved = cust.filter(F.col("custkey") % MOVE_MOD == 0)
    db = moved.select(
        "custkey", "c_nationkey", F.lit(-1).cast("bigint").alias("_w")
    ).unionByName(
        moved.select(
            "custkey",
            ((F.col("c_nationkey") + MOVE_SHIFT) % 25).alias("c_nationkey"),
            F.lit(1).cast("bigint").alias("_w"),
        )
    )

    # the stored view: aggregated once over the PRE-change join (in a
    # deployment this is yesterday's materialized table, not a scan)
    view0 = (
        base_a.join(cust, "custkey")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("rev_cents").cast("bigint").alias("rev"),
        )
    )
    dv = delta_join(base_a, da, cust, db, key="custkey")
    dvagg = dv.groupBy("c_nationkey").agg(
        F.sum("_w").cast("bigint").alias("dn"),
        F.sum(F.col("_w") * F.col("rev_cents")).cast("bigint").alias("dm"),
    )
    merged = view0.join(dvagg, "c_nationkey", "full_outer").select(
        "c_nationkey",
        (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0)))
        .cast("bigint")
        .alias("n_orders"),
        (F.coalesce("rev", F.lit(0)) + F.coalesce("dm", F.lit(0)))
        .cast("bigint")
        .alias("revenue_cents"),
    )
    return merged.filter(F.col("n_orders") > 0)


# --- TPC-H Q21 shape: suppliers who kept orders waiting ---------------------

WAIT_DAYS = 80      # "late" := shipped more than this after the order date
WAIT_NATIONS = 10   # Q21 audits one nation; a band keeps testdata output full
WAIT_TOPN = 100


@register(
    "q_order_waiters",
    oracle=f"""
WITH late_li AS (
  SELECT l.l_orderkey, l.l_suppkey,
         (l.l_shipdate > o.o_orderdate + INTERVAL {WAIT_DAYS} DAY) AS is_late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
),
per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supp
  FROM late_li GROUP BY 1
),
waiters AS (
  SELECT li.l_suppkey, count(*) AS numwait
  FROM late_li li JOIN per_order p ON li.l_orderkey = p.l_orderkey
  WHERE li.is_late AND p.n_supp >= 2 AND p.n_late_supp = 1
  GROUP BY 1
)
SELECT s.s_name, CAST(w.numwait AS BIGINT) AS numwait
FROM waiters w JOIN supplier s ON s.s_suppkey = w.l_suppkey
WHERE s.s_nationkey < {WAIT_NATIONS}
ORDER BY numwait DESC, s.s_name
LIMIT {WAIT_TOPN}
""",
)
def q_order_waiters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's shape (suppliers who kept orders waiting — reference
    capability extension §2.6 multi-join family): suppliers whose late
    lineitem is the ONLY late one in a multi-supplier finished order.
    The textbook formulation is EXISTS + NOT EXISTS — two extra
    self-joins of the biggest table. The Spark-first rewrite computes
    both quantifiers in ONE per-order aggregate (distinct suppliers,
    distinct LATE suppliers) and turns the pair into codegen
    predicates: n_supp >= 2 replaces EXISTS(other supplier),
    n_late_supp = 1 replaces NOT EXISTS(other late supplier) given the
    row itself is late. "Late" is shipdate > orderdate + {WAIT_DAYS}d
    (the testdata schema carries no commit/receipt dates; date
    arithmetic is exact on both engines).

    Scale: lineitem is scanned and shuffled ONCE — the (order,
    supplier) pre-aggregate collapses it before anything is reused; the
    per_os table (bounded by distinct order×supplier pairs,
    a fraction of lineitem) feeds both the per-order quantifier
    aggregate and the winner join, so the textbook plan's two extra
    lineitem exchanges never happen. Orders' status filter pushes to
    the scan. Top-{WAIT_TOPN} is TakeOrderedAndProject with the
    (numwait DESC, s_name) total order, so the result set is
    deterministic."""
    li = io.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        io.load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late_li = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {WAIT_DAYS} DAYS")
        ).alias("is_late"),
    )
    # (order, supplier) granularity first: everything downstream needs
    # only late-row counts per pair. This table feeds TWO branches (the
    # per-order quantifiers and the winner join), which reuse its
    # exchange, so the lineitem⋈orders join above executes once
    per_os = late_li.groupBy("l_orderkey", "l_suppkey").agg(
        F.count(F.when(F.col("is_late"), 1)).cast("bigint").alias("n_late_rows")
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.count(F.when(F.col("n_late_rows") > 0, 1)).alias("n_late_supp"),
    )
    waiters = (
        per_os.filter(F.col("n_late_rows") > 0)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .groupBy("l_suppkey")
        .agg(F.sum("n_late_rows").cast("bigint").alias("numwait"))
    )
    s = io.load_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") < WAIT_NATIONS
    )
    return (
        waiters.join(s, waiters.l_suppkey == s.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(WAIT_TOPN)
    )


# --- TPC-H Q13 shape: outer-join count distribution ------------------------

@register(
    "q_order_count_distribution",
    oracle="""
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(coalesce(o.n_orders, 0) AS BIGINT) AS c_count
  FROM customer c
  LEFT OUTER JOIN (
    SELECT o_custkey, count(*) AS n_orders
    FROM orders
    WHERE o_orderpriority <> '1-URGENT'
    GROUP BY o_custkey
  ) o ON o.o_custkey = c.c_custkey
)
GROUP BY c_count
""",
)
def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): how many customers
    placed exactly k non-urgent orders, INCLUDING the zero bucket —
    the outer-join-then-double-aggregate pattern, where the filter
    lives in the ON clause (equivalently, pre-applied to the orders
    side) so filtered-out customers still appear with count 0, which
    a WHERE after the join would silently drop.

    Scale: the textbook plan outer-joins raw orders onto customer and
    counts after — shuffling every order row keyed by customer. Here
    orders is pre-aggregated to ONE row per customer first (partial
    agg combines map-side), so the outer join carries |customers|
    rows on each side, and the second aggregate's input is exactly
    |customers| rows collapsing to a few dozen count buckets. Both
    shuffles are on already-collapsed data; the priority filter pushes
    to the parquet scan."""
    c = io.load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        io.load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    counts = c.join(
        per_cust, c.c_custkey == per_cust.o_custkey, "left_outer"
    ).select(
        F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("c_count")
    )
    return counts.groupBy("c_count").agg(
        F.count("*").cast("bigint").alias("custdist")
    )


# --- TPC-H Q18 shape: aggregate semi-join (large-quantity orders) ----------

BULK_QTY = 250  # sum(l_quantity) threshold; non-empty at every test sf


@register(
    "q_bulk_orders",
    oracle=f"""
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(b.sum_qty AS DOUBLE) AS sum_qty
FROM (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > {BULK_QTY}
) b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
)
def q_bulk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): customers whose order
    totals more than {BULK_QTY} units. The textbook form is
    `o_orderkey IN (SELECT l_orderkey ... HAVING sum > N)` — an
    aggregate-driven semi-join; here the HAVING aggregate IS the
    driving table and the quantity rides along, so the subquery is
    joined once instead of evaluated as a separate semi-join pass.

    Scale: lineitem collapses to per-order sums first (map-side
    partial agg, one shuffle on l_orderkey); the HAVING filter cuts
    that to the rare bulk orders (~1% of orders), so the joins against
    orders and customer move only qualifying rows — AQE will convert
    both to broadcasts at any scale where the filter is selective.
    DECIMAL sums keep the threshold comparison and output exact."""
    li = io.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    # per-order qty in exact bigint cents (an order has ≤7 lineitems,
    # but there are |orders| groups — the old decimal buffer allocated
    # BigDecimal per group across the whole hash map); the HAVING
    # threshold compares in cents, exact
    bulk = (
        li.groupBy("l_orderkey")
        .agg(F.sum(cents("l_quantity")).alias("_qc"))
        .filter(F.col("_qc") > BULK_QTY * 100)
    )
    o = io.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = io.load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        bulk.join(o, bulk.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            units_to_double("_qc", 2).alias("sum_qty"),
        )
    )


# --- TPC-H Q15 shape: argmax against an aggregate (top supplier) -----------

@register(
    "q_top_revenue_supplier",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
           AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
FROM rev r
JOIN (SELECT max(total_rev) AS mx FROM rev) m ON r.total_rev = m.mx
JOIN supplier s ON s.s_suppkey = r.l_suppkey
""",
)
def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the supplier(s) with maximum
    quarterly revenue — TPC-H's create-view-then-self-compare, kept
    tie-faithful: every supplier AT the max survives, as the spec
    demands, rather than an arbitrary LIMIT 1.

    Scale: revenue is one filtered scan + partial agg keyed on
    suppkey (|suppliers| rows out) in EXACT bigint 10^-4 units —
    lineitems per supplier is a fixed dbgen ratio (~600 at every SF),
    so the per-supplier unit total sits orders of magnitude under
    2^63 at any corpus scale, and the hash map never holds a
    BigDecimal; the max is a 1-row re-aggregation of that small
    table, broadcast back as an equi-join on the exact INTEGER
    revenue (float equality would be a correctness landmine; integer
    equality is not), so no global sort and no single-partition
    window appears anywhere. The shipdate band pushes to the parquet
    scan. The shared rev substrate rides the bounded per-sf cache
    (it feeds both the max and the winner join)."""

    def _build():
        li = io.load_table(spark, sf_dir, "lineitem").select(
            "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"
        )
        return (
            li.filter(
                (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
            )
            .groupBy("l_suppkey")
            .agg(
                F.sum(
                    cents("l_extendedprice")
                    * (100 - cents("l_discount"))
                ).alias("_rev_u")
            )
        )

    rev = cached_substrates("top_rev_supplier", spark, sf_dir, _build)
    mx = rev.agg(F.max("_rev_u").alias("mx"))
    s = io.load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev._rev_u == mx.mx)
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            units_to_double("_rev_u", 4).alias("total_revenue"),
        )
    )


# --- TPC-H Q17 shape: small-quantity-order revenue (correlated avg) ---------

SQR_BRANDS = ("Brand#11", "Brand#23", "Brand#35")


@register(
    "q_small_qty_revenue",
    oracle=f"""
WITH pp AS (
  SELECT p_partkey, p_brand FROM part
  WHERE p_brand IN {SQR_BRANDS!r}
),
pli AS (
  SELECT l.l_partkey, pp.p_brand,
         {cents_sql('l.l_quantity')} AS q_c,
         {cents_sql('l.l_extendedprice')} AS price_c
  FROM lineitem l JOIN pp ON l.l_partkey = pp.p_partkey
),
avgq AS (
  SELECT l_partkey, CAST(sum(q_c) AS BIGINT) AS sum_q,
         CAST(count(*) AS BIGINT) AS n
  FROM pli GROUP BY 1
)
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_small_items,
       CAST(sum(p.price_c) AS BIGINT) AS revenue_cents
FROM pli p JOIN avgq a ON p.l_partkey = a.l_partkey
WHERE p.q_c * 5 * a.n < a.sum_q
GROUP BY 1
""",
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue locked up in SMALL-QUANTITY line items
    — items whose quantity is below 20% of their part's average. The
    textbook correlated scalar subquery (avg per part, re-evaluated
    per row) DECORRELATES into one per-part pre-aggregate joined back
    to the same slice; the 0.2·avg comparison cross-multiplies to the
    exact integer predicate q·5·n < Σq, so no float division ever
    happens (the q_orders_above_cust_avg discipline on a fact×fact
    shape). Quantities and prices enter as half-up cents.

    Scale: the brand filter prunes PART first; the fact join then
    touches only those parts' line items (at 100 TB a runtime bloom /
    DPP filter does this scan-side — the q_bloom_join pattern
    composes). The pre-aggregate and the join-back shuffle on the
    SAME key (l_partkey), so the exchange is reused."""
    part = io.load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = io.load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pp = part.filter(F.col("p_brand").isin(*SQR_BRANDS))
    pli = (
        li.join(pp, li.l_partkey == pp.p_partkey)
        .select(
            "l_partkey",
            "p_brand",
            cents("l_quantity").alias("q_c"),
            cents("l_extendedprice").alias("price_c"),
        )
    )
    avgq = pli.groupBy("l_partkey").agg(
        F.sum("q_c").cast("bigint").alias("sum_q"),
        F.count("*").cast("bigint").alias("n"),
    )
    return (
        pli.join(avgq, "l_partkey")
        .filter(F.col("q_c") * 5 * F.col("n") < F.col("sum_q"))
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_small_items"),
            F.sum("price_c").cast("bigint").alias("revenue_cents"),
        )
    )


# --- interval union (gaps-and-islands) ---------------------------------------

IU_WINDOW_DAYS = 7  # each shipment keeps the supplier "active" for a week
_IU_DAY = "epoch_us(l_shipdate) // 86400000000"


@register(
    "q_interval_union",
    oracle=f"""
WITH iv AS (
  SELECT l_suppkey,
         CAST({_IU_DAY} AS BIGINT) AS d0,
         CAST({_IU_DAY} + {IU_WINDOW_DAYS} AS BIGINT) AS d1,
         count(*) AS cnt
  FROM lineitem GROUP BY 1, 2, 3
),
flagged AS (
  SELECT l_suppkey, d0, d1, cnt,
         CASE WHEN max(d1) OVER (PARTITION BY l_suppkey ORDER BY d0
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= d0
              THEN 0 ELSE 1 END AS new_island
  FROM iv
),
islands AS (
  SELECT l_suppkey, d0, d1, cnt,
         sum(new_island) OVER (PARTITION BY l_suppkey ORDER BY d0
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
),
merged AS (
  SELECT l_suppkey, island, min(d0) AS s, max(d1) AS e,
         sum(cnt) AS n_iv
  FROM islands GROUP BY 1, 2
)
SELECT l_suppkey AS suppkey,
       CAST(sum(n_iv) AS BIGINT) AS n_intervals,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(e - s) AS BIGINT) AS covered_days,
       CAST(max(e) - min(s) AS BIGINT) AS span_days
FROM merged GROUP BY 1
""",
)
def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL UNION (gaps-and-islands): each shipment opens a
    {IU_WINDOW_DAYS}-day activity window for its supplier; overlapping
    windows merge, and the query reports per supplier the union length
    in days, the island count, and the total span — the coverage
    calculation behind SLA uptime, sensor availability, and campaign
    reach, and a theta-op SQL has no native operator for.

    The merge is an aggregate + two window passes, no join: intervals
    first COLLAPSE to distinct (supplier, day) rows carrying a
    multiplicity count — after which the window ORDER BY d0 has no
    ties at all, so the running max/sum are unambiguous on ANY window
    implementation (an sf0.1 stress run caught DuckDB's parallel
    window executor returning run-to-run different results on tied
    ROWS frames — identical duplicate rows, so a correct window is
    deterministic, but the tie-free rewrite removes the question for
    both engines; Spark was stable either way). An interval starts a
    new island iff its start exceeds the running max of all previous
    ends; island ids are the running count of starts. Scale: the
    dedup is a map-side-combinable aggregate that also SHRINKS the
    window input to distinct active days (bounded by the calendar
    span, not the row count); then one shuffle on supplier, map-side
    windows, two partial aggs. A pathologically hot key serializes
    its partition sort — the salting escape is a per-(key,
    coarse-epoch) pre-merge, same plan shape one level down. Dates
    enter as exact epoch days (integer microsecond floors, no
    calendar date_diff semantics)."""
    li = io.load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_shipdate"
    )
    day = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        " l_shipdate) div 86400000000"
    )
    iv = (
        li.select(
            "l_suppkey",
            day.cast("bigint").alias("d0"),
            (day + IU_WINDOW_DAYS).cast("bigint").alias("d1"),
        )
        .groupBy("l_suppkey", "d0", "d1")
        .agg(F.count("*").alias("cnt"))
    )
    w_prev = (
        Window.partitionBy("l_suppkey")
        .orderBy("d0")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("l_suppkey")
        .orderBy("d0")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(F.max("d1").over(w_prev) >= F.col("d0"), F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
    merged = islands.groupBy("l_suppkey", "island").agg(
        F.min("d0").alias("s"),
        F.max("d1").alias("e"),
        F.sum("cnt").alias("n_iv"),
    )
    return merged.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum("n_iv").cast("bigint").alias("n_intervals"),
        F.count("*").cast("bigint").alias("n_islands"),
        F.sum(F.col("e") - F.col("s")).cast("bigint").alias("covered_days"),
        (F.max("e") - F.min("s")).cast("bigint").alias("span_days"),
    )


# --- TPC-H Q3 / Q6 / Q10 shapes ----------------------------------------------

Q3_SEGMENT = "BUILDING"
Q3_DATE = "1997-06-01 00:00:00"
_REV_CENTS = cents_sql("l_extendedprice * (1 - l_discount)")


@register(
    "q_urgent_backlog",
    oracle=f"""
SELECT l.l_orderkey,
       CAST(sum({_REV_CENTS}) AS BIGINT) AS revenue_cents,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = '{Q3_SEGMENT}'
  AND o.o_orderdate < TIMESTAMP '{Q3_DATE}'
  AND l.l_shipdate  > TIMESTAMP '{Q3_DATE}'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue_cents DESC, l.l_orderkey
LIMIT 10
""",
)
def q_urgent_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping-priority backlog): the 10 highest-value
    {Q3_SEGMENT}-segment orders placed before the cutoff whose items
    had not shipped by it. Both date predicates push into the scans
    (pruning orders AND lineitem before any join); revenue is exact
    half-up cents so the top-10 ordering is integer-deterministic
    (ties on orderkey). The LIMIT compiles to TakeOrderedAndProject —
    per-partition heaps, no global sort. Customer is the small
    filtered side; at 100 TB a DPP/bloom filter carries the segment
    restriction into the fact scans (the q_bloom_join pattern)."""
    c = io.load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == Q3_SEGMENT
    ).select("c_custkey")
    o = io.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(Q3_DATE).cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = io.load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(Q3_DATE).cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("bigint").alias("revenue_cents"))
        .select("l_orderkey", "revenue_cents", "o_orderdate")
        .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
        .limit(10)
    )


Q6_YEAR = 1997


@register(
    "q_discount_revenue",
    oracle=f"""
SELECT CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum({cents_sql('l_extendedprice * l_discount')}) AS BIGINT) AS discount_cents
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{Q6_YEAR}-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '{Q6_YEAR + 1}-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
)
def q_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): the discount give-
    back on mid-discount small-quantity items shipped in {Q6_YEAR} —
    a pure scan-side query: every predicate (date range, discount
    band, quantity cap) pushes into the parquet scan, no join, no
    shuffle beyond the single partial-agg'd global sum. The simplest
    possible plan and therefore the scan-efficiency benchmark: at
    100 TB this query IS the row-group pruning + codegen filter path.
    Per-row discount cents are floored half-up BEFORE the sum, so the
    aggregate is an exact integer in any partition order."""
    li = io.load_table(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit(f"{Q6_YEAR}-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(f"{Q6_YEAR + 1}-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    disc = cents(F.col("l_extendedprice") * F.col("l_discount"))
    return filtered.agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.sum(disc).cast("bigint").alias("discount_cents"),
    )


Q10_FROM = "1997-01-01 00:00:00"
Q10_TO = "1997-07-01 00:00:00"


@register(
    "q_returned_revenue",
    oracle=f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(sum({_REV_CENTS}) AS BIGINT) AS lost_cents
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '{Q10_FROM}'
  AND o.o_orderdate <  TIMESTAMP '{Q10_TO}'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY lost_cents DESC, c.c_custkey
LIMIT 20
""",
)
def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item losses): the 20 customers whose
    returned items cost the most in a half-year window. Return-flag
    and date predicates push into the fact scans; nation is the
    broadcast dim (nation never grows with SF — the broadcast-hint
    policy); revenue is exact half-up cents so the top-20 is
    integer-deterministic (custkey ties). TakeOrderedAndProject
    again — the report never sorts more than 20 rows per partition."""
    c = io.load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = io.load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = io.load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q10_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q10_TO).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = io.load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("bigint").alias("lost_cents"))
        .orderBy(F.desc("lost_cents"), F.asc("c_custkey"))
        .limit(20)
    )

# --- TPC-H Q4 / Q5 / Q12 / Q14 / Q19 shapes (r10 verdict #5) ----------------
#
# The five remaining TPC-H plan shapes feasible on this testdata, each
# exercising a distinct plan feature the gate did not yet cover:
# EXISTS semi-join with a date window (Q4), the 6-table join cycle as
# the SPEC writes it (Q5), conditional two-bucket aggregation (Q12),
# a promo ratio over a dimension join (Q14), and disjunctive
# multi-predicate pushdown (Q19). The fixture omits l_shipmode /
# l_commitdate / l_receiptdate / l_shipinstruct / p_container, so Q4
# and Q12's predicates are shape-preserving stand-ins on the columns
# that exist (documented per query); the PLAN each query gates is the
# spec query's plan.

Q4_FROM, Q4_TO = "1997-01-01 00:00:00", "1997-04-01 00:00:00"
Q4_LATE_DAYS = 60


@register(
    "q_tpch_q4",
    oracle=f"""
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '{Q4_FROM}'
  AND o.o_orderdate <  TIMESTAMP '{Q4_TO}'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL {Q4_LATE_DAYS} DAY
  )
GROUP BY 1
""",
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking): orders placed in one
    quarter that have at least one LATE lineitem, counted per
    priority. The spec's lateness test (l_commitdate < l_receiptdate)
    uses columns the fixture omits; the stand-in — shipped more than
    {Q4_LATE_DAYS} days after the order date — keeps the exact plan
    shape: a LEFT SEMI join (EXISTS: one probe per order, no fanout
    duplication from multi-lineitem orders) whose join condition
    carries a cross-table inequality, under a pushed date-window scan
    on orders. At 100 TB the date window prunes orders partitions at
    the scan, the semi-join shuffles on orderkey once (zero with both
    facts bucketed on it), and the priority rollup is a 5-group
    map-side combine."""
    o = io.load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q4_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q4_TO).cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = io.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {Q4_LATE_DAYS} DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_count"))
    )


Q5_REGION = "EUROPE"
Q5_FROM, Q5_TO = "1995-01-01 00:00:00", "1997-01-01 00:00:00"


@register(
    "q_tpch_q5",
    oracle=f"""
SELECT n.n_name,
       CAST(sum({_REV_CENTS}) AS BIGINT) AS revenue_cents
FROM customer c
JOIN orders o    ON c.c_custkey = o.o_custkey
JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n    ON s.s_nationkey = n.n_nationkey
JOIN region r    ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{Q5_REGION}'
  AND o.o_orderdate >= TIMESTAMP '{Q5_FROM}'
  AND o.o_orderdate <  TIMESTAMP '{Q5_TO}'
GROUP BY 1
ORDER BY revenue_cents DESC, n.n_name
""",
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 as the spec writes it (local-supplier volume): the
    6-table join CYCLE — customer⋈orders⋈lineitem⋈supplier closed by
    the customer-nation = supplier-nation equality — restricted to one
    region and a 2-year order window, revenue per nation ordered
    descending. Differs from the sibling q_revenue_by_nation (same
    topology, ASIA/1996-98, unordered with an item count) in gating
    the spec's exact output: half-up integer cents, so the ORDER BY is
    integer-deterministic. region/nation are fixed-size (5/25 rows) →
    explicit broadcasts; customer/supplier grow with SF → left to AQE
    (broadcast under the threshold, shuffle with skew-split above);
    the only guaranteed big exchange is orders⋈lineitem on orderkey.
    The date window pushes to the orders scan; at 100 TB the region
    restriction reaches customer/supplier as a DPP filter through the
    nation broadcast."""
    c = io.load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    o = io.load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q5_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q5_TO).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = io.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = io.load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = io.load_table(spark, sf_dir, "nation")
    r = io.load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q5_REGION
    )
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("bigint").alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("n_name"))
    )


Q12_FROM, Q12_TO = "1998-01-01 00:00:00", "1999-01-01 00:00:00"
_Q12_HIGH = ("1-URGENT", "2-HIGH")


@register(
    "q_tpch_q12",
    oracle=f"""
SELECT l.l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '{Q12_FROM}'
  AND l.l_shipdate <  TIMESTAMP '{Q12_TO}'
GROUP BY 1
""",
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping-mode priority split): lineitems shipped in
    one year, bucketed per group into high-priority vs low-priority
    order counts by a conditional aggregation — the two-bucket
    CASE-WHEN-inside-SUM plan shape. The fixture omits l_shipmode and
    the receipt/commit dates, so the group key stands in as
    l_linestatus and the window filters l_shipdate; the gated plan is
    the spec's: one fact⋈fact equi-join under a pushed date window,
    with BOTH buckets computed in a single aggregation pass (never two
    joins or two scans). At 100 TB the ship-window prunes lineitem at
    the scan and the join shuffles orderkey once; the conditional
    buckets are map-side combinable integers."""
    o = io.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = io.load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q12_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q12_TO).cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    is_high = F.col("o_orderpriority").isin(*_Q12_HIGH)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1))
            .cast("bigint")
            .alias("low_line_count"),
        )
    )


Q14_FROM, Q14_TO = "1997-06-01 00:00:00", "1997-09-01 00:00:00"


@register(
    "q_tpch_q14",
    oracle=f"""
SELECT
  CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN {_REV_CENTS} ELSE 0 END)
       AS BIGINT) AS promo_cents,
  CAST(sum({_REV_CENTS}) AS BIGINT) AS total_cents,
  100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN {_REV_CENTS} ELSE 0 END)
               AS DOUBLE)
        / CAST(sum({_REV_CENTS}) AS DOUBLE) AS promo_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '{Q14_FROM}'
  AND l.l_shipdate <  TIMESTAMP '{Q14_TO}'
""",
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): the share of one quarter's
    revenue carried by promo parts — a fact⋈dimension join feeding a
    single-row conditional ratio. The fixture's p_type is already the
    bare category ('PROMO'), so the spec's LIKE 'PROMO%%' is an exact
    match here. Numerator and denominator are exact half-up cents
    (bigint), and the ratio is ONE IEEE double division of two
    integer-exact operands — bit-identical across engines with no
    rounding fence. Plan: the ship window prunes lineitem at the scan;
    part joins by partkey (broadcast while it fits — 200k×SF rows —
    AQE shuffles it with skew handling beyond that); both buckets ride
    one aggregation pass to a single row."""
    li = io.load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q14_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q14_TO).cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = io.load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    agg = (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.sum(promo).cast("bigint").alias("promo_cents"),
            F.sum(rev).cast("bigint").alias("total_cents"),
        )
    )
    return agg.select(
        "promo_cents",
        "total_cents",
        (
            F.lit(100.0)
            * F.col("promo_cents").cast("double")
            / F.col("total_cents").cast("double")
        ).alias("promo_pct"),
    )


_Q19_BRANCHES = (
    ("Brand#12", 5, 1, 11),
    ("Brand#23", 10, 10, 20),
    ("Brand#15", 15, 20, 30),
)


@register(
    "q_tpch_q19",
    oracle=f"""
SELECT CAST(sum({_REV_CENTS}) AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""",
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, disjunctive predicates): revenue
    over a lineitem⋈part join whose WHERE is an OR of three
    brand/size/quantity conjunctions — the classic test that an
    optimizer extracts the single-side implications of a disjunction
    and pushes them below the join: part's scan should receive
    (brand12∧size≤5) ∨ (brand23∧size≤10) ∨ (brand15∧size≤15) and
    lineitem's scan quantity ∈ [1,30], leaving only the cross-branch
    pairing above the join (tests/test_plans.py asserts both pushed
    filters). The fixture omits l_shipinstruct / l_shipmode /
    p_container, so those conjuncts are dropped; brand, size, and
    quantity branches keep the disjunctive structure intact. Exact
    half-up cents; single-row output."""
    li = io.load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = io.load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    cond = None
    for brand, size_hi, q_lo, q_hi in _Q19_BRANCHES:
        branch = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )
        cond = branch if cond is None else (cond | branch)
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .filter(cond)
        .agg(
            F.sum(rev).cast("bigint").alias("revenue_cents"),
            F.count("*").cast("bigint").alias("n_items"),
        )
    )
