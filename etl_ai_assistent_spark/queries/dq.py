"""Data-quality constraint checking (the Deequ/expectations shape).

A warehouse pipeline gates publishes on declarative constraints —
uniqueness, completeness, referential integrity, value ranges — each a
metric the engine can compute as one aggregate and compare to a bound.
The report keeps the OBSERVED metric next to the pass/fail verdict so a
failing load is diagnosable from the report alone.

Scale shape: every constraint is a partial-aggregated scan (count /
count-distinct / conditional count) or a broadcast/shuffle anti-join
(orphan detection); the report itself is constraints-sized. Nothing
here collects data rows to the driver.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io
from ..functions import cents, cents_sql, md5_bucket, md5_bucket_sql
from ..registry import register


def _verdict(violations):
    return F.when(violations == 0, "pass").otherwise("fail")


@register(
    "q_dq_constraints",
    oracle="""
SELECT 'orders_pk_unique' AS constraint_id,
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations,
       CAST(count(*) AS BIGINT) AS checked_rows,
       CASE WHEN count(*) - count(DISTINCT o_orderkey) = 0
            THEN 'pass' ELSE 'fail' END AS status
FROM orders
UNION ALL
SELECT 'lineitem_orderkey_fk',
       CAST(count(*) AS BIGINT),
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
       CASE WHEN count(*) = 0 THEN 'pass' ELSE 'fail' END
FROM (SELECT l_orderkey FROM lineitem
      EXCEPT ALL SELECT o_orderkey FROM orders) orphans
UNION ALL
SELECT 'orders_custkey_fk',
       CAST(count(*) AS BIGINT),
       (SELECT CAST(count(*) AS BIGINT) FROM orders),
       CASE WHEN count(*) = 0 THEN 'pass' ELSE 'fail' END
FROM (SELECT o_custkey FROM orders
      EXCEPT ALL SELECT c_custkey FROM customer) orphans
UNION ALL
SELECT 'customer_acctbal_complete',
       CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT),
       CASE WHEN sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) = 0
            THEN 'pass' ELSE 'fail' END
FROM customer
UNION ALL
SELECT 'lineitem_quantity_range',
       CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                     THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT),
       CASE WHEN sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                          THEN 1 ELSE 0 END) = 0
            THEN 'pass' ELSE 'fail' END
FROM lineitem
UNION ALL
SELECT 'documents_text_nonempty',
       CAST(sum(CASE WHEN text IS NULL OR length(trim(text)) = 0
                     THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT),
       CASE WHEN sum(CASE WHEN text IS NULL OR length(trim(text)) = 0
                          THEN 1 ELSE 0 END) = 0
            THEN 'pass' ELSE 'fail' END
FROM documents
""",
)
def q_dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report over the warehouse tables: PK
    uniqueness (orders), referential integrity (lineitem→orders,
    orders→customer — EXCEPT ALL keeps duplicate orphans countable),
    completeness (customer.c_acctbal), value range (l_quantity in
    [1, 50]), and non-empty text (documents). One row per constraint
    with observed violation and checked-row counts."""
    orders = io.load_table(spark, sf_dir, "orders")
    lineitem = io.load_table(spark, sf_dir, "lineitem")
    customer = io.load_table(spark, sf_dir, "customer")
    documents = io.load_table(spark, sf_dir, "documents")

    def report(cid: str, violations, checked) -> DataFrame:
        return violations.select(
            F.lit(cid).alias("constraint_id"),
            F.col("v").cast("bigint").alias("violations"),
            F.lit(None).cast("bigint").alias("checked_rows"),
        ).crossJoin(checked.select(F.col("c").cast("bigint").alias("_c"))).select(
            "constraint_id",
            "violations",
            F.col("_c").alias("checked_rows"),
            _verdict(F.col("violations")).alias("status"),
        )

    pk = orders.agg(
        (F.count("*") - F.count_distinct("o_orderkey")).alias("v"),
        F.count("*").alias("c"),
    ).select(
        F.lit("orders_pk_unique").alias("constraint_id"),
        F.col("v").cast("bigint").alias("violations"),
        F.col("c").cast("bigint").alias("checked_rows"),
        _verdict(F.col("v")).alias("status"),
    )

    li_orphans = lineitem.select("l_orderkey").exceptAll(
        orders.select("o_orderkey")
    ).agg(F.count("*").alias("v"))
    li_fk = report(
        "lineitem_orderkey_fk", li_orphans, lineitem.agg(F.count("*").alias("c"))
    )

    ord_orphans = orders.select("o_custkey").exceptAll(
        customer.select("c_custkey")
    ).agg(F.count("*").alias("v"))
    ord_fk = report(
        "orders_custkey_fk", ord_orphans, orders.agg(F.count("*").alias("c"))
    )

    def conditional(cid: str, df: DataFrame, bad) -> DataFrame:
        return df.agg(
            F.sum(bad.cast("int")).alias("v"), F.count("*").alias("c")
        ).select(
            F.lit(cid).alias("constraint_id"),
            F.coalesce(F.col("v"), F.lit(0)).cast("bigint").alias("violations"),
            F.col("c").cast("bigint").alias("checked_rows"),
            _verdict(F.coalesce(F.col("v"), F.lit(0))).alias("status"),
        )

    complete = conditional(
        "customer_acctbal_complete", customer, F.col("c_acctbal").isNull()
    )
    qty = conditional(
        "lineitem_quantity_range",
        lineitem,
        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
    )
    nonempty = conditional(
        "documents_text_nonempty",
        documents,
        F.col("text").isNull() | (F.length(F.trim("text")) == 0),
    )

    return reduce(
        DataFrame.unionByName, [pk, li_fk, ord_fk, complete, qty, nonempty]
    )


@register(
    "q_table_stats",
    oracle="""
SELECT 'l_quantity' AS column_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(count(DISTINCT l_quantity) AS BIGINT) AS ndv,
       CAST(min(l_quantity) AS BIGINT) AS min_v,
       CAST(max(l_quantity) AS BIGINT) AS max_v
FROM lineitem
UNION ALL
SELECT 'l_orderkey', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT l_orderkey) AS BIGINT),
       CAST(min(l_orderkey) AS BIGINT), CAST(max(l_orderkey) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'l_linenumber', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT l_linenumber) AS BIGINT),
       CAST(min(l_linenumber) AS BIGINT), CAST(max(l_linenumber) AS BIGINT)
FROM lineitem
""",
)
def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-shape column statistics (rows / nulls / NDV / min / max
    per column) — the table profile a cost-based optimizer consumes and
    the first thing a data platform computes on ingest. Exact NDV here
    (oracle-checkable); the 100 TB variant swaps count_distinct for the
    mergeable HLL sketch (operators/sketch.py, q_hll_distinct) column by
    column. One scan per column set, partial-aggregated."""
    li = io.load_table(spark, sf_dir, "lineitem")

    def col_stats(c: str) -> DataFrame:
        return li.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col(c).isNull().cast("int")).cast("bigint").alias("n_nulls"),
            F.count_distinct(F.col(c)).cast("bigint").alias("ndv"),
            F.min(F.col(c)).cast("bigint").alias("min_v"),
            F.max(F.col(c)).cast("bigint").alias("max_v"),
        ).select(
            F.lit(c).alias("column_name"),
            "n_rows",
            "n_nulls",
            "ndv",
            "min_v",
            "max_v",
        )

    return reduce(
        DataFrame.unionByName,
        [col_stats("l_quantity"), col_stats("l_orderkey"), col_stats("l_linenumber")],
    )


# --- order-insensitive table fingerprint (replication verification) --------

# The oracle's canonical row text: q_table_fingerprint's `canon`.
_FP_CANON = " || '|' || ".join(
    f"COALESCE({c}, '<NULL>')"
    for c in (
        "CAST(o_orderkey AS VARCHAR)",
        "o_orderstatus",
        f"CAST({cents_sql('o_totalprice')} AS VARCHAR)",
        "CAST(epoch_us(o_orderdate) AS VARCHAR)",
        "CAST(o_custkey AS VARCHAR)",
        "o_orderpriority",
    )
)


@register(
    "q_table_fingerprint",
    oracle=f"""
WITH canon AS (
  SELECT {md5_bucket_sql(_FP_CANON)} AS h
  FROM orders
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(h) AS BIGINT) AS sum_h,
       CAST(bit_xor(h) AS BIGINT) AS xor_h,
       CAST(min(h) AS BIGINT) AS min_h,
       CAST(max(h) AS BIGINT) AS max_h
FROM canon
""",
)
def q_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprint — the anti-entropy primitive
    for replica/migration verification at 100 TB: five commutative
    aggregates (count, sum, xor, min, max) over a per-row 32-bit
    md5-prefix hash of a CANONICALIZED row text. Two copies of a table
    compare by exchanging 5 integers, partition-order- and
    engine-independent. Canonicalization is explicit per type (money →
    half-up cents, timestamps → epoch µs) because raw float/timestamp
    casts to text differ across engines — the same float discipline as
    every oracle here, applied to the hash input itself.

    Scale: one scan, map-side partial aggregation, 5-integer shuffle."""
    o = io.load_table(spark, sf_dir, "orders")
    # Every field coalesces to an explicit sentinel BEFORE concatenation:
    # concat_ws silently SKIPS nulls, which would both collide rows whose
    # nulls sit in different columns and diverge from the oracle (whose
    # '||' nulls the whole string). With sentinels the canonical text is
    # total — NULL is a first-class fingerprinted value.
    def _f(c):
        return F.coalesce(c, F.lit("<NULL>"))

    canon = F.concat_ws(
        "|",
        _f(F.col("o_orderkey").cast("string")),
        _f(F.col("o_orderstatus")),
        _f(cents("o_totalprice").cast("string")),
        _f(
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
                " o_orderdate)"
            ).cast("string")
        ),
        _f(F.col("o_custkey").cast("string")),
        _f(F.col("o_orderpriority")),
    )
    h = md5_bucket(canon)
    return o.select(h.alias("h")).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("h").cast("bigint").alias("sum_h"),
        F.expr("bit_xor(h)").cast("bigint").alias("xor_h"),
        F.min("h").cast("bigint").alias("min_h"),
        F.max("h").cast("bigint").alias("max_h"),
    )


# --- join-key skew diagnostics (the salting decision input) ----------------


@register(
    "q_skew_stats",
    oracle="""
WITH per_key AS (
  SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(max(n) AS BIGINT) AS max_rows
  FROM per_key
)
SELECT n_keys, n_rows, max_rows,
       CAST(max_rows * 1000000 // (n_rows // n_keys) AS BIGINT)
         AS skew_factor_ppm,
       CAST((SELECT count(*) FROM per_key, tot
             WHERE n * n_keys > n_rows * 3) AS BIGINT)
         AS n_hot_keys
FROM tot
""",
)
def q_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for lineitem.l_orderkey — the
    measurement that justifies (or rules out) salting/AQE skew-join
    before a big shuffle: per-key row counts reduced to key count, max
    key size, skew factor (max/mean, ppm, integer-exact) and the number
    of hot keys exceeding 3x the mean key size (the AQE skew-join
    trigger shape). This is
    the q_salted_skew_join decision input as a first-class query.

    Scale: one partial-agg'd groupBy (the same exchange the join would
    pay), then a 1-row reduction; the hot-key count is a second bounded
    aggregate over the per-key table."""
    li = io.load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(F.count("*").alias("n"))
    tot = per_key.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_rows"),
    )
    hot = (
        per_key.crossJoin(F.broadcast(tot))
        .filter(F.col("n") * F.col("n_keys") > F.col("n_rows") * 3)
        .agg(F.count("*").cast("bigint").alias("n_hot_keys"))
    )
    return tot.crossJoin(F.broadcast(hot)).select(
        "n_keys",
        "n_rows",
        "max_rows",
        F.expr("max_rows * 1000000 div (n_rows div n_keys)")
        .cast("bigint")
        .alias("skew_factor_ppm"),
        "n_hot_keys",
    )


# --- k-anonymity audit (privacy-preserving release gate) -------------------

K_ANON = 5
_QI_BAL = "CAST(floor(c_acctbal / 2000) AS BIGINT)"


@register(
    "q_k_anonymity",
    oracle=f"""
SELECT c_nationkey, c_mktsegment, {_QI_BAL} AS bal_band,
       CAST(count(*) AS BIGINT) AS group_size,
       count(*) < {K_ANON} AS at_risk
FROM customer
GROUP BY 1, 2, 3
""",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (nation,
    market segment, account-balance band): every QI group's size next
    to its re-identification verdict (size < {K_ANON} → the group's
    rows are linkable and must be suppressed or generalized before
    release). The privacy gate of a training-data release pipeline,
    sitting beside the PII scrub (q_pii_scrub) — scrubbing removes
    direct identifiers; k-anonymity catches the INDIRECT ones.

    Scale: one partial-aggregated scan (the groupBy combines map-side;
    the report is QI-cardinality-sized, never data-sized). The
    balance band generalizes a continuous column the standard way —
    widening the band is the remediation lever when groups fail."""
    c = io.load_table(spark, sf_dir, "customer")
    return (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 2000).cast("bigint").alias("bal_band"),
        )
        .agg(F.count("*").cast("bigint").alias("group_size"))
        .withColumn("at_risk", F.col("group_size") < K_ANON)
    )


# --- Benford first-digit audit ------------------------------------------------

# log10(1 + 1/d) in ppm, the canonical Benford expectation
BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}
_BENFORD_VALUES = ", ".join(f"({d}, {p})" for d, p in BENFORD_PPM.items())


@register(
    "q_benford_audit",
    oracle=f"""
WITH cents AS (
  SELECT {cents_sql('o_totalprice')} AS c
  FROM orders WHERE o_totalprice > 0
),
digits AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM cents
),
obs AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs),
exp AS (SELECT * FROM (VALUES {_BENFORD_VALUES}) v(digit, benford_ppm))
SELECT e.digit, COALESCE(o.n, 0) AS n,
       CAST(1000000 * COALESCE(o.n, 0) // t.total AS BIGINT) AS observed_ppm,
       CAST(e.benford_ppm AS BIGINT) AS benford_ppm,
       CAST(abs(1000000 * COALESCE(o.n, 0) // t.total - e.benford_ppm)
            AS BIGINT) AS dev_ppm
FROM exp e LEFT JOIN obs o ON e.digit = o.digit, tot t
""",
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the fraud /
    fabricated-data screen: genuine multiplicative amounts put digit d
    first with probability log10(1+1/d); fabricated ones drift uniform.
    Per digit: observed count, observed_ppm (exact integer rational),
    the canonical Benford ppm, and the absolute deviation. The leading
    digit comes from the CENTS string (the *100 decimal shift never
    changes the first significant digit of a positive amount), so no
    float log10 near a power-of-ten boundary can flip a bucket.

    Scale: one partial-agg'd scan to 9 groups, a 9-row expected-table
    broadcast, a 1-row total broadcast — sketch-sized all the way."""
    orders = io.load_table(spark, sf_dir, "orders").select("o_totalprice")
    positive = orders.filter(F.col("o_totalprice") > 0).select(
        cents("o_totalprice").alias("c")
    )
    obs = (
        positive.select(
            F.substring(F.col("c").cast("string"), 1, 1)
            .cast("bigint")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    spark_exp = spark.createDataFrame(
        sorted(BENFORD_PPM.items()), ["digit", "benford_ppm"]
    ).select(
        F.col("digit").cast("bigint").alias("digit"),
        F.col("benford_ppm").cast("bigint").alias("benford_ppm"),
    )
    tot = obs.agg(F.sum("n").cast("bigint").alias("total"))
    return (
        spark_exp.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            F.expr("CAST(1000000 * coalesce(n, 0) div total AS BIGINT)").alias(
                "observed_ppm"
            ),
            "benford_ppm",
            F.expr(
                "CAST(abs(1000000 * coalesce(n, 0) div total - benford_ppm)"
                " AS BIGINT)"
            ).alias("dev_ppm"),
        )
    )


# --- l-diversity audit --------------------------------------------------------

L_DIV = 3


@register(
    "q_l_diversity",
    oracle=f"""
WITH cell AS (
  SELECT c_nationkey, {_QI_BAL} AS bal_band, c_mktsegment,
         CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2, 3
)
SELECT c_nationkey, bal_band,
       CAST(sum(n) AS BIGINT) AS group_size,
       CAST(count(*) AS BIGINT) AS n_sensitive,
       CAST(1000000 * max(n) // sum(n) AS BIGINT) AS max_share_ppm,
       count(*) >= {L_DIV} AS diverse
FROM cell GROUP BY 1, 2
""",
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attack k-anonymity misses: a QI group
    can be large yet reveal everyone's sensitive value if that value is
    HOMOGENEOUS (all k rows share it). Per quasi-identifier group
    (nation, balance band): how many distinct market segments appear
    (distinct l-diversity, gate at l >= {L_DIV}) and the dominant
    segment's share in ppm (the skew signal behind the entropy and
    recursive variants, kept integer-exact instead of floating logs).
    Together with q_k_anonymity this completes the release gate:
    group_size catches linkability, n_sensitive catches homogeneity.

    Scale: two stacked partial-agg scans — (QI, sensitive) cells first,
    then QI groups — both combine map-side; the report is QI-sized."""
    c = io.load_table(spark, sf_dir, "customer")
    cell = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("bigint").alias("bal_band"),
        "c_mktsegment",
    ).agg(F.count("*").cast("bigint").alias("n"))
    return cell.groupBy("c_nationkey", "bal_band").agg(
        F.sum("n").cast("bigint").alias("group_size"),
        F.count("*").cast("bigint").alias("n_sensitive"),
        F.expr("CAST(1000000 * max(n) div sum(n) AS BIGINT)").alias(
            "max_share_ppm"
        ),
        (F.count("*") >= L_DIV).alias("diverse"),
    )
