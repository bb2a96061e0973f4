"""Scale-technique queries: the skew/bucketing machinery exercised as
verified queries (results provably identical to their unsalted /
unbucketed forms — which is exactly what the oracle checks)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io
from .. import store as ST
from ..functions import cents, cents_sql, md5_bucket, md5_bucket_sql, units_to_double
from ..functions import text as TX
from ..operators import sketch as SK
from ..operators.skew import salted_join
from ..registry import register


@register(
    "q_salted_skew_join",
    oracle="""
SELECT md5(event_type) AS type_tag,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
""",
)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavily-skewed equi-join (events: 100k+ rows over 5 event_type
    keys) done with the salted-join operator: the fact side salts into 8
    deterministic subkeys, the 5-row dim replicates per salt, shuffle
    key is (event_type, salt). On this data Catalyst broadcasts the dim
    anyway (no shuffle at all — fine); at 100 TB with a non-broadcastable
    dim, the salt is what prevents one reducer per hot key. The oracle is
    the plain unsalted join+agg — salting must not change a single row."""
    e = io.load_events(spark, sf_dir).select(
        "event_id", "event_type", F.col("value").cast("decimal(12,2)").alias("v")
    )
    dim = e.select("event_type").distinct().withColumn(
        "type_tag", F.md5("event_type")
    )
    joined = salted_join(
        e, dim, on="event_type", salt_from="event_id", buckets=8
    )
    return joined.groupBy("type_tag").agg(
        F.count("*").alias("n"),
        F.sum("v").cast("double").alias("total_value"),
    )


# --- distributed sketches (operators/sketch.py) -----------------------------------------

_HLL_REGS = f"""
regs AS (
  SELECT o_orderpriority, register, max(rho) AS max_rho
  FROM (
    SELECT o_orderpriority,
           {SK.hll_register_rho_sql('h')}
    FROM (SELECT o_orderpriority, {SK.hll_hash_sql('o_custkey')} AS h FROM orders)
  )
  GROUP BY 1, 2
)
"""


@register(
    "q_hll_registers",
    oracle=f"""
WITH {_HLL_REGS}
SELECT o_orderpriority, register, CAST(max_rho AS INT) AS max_rho
FROM regs
""",
)
def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register state for distinct-customer counting per
    order priority — the MERGEABLE sketch itself (union + re-max rolls
    per-partition/per-day sketches up without re-reading keys). One
    narrow hash map then groupBy(priority, register).max: partial-max
    combines map-side, so the shuffle carries <= 5*256 rows at ANY input
    scale — the whole point of sketching 100 TB. All-integer output,
    bit-exact vs the oracle's identical md5-register construction."""
    orders = io.load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey"
    )
    regs = SK.hll_registers(orders, "o_custkey", ["o_orderpriority"])
    return regs.withColumn("max_rho", F.col("max_rho").cast("int"))


@register(
    "q_hll_distinct",
    oracle=f"""
WITH {_HLL_REGS},
est AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS filled,
         {SK.hll_estimate_sql('max_rho')} AS hll_estimate
  FROM regs GROUP BY 1
),
exact AS (
  SELECT o_orderpriority, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact
  FROM orders GROUP BY 1
)
SELECT e.o_orderpriority, e.filled, e.hll_estimate, x.n_exact,
       CAST(floor(abs(e.hll_estimate - x.n_exact) * 1000000.0 / x.n_exact + 0.5)
            AS BIGINT) AS err_ppm
FROM est e JOIN exact x USING (o_orderpriority)
""",
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-customer estimate per order priority next to the
    exact count and the relative error in ppm. The 2^-rho register sum
    is EXACT in doubles (<=256 powers of two spanning 33 bits fit a
    53-bit mantissa), so the only inexact step is the final alpha*m^2/S
    division — performed identically by both engines from one shared
    literal, then rounded to 6 dp. At ~1300 true distincts per group
    (sf0.01) the m=256 raw estimate lands within a few percent — and the
    exact side is the expensive plan (count DISTINCT = full key shuffle)
    that the sketch replaces at 100 TB."""
    orders = io.load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey"
    )
    regs = SK.hll_registers(orders, "o_custkey", ["o_orderpriority"])
    est = SK.hll_estimate(regs, ["o_orderpriority"])
    exact = orders.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").cast("bigint").alias("n_exact")
    )
    return est.join(exact, "o_orderpriority").select(
        "o_orderpriority",
        "filled",
        "hll_estimate",
        "n_exact",
        F.floor(
            F.abs(F.col("hll_estimate") - F.col("n_exact"))
            * F.lit(1000000.0)
            / F.col("n_exact")
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("err_ppm"),
    )


_CMS_TOKS = """
tok1 AS (
  SELECT unnest(tok_list) AS token
  FROM (SELECT CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS tok_list
        FROM documents)
)
"""


@register(
    "q_countmin_heavy",
    oracle=f"""
WITH {_CMS_TOKS},
cells AS (
  SELECT i.k AS row,
         {md5_bucket_sql("'cms' || CAST(i.k AS VARCHAR) || '|' || token")} % 1024 AS col
  FROM tok1, (SELECT unnest([0, 1, 2, 3]) AS k) i
),
sketch AS (
  SELECT row, col, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2
),
exact AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact_n FROM tok1 GROUP BY 1
),
probes AS (
  SELECT e.token, e.exact_n, i.k AS row,
         {md5_bucket_sql("'cms' || CAST(i.k AS VARCHAR) || '|' || e.token")} % 1024 AS col
  FROM exact e, (SELECT unnest([0, 1, 2, 3]) AS k) i
)
SELECT p.token, p.exact_n, min(s.cnt) AS cms_est,
       min(s.cnt) - p.exact_n AS overcount
FROM probes p JOIN sketch s USING (row, col)
GROUP BY 1, 2
""",
)
def q_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch over the document token stream, read
    back for every distinct token next to its exact count. The 4x1024
    counter grid partial-aggs map-side (shuffle bounded by 4096 cells,
    never corpus size); point estimates are one broadcast equi-join of
    token probes against the grid + a min per token. `overcount` >= 0
    by construction (CMS never under-counts) — the oracle replays the
    identical deterministic grid, so even collision cells match
    bit-for-bit."""
    docs = io.load_table(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(TX.tokens("text")).alias("token"))
    grid = SK.cms_build(tokens, "token")
    exact = tokens.groupBy("token").agg(
        F.count("*").cast("bigint").alias("exact_n")
    )
    est = SK.cms_point_estimates(grid, exact, "token")
    return est.join(exact, "token").select(
        "token",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
    )


# --- bucketed co-located join -----------------------------------------------------------

# bucketBy(n, key) writes each table pre-hash-partitioned on the join
# key; two tables bucketed the same way join with ZERO exchange. The
# write pays the shuffle once per source-table version (store contract:
# fingerprinted key, atomic publish, validated adoption); a fresh
# session re-registers the published files via DDL, no rewrite.
JOIN_BUCKETS = 16
# _v2: fingerprinted key + atomic publish (FIXTURES.md rule)
BUCKETED_FAMILY = "spark_graft_bucketed_v2"


@register(
    "q_bucketed_join",
    oracle="""
SELECT o.o_orderkey, o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2
""",
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join + per-order rollup over tables bucketed on the
    join key: orders and lineitem are written bucketBy(16, orderkey)
    once, then BOTH the join and the groupBy(o_orderkey) reuse the
    on-disk hash layout — the executed plan has ZERO shuffle exchanges
    (asserted by tests/test_partitioning.py::test_bucketed_join_no_exchange).
    At 100 TB this is the difference between re-shuffling both fact
    tables nightly and reading co-located buckets. The oracle is the
    plain unbucketed join — physical design must not change a row.
    sortBy(key) inside each bucket lets the join skip its sort too."""

    def bucketed(table: str, key: str) -> DataFrame:
        path = ST.corpus_path(
            BUCKETED_FAMILY, sf_dir, table, f"_{JOIN_BUCKETS}", name_table=True
        )
        return ST.publish_bucketed(
            spark,
            path,
            "bkt",
            lambda: io.load_table(spark, sf_dir, table),
            None,
            key,
            JOIN_BUCKETS,
            lambda p: ST.has_success(p)
            and ST.parquet_rows(p) == ST.table_rows(sf_dir, table),
        )

    o = bucketed("orders", "o_orderkey")
    li = bucketed("lineitem", "l_orderkey")
    return (
        o.select("o_orderkey", "o_orderpriority")
        .join(li.select("l_orderkey", "l_extendedprice"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            units_to_double(F.sum(cents("l_extendedprice")), 2).alias("revenue"),
        )
    )


# --- histogram quantile estimation ------------------------------------------------------

_HIST_QS = (0.5, 0.95, 0.99)
_HIST_BINS = 1000


@register(
    "q_histogram_quantiles",
    oracle=f"""
WITH x AS (SELECT l_extendedprice AS x FROM lineitem),
s AS (SELECT min(x) AS mn, max(x) AS mx, CAST(count(*) AS BIGINT) AS n FROM x),
b AS (
  SELECT CAST(least(floor((x - mn) * {_HIST_BINS}.0 / (mx - mn)), {_HIST_BINS - 1})
              AS INT) AS bin
  FROM x, s
),
h AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1),
c AS (SELECT bin, CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum FROM h),
qs AS (SELECT unnest([{", ".join(f"CAST({q} AS DOUBLE)" for q in _HIST_QS)}]) AS q),
pick AS (
  SELECT q, min(bin) AS bin
  FROM qs, c, s
  WHERE c.cum >= ceil(q * s.n)
  GROUP BY q
),
ex AS (
  {" UNION ALL ".join(f"SELECT CAST({q} AS DOUBLE) AS q, round(quantile_cont(x, {q}), 6) AS exact_p FROM x" for q in _HIST_QS)}
)
SELECT p.q,
       round(s.mn + (p.bin + 0.5) * (s.mx - s.mn) / {_HIST_BINS}.0, 6) AS hist_p,
       ex.exact_p
FROM pick p, s
JOIN ex ON ex.q = p.q
""",
)
def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a fixed 1000-bin equi-width histogram
    next to the exact interpolated percentile. The histogram is the
    scale path: groupBy(bin) partial-aggs map-side (shuffle bounded by
    the bin count, never row count) and histograms MERGE across
    partitions/days — exact percentiles need a full sort of 100 TB.
    Estimate = midpoint of the first bin whose cumulative count reaches
    ceil(q*n); every float step (bin assignment, midpoint) is the same
    left-associative expression on both engines, so even collision bins
    match bit-for-bit."""
    x = io.load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("x")
    )
    # ONE stats pass (r13): min/max/count AND the exact percentiles in
    # a single aggregate over a single scan — the r12 split kept them
    # apart because the stats row fans into three downstream subtrees
    # and the combined row re-ran the percentile sort per use (observed
    # 4x at sf0.1); the subtrees now reuse one exchange, so the split's
    # second full scan of x was pure waste. Still ONE percentile call with an array of quantiles:
    # each separate percentile(x, q) expression keeps its own
    # full-column sort buffer (3 buffers = 3x the work — observed
    # 6.4s vs 2.0s at sf0.1); the array form shares one buffer.
    qs_sql = ", ".join(f"{q}D" for q in _HIST_QS)
    s = (
        x.agg(
            F.min("x").alias("mn"),
            F.max("x").alias("mx"),
            F.count("*").cast("bigint").alias("n"),
            F.expr(f"percentile(x, array({qs_sql}))").alias("ps"),
        )
    )
    pct = s.select(
        *[
            F.round(F.col("ps").getItem(i), 6).alias(f"p{i}")
            for i in range(len(_HIST_QS))
        ]
    )
    b = x.crossJoin(F.broadcast(s.select("mn", "mx"))).select(
        F.least(
            F.floor((F.col("x") - F.col("mn")) * F.lit(float(_HIST_BINS)) / (F.col("mx") - F.col("mn"))),
            F.lit(_HIST_BINS - 1),
        )
        .cast("int")
        .alias("bin")
    )
    h = b.groupBy("bin").agg(F.count("*").cast("bigint").alias("cnt"))
    from pyspark.sql.window import Window

    c = h.select(
        "bin",
        F.sum("cnt").over(Window.orderBy("bin")).cast("bigint").alias("cum"),
    )
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(float(q)) for q in _HIST_QS])).alias("q")
    )
    pick = (
        qs.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(s.select("n")))
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("q")
        .agg(F.min("bin").alias("bin"))
    )
    ex = pct.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(q)).alias("q"), F.col(f"p{i}").alias("exact_p")
                    )
                    for i, q in enumerate(_HIST_QS)
                ]
            )
        ).alias("e")
    ).select(F.col("e.q").alias("q"), F.col("e.exact_p").alias("exact_p"))
    return (
        pick.crossJoin(F.broadcast(s.select("mn", "mx")))
        .select(
            "q",
            F.round(
                F.col("mn")
                + (F.col("bin") + F.lit(0.5)) * (F.col("mx") - F.col("mn")) / F.lit(float(_HIST_BINS)),
                6,
            ).alias("hist_p"),
        )
        .join(ex, "q")
    )


# --- synthetic benchmark source (storage-free scale testing) ---------------

SYNTH_ROWS = 100_000
SYNTH_GROUPS = 100


@register(
    "q_synthetic_source",
    oracle=f"""
WITH gen AS (
  SELECT t.id,
         t.id % {SYNTH_GROUPS} AS grp,
         {md5_bucket_sql('CAST(t.id AS VARCHAR)')} AS val
  FROM generate_series(0, {SYNTH_ROWS - 1}) t(id)
)
SELECT grp,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(val) AS BIGINT) AS sum_val,
       CAST(bit_xor(val) AS BIGINT) AS xor_val,
       CAST(min(val) AS BIGINT) AS min_val
FROM gen GROUP BY 1
""",
)
def q_synthetic_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic source — the dbgen-style generator every
    engine needs for scale testing WITHOUT storage: spark.range is a
    codegen'd, partition-parallel iterator (no scan, no shuffle until
    the aggregate), and every derived column is a pure function of the
    row id (md5-prefix values), so any row count on any cluster
    reproduces bit-identically. Turn {SYNTH_ROWS} into 10^12 and the
    same query generates ~a terabyte per column family across
    executors with zero input bytes — the harness for shuffle/agg
    benchmarking at arbitrary scale. The reduction here (count / sum /
    xor / min per group) doubles as the generator's own correctness
    fingerprint."""
    gen = spark.range(0, SYNTH_ROWS).select(
        F.col("id"),
        (F.col("id") % SYNTH_GROUPS).alias("grp"),
        md5_bucket(F.col("id").cast("string")).alias("val"),
    )
    return gen.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("val").cast("bigint").alias("sum_val"),
        F.expr("bit_xor(val)").cast("bigint").alias("xor_val"),
        F.min("val").cast("bigint").alias("min_val"),
    )


# --- sketch merge rollup: nation sketches -> region estimates ---------------

@register(
    "q_hll_merge_rollup",
    oracle=f"""
WITH nregs AS (
  SELECT c_nationkey, register, max(rho) AS max_rho
  FROM (
    SELECT c_nationkey,
           {SK.hll_register_rho_sql('h')}
    FROM (SELECT c_nationkey, {SK.hll_hash_sql('c_custkey')} AS h FROM customer)
  )
  GROUP BY 1, 2
),
rregs AS (
  SELECT n.n_regionkey, r.register, max(r.max_rho) AS max_rho
  FROM nregs r JOIN nation n ON n.n_nationkey = r.c_nationkey
  GROUP BY 1, 2
),
est AS (
  SELECT n_regionkey,
         CAST(count(*) AS BIGINT) AS filled,
         {SK.hll_estimate_sql('max_rho')} AS hll_estimate
  FROM rregs GROUP BY 1
),
exact AS (
  SELECT n.n_regionkey, CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_exact
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1
)
SELECT e.n_regionkey, e.filled, e.hll_estimate, x.n_exact,
       CAST(floor(abs(e.hll_estimate - x.n_exact) * 1000000.0 / x.n_exact + 0.5)
            AS BIGINT) AS err_ppm
FROM est e JOIN exact x USING (n_regionkey)
""",
)
def q_hll_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGE rollup — the property that makes sketches the 100 TB
    answer: per-NATION HLL register tables (the stored, mergeable
    state) roll up to REGION-level distinct-customer estimates by a
    re-max over registers — no second pass over raw keys, ever. This is
    the cube/rollup pattern for distinct counts: materialize sketches
    at the finest grain once, answer every coarser grain by merging
    ≤ 25×256 register rows (vs count(DISTINCT)'s full key shuffle per
    grain). Exact counts + ppm error ride along, gate-checked like
    q_hll_distinct.

    Scale: grain-level sketch = one partial-agg'd shuffle bounded by
    |groups|×256 rows at ANY input size; the rollup itself never
    touches the fact table. The nation→region map is the broadcast
    dimension."""
    cust = io.load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = io.load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    nregs = SK.hll_registers(cust, "c_custkey", ["c_nationkey"])
    rregs = (
        nregs.join(
            F.broadcast(nation),
            nregs.c_nationkey == nation.n_nationkey,
        )
        .groupBy("n_regionkey", "register")
        .agg(F.max("max_rho").alias("max_rho"))  # the sketch MERGE
    )
    est = SK.hll_estimate(rregs, ["n_regionkey"])
    exact = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_regionkey")
        .agg(F.count_distinct("c_custkey").cast("bigint").alias("n_exact"))
    )
    return est.join(exact, "n_regionkey").select(
        "n_regionkey",
        "filled",
        "hll_estimate",
        "n_exact",
        F.floor(
            F.abs(F.col("hll_estimate") - F.col("n_exact"))
            * F.lit(1000000.0)
            / F.col("n_exact")
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("err_ppm"),
    )


# --- bloom-filter join pruning -------------------------------------------

@register(
    "q_bloom_join",
    oracle=f"""
SELECT o.o_orderpriority,
       count(*) AS n_items,
       CAST(sum({cents_sql('l.l_extendedprice * (1 - l.l_discount)')}) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 490000
GROUP BY 1
""",
)
def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned fact⋈dim join (operators/bloom.py): the ~2% of
    orders above the price threshold compress into an m=2^16-bit
    Bloom bitmap (≤1024 bigint words — 8 KiB broadcast no matter how
    large the order table grows), lineitem rows that cannot match are
    dropped by two broadcast word-joins BEFORE the exact join's
    exchange, and the exact equi-join then removes the (rare) false
    positives. The result is bit-identical to the unpruned join — the
    oracle is the plain SQL join — which is the point: pruning is a
    pure plan optimization, verified as such.

    Scale: this is the hand-rolled twin of AQE's runtime bloom filter,
    kept explicit so m/k tune against the measured build-side
    cardinality (q_skew_stats feeds that choice). Revenue folds in
    integer cents (floor(x*100+0.5), IEEE-identical on both engines).
    tests/test_bloom.py asserts the no-false-negative law and the
    survivor-rate evidence."""
    from ..operators.bloom import bloom_prune, bloom_words

    o = (
        io.load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 490000)
        .select("o_orderkey", "o_orderpriority")
    )
    li = io.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev_cents"
        ),
    )
    words = bloom_words(o, "o_orderkey")
    pruned = bloom_prune(li, "l_orderkey", words)
    return (
        pruned.join(o, pruned.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("rev_cents").cast("bigint").alias("revenue_cents"),
        )
    )


# --- join-size estimation by deterministic key sampling ---------------------

JCARD_MOD = 64  # sample keys whose salted md5 bucket ≡ 0 (mod this)


@register(
    "q_selfjoin_cardinality",
    oracle=f"""
WITH per_key AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS c,
         {md5_bucket_sql('CAST(l_partkey AS VARCHAR)', salt='jcard|')} % {JCARD_MOD} = 0 AS sampled
  FROM lineitem GROUP BY 1
),
tot AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS true_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(count(CASE WHEN sampled THEN 1 END) AS BIGINT)
           AS n_sampled_keys,
         CAST(coalesce(sum(CASE WHEN sampled THEN c * c END), 0)
              * {JCARD_MOD} AS BIGINT) AS est_rows
  FROM per_key
)
SELECT true_rows, est_rows, n_keys, n_sampled_keys,
       CAST(abs(est_rows - true_rows) * 1000000 // true_rows AS BIGINT)
         AS err_ppm
FROM tot
""",
)
def q_selfjoin_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation before paying the join — the optimizer
    statistic (self-join size = second frequency moment F2 = Σ c(k)²,
    AMS'96's motivating quantity) computed two ways in one pass:
    exactly, and from a DETERMINISTIC 1/{JCARD_MOD} key sample (salted
    md5 bucket of the key — any engine, any partitioning, any re-run
    samples the identical key set), with the estimate's error in ppm as
    recorded evidence. The estimator is unbiased over keys: E[est] =
    true under hash-uniformity, and heavy keys dominate F2, so the
    sample's hit-or-miss on them IS the err_ppm column — the audit a
    planner needs before trusting the estimate to pick shuffle vs
    broadcast or pre-salt a skewed self-join (q_skew_stats' companion
    for JOIN OUTPUT size rather than input key skew).

    Scale: the audit pays one partial-agg'd groupBy on the key (same
    exchange the join would need). A production estimator drops the
    exact column and filters BEFORE the aggregate — the hash predicate
    is a narrow map on the scan, so the shuffle carries ~1/{JCARD_MOD}
    of the keys and the estimate costs a fraction of the join it
    sizes."""
    per_key = (
        io.load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count("*").cast("bigint").alias("c"))
        .withColumn(
            "sampled",
            md5_bucket(F.col("l_partkey").cast("string"), salt="jcard|")
            % JCARD_MOD
            == 0,
        )
    )
    tot = per_key.agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("true_rows"),
        F.count("*").cast("bigint").alias("n_keys"),
        F.count(F.when(F.col("sampled"), 1))
        .cast("bigint")
        .alias("n_sampled_keys"),
        (
            F.coalesce(
                F.sum(F.when(F.col("sampled"), F.col("c") * F.col("c"))),
                F.lit(0),
            )
            * JCARD_MOD
        )
        .cast("bigint")
        .alias("est_rows"),
    )
    return tot.select(
        "true_rows",
        "est_rows",
        "n_keys",
        "n_sampled_keys",
        F.expr("abs(est_rows - true_rows) * 1000000 div true_rows")
        .cast("bigint")
        .alias("err_ppm"),
    )


# --- anti-entropy replica repair (merkle-style bucket fingerprints) ---------

RB_BUCKETS = 64    # fingerprint granularity: repair ships whole buckets
RB_DRIFT = 128     # 1/RB_DRIFT of replica B's rows carry a drifted balance
RB_DROP = 131      # 1/RB_DROP of replica B's rows are missing entirely

_RB_B = f"{md5_bucket_sql('CAST(c_custkey AS VARCHAR)', salt='rb|')} % {RB_BUCKETS}"
_RB_ROWHASH = md5_bucket_sql("CAST(c_custkey AS VARCHAR) || '|' || CAST(bal AS VARCHAR)")


@register(
    "q_table_repair",
    oracle=f"""
WITH a AS (
  SELECT c_custkey, {cents_sql('c_acctbal')} AS bal
  FROM customer
),
b AS (  -- the drifted replica: some rows corrupted, some missing
  SELECT c_custkey,
         CASE WHEN {md5_bucket_sql('CAST(c_custkey AS VARCHAR)', salt='drift|')}
                   % {RB_DRIFT} = 0
              THEN bal + 1 ELSE bal END AS bal
  FROM a
  WHERE {md5_bucket_sql('CAST(c_custkey AS VARCHAR)', salt='drop|')} % {RB_DROP} <> 0
),
fa AS (
  SELECT {_RB_B} AS bucket, CAST(count(*) AS BIGINT) AS n_a,
         CAST(coalesce(bit_xor({_RB_ROWHASH}), 0)
              AS BIGINT) AS h_a
  FROM a GROUP BY 1
),
fb AS (
  SELECT {_RB_B} AS bucket, CAST(count(*) AS BIGINT) AS n_b,
         CAST(coalesce(bit_xor({_RB_ROWHASH}), 0)
              AS BIGINT) AS h_b
  FROM b GROUP BY 1
)
SELECT fa.bucket, fa.n_a, coalesce(fb.n_b, 0) AS n_b,
       (fa.n_a <> coalesce(fb.n_b, 0) OR fa.h_a <> coalesce(fb.h_b, 0))
         AS divergent
FROM fa LEFT JOIN fb ON fa.bucket = fb.bucket
""",
)
def q_table_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy replica comparison — the merkle/rsync pattern for
    keeping two copies of a 100 TB table in sync without shipping
    either: both replicas reduce to {RB_BUCKETS} bucket fingerprints
    (row count + xor of a per-row hash over key AND payload), the
    fingerprint tables join on bucket id, and only DIVERGENT buckets'
    rows ever cross the wire. Replica B is derived deterministically
    (1/{RB_DRIFT} of rows payload-drifted, 1/{RB_DROP} missing), so
    the divergence set is stable and the oracle replays the whole
    audit; xor-of-hash catches value drift that row counts alone miss,
    while count mismatches catch missing rows xor could cancel.

    Scale: each replica pays one partial-agg'd scan into a
    {RB_BUCKETS}-row fingerprint table — the comparison exchange is
    KILOBYTES regardless of table size, and repair cost is bounded by
    the divergent fraction (here ~{RB_BUCKETS} buckets × their rows).
    Deepening to a merkle TREE (buckets of buckets) turns re-sync into
    log-depth drill-down; one level is enough to demonstrate the
    algebra."""
    a = io.load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        cents("c_acctbal").alias("bal"),
    )
    drift = (
        md5_bucket(F.col("c_custkey").cast("string"), salt="drift|")
        % RB_DRIFT
        == 0
    )
    b = a.filter(
        md5_bucket(F.col("c_custkey").cast("string"), salt="drop|")
        % RB_DROP
        != 0
    ).select(
        "c_custkey",
        F.when(drift, F.col("bal") + 1).otherwise(F.col("bal")).alias("bal"),
    )

    def fingerprints(df, n_col, h_col):
        bucket = (
            md5_bucket(F.col("c_custkey").cast("string"), salt="rb|")
            % RB_BUCKETS
        )
        rowhash = md5_bucket(
            F.concat(
                F.col("c_custkey").cast("string"),
                F.lit("|"),
                F.col("bal").cast("string"),
            )
        )
        return (
            df.select(bucket.alias("bucket"), rowhash.alias("rh"))
            .groupBy("bucket")
            .agg(
                F.count("*").cast("bigint").alias(n_col),
                F.coalesce(F.expr("bit_xor(rh)"), F.lit(0))
                .cast("bigint")
                .alias(h_col),
            )
        )

    fa = fingerprints(a, "n_a", "h_a")
    fb = fingerprints(b, "n_b", "h_b")
    return fa.join(fb, "bucket", "left").select(
        "bucket",
        "n_a",
        F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
        (
            (F.col("n_a") != F.coalesce("n_b", F.lit(0)))
            | (F.col("h_a") != F.coalesce("h_b", F.lit(0)))
        ).alias("divergent"),
    )


# --- exact median without a global sort (two-pass histogram prune) ----------

TPM_BUCKET_CENTS = 10_000  # pass-1 bucket width: $100 of price


@register(
    "q_two_pass_median",
    oracle="""
WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           FROM lineitem),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
m AS (SELECT cents FROM c ORDER BY cents
      LIMIT 1 OFFSET (SELECT (n + 1) // 2 - 1 FROM n))
SELECT n.n AS n_rows, m.cents AS median_cents,
       CAST(m.cents AS DOUBLE) / 100 AS median_price
FROM n, m
""",
)
def q_two_pass_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median (lower median, rank (n+1) div 2) with NO
    global sort — the two-pass prune that replaces `ORDER BY` on
    100 TB. Pass 1 buckets every price into ${TPM_BUCKET_CENTS}/100
    ranges and counts per bucket (map-side partial agg; the shuffle
    carries |buckets| rows). The cumulative over the bounded bucket
    table locates the ONE bucket containing rank k; pass 2 re-scans
    with `bucket = target` (codegen'd filter), counts per exact cent
    value — again bounded, at most {TPM_BUCKET_CENTS} distinct keys —
    and the cumulative over THAT picks the k-th value exactly. The
    oracle computes the same rank by brute-force ORDER BY/OFFSET,
    proving prune == sort. Contrast q_histogram_quantiles, which keeps
    the full-sort percentile as its teaching foil: this is the shape
    that makes the foil unnecessary (p95/p99 are the same prune with a
    different k; more passes narrow any long-tail bucket).

    The two single-partition windows run over BOUNDED tables (bucket
    count, within-bucket value count) — that is the point of the
    prune; the raw rows never enter a sort."""
    rounded = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    c = io.load_table(spark, sf_dir, "lineitem").select(rounded.alias("cents"))
    from pyspark.sql import Window

    buckets = (
        c.select((F.col("cents") - (F.col("cents") % TPM_BUCKET_CENTS)).alias("b"))
        .groupBy("b")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    n_row = c.agg(F.count("*").cast("bigint").alias("n"))
    cum = (
        buckets.withColumn("cum", F.sum("cnt").over(wb))
        .crossJoin(F.broadcast(n_row))
        .withColumn("k", F.expr("(n + 1) div 2"))
    )
    target = (
        cum.filter(F.col("cum") >= F.col("k"))
        .orderBy("b")
        .limit(1)
        .select("b", (F.col("cum") - F.col("cnt")).alias("cum_before"), "k")
    )
    in_bucket = c.join(
        F.broadcast(target),
        (F.col("cents") - (F.col("cents") % TPM_BUCKET_CENTS)) == F.col("b"),
    )
    wv = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    vals = (
        in_bucket.groupBy("cents", "cum_before", "k")
        .agg(F.count("*").cast("bigint").alias("vc"))
        .withColumn("vcum", F.sum("vc").over(wv))
    )
    median = (
        vals.filter(F.col("cum_before") + F.col("vcum") >= F.col("k"))
        .orderBy("cents")
        .limit(1)
        .select("cents")
    )
    return n_row.crossJoin(F.broadcast(median)).select(
        F.col("n").alias("n_rows"),
        F.col("cents").alias("median_cents"),
        (F.col("cents").cast("double") / 100).alias("median_price"),
    )


# --- sketch-space set intersection (audience overlap without raw keys) ------

HLL_SEG_A = "1-URGENT"
HLL_SEG_B = "2-HIGH"
_HLL_SEGS = f"""
seg_regs AS (
  SELECT o_orderpriority, register, max(rho) AS max_rho
  FROM (
    SELECT o_orderpriority,
           {SK.hll_register_rho_sql('h')}
    FROM (SELECT o_orderpriority, {SK.hll_hash_sql('o_custkey')} AS h FROM orders
          WHERE o_orderpriority IN ('{HLL_SEG_A}', '{HLL_SEG_B}'))
  )
  GROUP BY 1, 2
)
"""


@register(
    "q_hll_intersection",
    oracle=f"""
WITH {_HLL_SEGS},
est AS (
  SELECT o_orderpriority,
         {SK.hll_estimate_sql('max_rho')} AS e
  FROM seg_regs GROUP BY 1
),
u AS (
  SELECT {SK.hll_estimate_sql('mr')} AS e_union
  FROM (SELECT register, max(max_rho) AS mr FROM seg_regs GROUP BY 1)
),
wide AS (
  SELECT max(CASE WHEN o_orderpriority = '{HLL_SEG_A}' THEN e END) AS est_a,
         max(CASE WHEN o_orderpriority = '{HLL_SEG_B}' THEN e END) AS est_b
  FROM est
),
exact AS (
  SELECT CAST(count(*) AS BIGINT) AS n_exact
  FROM (SELECT o_custkey FROM orders
        WHERE o_orderpriority IN ('{HLL_SEG_A}', '{HLL_SEG_B}')
        GROUP BY o_custkey
        HAVING count(DISTINCT o_orderpriority) = 2)
)
SELECT w.est_a, w.est_b, u.e_union AS est_union,
       round(w.est_a + w.est_b - u.e_union, 6) AS est_intersection,
       x.n_exact,
       CAST(floor(abs(round(w.est_a + w.est_b - u.e_union, 6) - x.n_exact)
                  * 1000000.0 / x.n_exact + 0.5) AS BIGINT) AS err_ppm
FROM wide w, u, exact x
""",
)
def q_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation in SKETCH SPACE: |A ∩ B| for the
    urgent- and high-priority customer segments by inclusion-exclusion
    over HLL sketches — est_a + est_b − est_union, where the union
    sketch is the REGISTER-WISE MAX of the two segment sketches (the
    merge operation is exact for unions; intersections have no native
    sketch, which is why production systems do exactly this). The
    exact overlap rides along with the ppm error: inclusion-exclusion
    error compounds three estimates, the honest caveat this query
    measures rather than hides.

    Scale: both segment sketches come from ONE filtered scan and one
    (priority, register) partial-agg shuffle — ≤ 2·256 rows; union
    re-max, both estimates, and the subtraction are all sketch-sized.
    The exact side is the expensive plan (global distinct + HAVING
    over both segments) that the sketch replaces at 100 TB; the
    register sums stay exact in doubles (≤256 powers of two in a
    53-bit mantissa), so cross-engine parity is bit-level after the
    shared round(…, 6)."""
    segs = (
        io.load_table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_custkey")
        .filter(F.col("o_orderpriority").isin(HLL_SEG_A, HLL_SEG_B))
    )
    regs = SK.hll_registers(segs, "o_custkey", ["o_orderpriority"])
    est = SK.hll_estimate(regs, ["o_orderpriority"])
    wide = est.agg(
        F.max(
            F.when(F.col("o_orderpriority") == HLL_SEG_A, F.col("hll_estimate"))
        ).alias("est_a"),
        F.max(
            F.when(F.col("o_orderpriority") == HLL_SEG_B, F.col("hll_estimate"))
        ).alias("est_b"),
    )
    union_regs = regs.groupBy("register").agg(
        F.max("max_rho").alias("max_rho")
    )
    est_u = SK.hll_estimate(union_regs, []).select(
        F.col("hll_estimate").alias("est_union")
    )
    exact = (
        segs.groupBy("o_custkey")
        .agg(F.count_distinct("o_orderpriority").alias("np"))
        .filter(F.col("np") == 2)
        .agg(F.count("*").cast("bigint").alias("n_exact"))
    )
    inter = F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 6)
    return (
        wide.crossJoin(F.broadcast(est_u))
        .crossJoin(F.broadcast(exact))
        .select(
            "est_a",
            "est_b",
            "est_union",
            inter.alias("est_intersection"),
            "n_exact",
            F.floor(
                F.abs(inter - F.col("n_exact"))
                * F.lit(1000000.0)
                / F.col("n_exact")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("err_ppm"),
        )
    )


# --- grouped two-pass exact median -------------------------------------------

GM_BUCKET_CENTS = 1_000_000  # 10k-unit price bands for the first pass


@register(
    "q_grouped_median",
    oracle="""
WITH c AS (
  SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
r AS (
  SELECT o_orderpriority, cents,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY cents) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM c
)
SELECT o_orderpriority, CAST(n AS BIGINT) AS n_rows,
       cents AS median_cents,
       CAST(cents AS DOUBLE) / 100 AS median_price
FROM r WHERE rn = (n + 1) // 2
""",
)
def q_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT lower median PER GROUP with no per-group sort — the
    grouped form of q_two_pass_median, and the shape that actually
    ships at 100 TB (a global median is a curiosity; per-segment
    p50/p95 is the dashboard). Pass 1 counts (group, price-band)
    cells; a cumulative over the bounded band table — partitioned BY
    GROUP, so even the window parallelizes — locates each group's
    rank-k band. Pass 2 re-scans only rows in their group's target
    band (a broadcast semi-filter), counts exact cent values, and the
    per-group cumulative picks the k-th. The oracle brute-forces every
    group's rank via row_number, proving prune == sort groupwise.

    Every shuffled table is bounded (groups × bands, then groups ×
    in-band values); raw rows never sort. Skewed groups cost one extra
    narrowing pass, not a bigger sort buffer."""
    from pyspark.sql import Window

    c = io.load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    band = (F.col("cents") - (F.col("cents") % GM_BUCKET_CENTS)).alias("b")
    buckets = c.select("o_orderpriority", band).groupBy(
        "o_orderpriority", "b"
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    ngrp = c.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n")
    )  # feeds the rank targets AND the final report
    wb = (
        Window.partitionBy("o_orderpriority")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        buckets.join(ngrp, "o_orderpriority")
        .withColumn("k", F.expr("(n + 1) div 2"))
        .withColumn("cum", F.sum("cnt").over(wb))
    )
    w_first_b = Window.partitionBy("o_orderpriority").orderBy("b")
    target = (
        cum.filter(F.col("cum") >= F.col("k"))
        .withColumn("rn", F.row_number().over(w_first_b))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_orderpriority").alias("_tg"),
            "b",
            (F.col("cum") - F.col("cnt")).alias("cum_before"),
            "k",
        )
    )
    in_bucket = c.join(
        F.broadcast(target),
        (F.col("o_orderpriority") == F.col("_tg"))
        & ((F.col("cents") - (F.col("cents") % GM_BUCKET_CENTS)) == F.col("b")),
    ).select("o_orderpriority", "cents", "cum_before", "k")
    wv = (
        Window.partitionBy("o_orderpriority")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_first_v = Window.partitionBy("o_orderpriority").orderBy("cents")
    vals = (
        in_bucket.groupBy("o_orderpriority", "cents", "cum_before", "k")
        .agg(F.count("*").cast("bigint").alias("vc"))
        .withColumn("vcum", F.sum("vc").over(wv))
    )
    median = (
        vals.filter(F.col("cum_before") + F.col("vcum") >= F.col("k"))
        .withColumn("rn", F.row_number().over(w_first_v))
        .filter(F.col("rn") == 1)
        .select("o_orderpriority", "cents")
    )
    return ngrp.join(median, "o_orderpriority").select(
        "o_orderpriority",
        F.col("n").alias("n_rows"),
        F.col("cents").alias("median_cents"),
        (F.col("cents").cast("double") / 100).alias("median_price"),
    )
