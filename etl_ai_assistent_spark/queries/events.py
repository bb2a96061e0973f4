"""Event-stream queries in batch form (SURVEY.md §2.6 ● Streaming).

`io.load_events` normalizes `events.ts` (whatever physical type the
generator shipped — int64 epoch-nanos or timestamp[us]) to ONE canonical
`ts_us` epoch-microseconds BIGINT column — exact on both engines, in
lock-step with the DuckDB oracle's `epoch_us(ts)`. Queries derive epoch
seconds/hours/weeks from `ts_us` by integer division only.

The streaming twins (Structured Streaming with watermarks) live in
streaming/pipeline.py; these batch forms define the oracle-checked
semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from ..functions import cents, cents_sql, units_to_double
from ..operators.asof import asof_join
from ..operators.sessionize import sessionize
from ..registry import register
from ..substrates import cached_substrates

SESSION_GAP_S = 1800


def _events_s(spark: SparkSession, sf_dir: str) -> DataFrame:
    return io.load_events(spark, sf_dir).withColumn(
        "ts_s", F.expr("ts_us DIV 1000000")
    )


@register(
    "q_sessionize",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS ts_s,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL
                   OR ts_s - lag(ts_s) OVER w > {SESSION_GAP_S}
                 THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
),
sess AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events,
       min(ts_s) AS start_s, max(ts_s) AS end_s,
       CAST(sum(v) AS DOUBLE) AS session_value
FROM sess
GROUP BY user_id, session_id
""",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap): lag + running-sum recipe,
    one shuffle on user_id, then per-session aggregation reusing the same
    partitioning."""
    e = _events_s(spark, sf_dir)
    s = sessionize(e, key="user_id", ts="ts_s", gap=SESSION_GAP_S, order_tiebreak="event_id")
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_s").alias("start_s"),
        F.max("ts_s").alias("end_s"),
        units_to_double(F.sum(cents("value")), 2).alias("session_value"),
    )


@register(
    "q_tumbling_hourly",
    oracle=f"""
SELECT (epoch_us(ts) // 1000000) // 3600 * 3600 AS hour_start_s,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
""",
)
def q_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch twin of the streaming
    window(ts, '1 hour') query). Bucketing by integer math keeps the
    group key exact across engines."""
    e = _events_s(spark, sf_dir)
    return (
        e.withColumn("hour_start_s", F.expr("ts_s DIV 3600 * 3600"))
        .groupBy("hour_start_s", "event_type")
        .agg(
            F.count("*").alias("n"),
            units_to_double(F.sum(cents("value")), 2).alias("total_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


@register(
    "q_asof_purchase_signup",
    oracle="""
WITH purchases AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
  WHERE event_type = 'purchase'
),
signups AS (
  SELECT event_id AS signup_event_id, user_id, epoch_us(ts) AS signup_ts_us
  FROM events WHERE event_type = 'signup'
)
SELECT p.event_id, p.user_id, s.signup_event_id,
       p.ts_us - s.signup_ts_us AS wait_us
FROM purchases p
ASOF LEFT JOIN signups s
  ON p.user_id = s.user_id AND p.ts_us >= s.signup_ts_us
""",
)
def q_asof_purchase_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest signup at
    or before it (union + fill-forward window — one shuffle on user_id,
    no range explosion; operators/asof.py). Oracle is DuckDB's native
    ASOF JOIN."""
    e = io.load_events(spark, sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    signups = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_event_id"),
        "user_id",
        F.col("ts_us").alias("signup_ts_us"),
    )
    out = asof_join(
        purchases, signups, on="user_id", left_ts="ts_us", right_ts="signup_ts_us",
        payload_prefix="",
    )
    return out.select(
        "event_id",
        "user_id",
        "signup_event_id",
        (F.col("ts_us") - F.col("signup_ts_us")).alias("wait_us"),
    )


WEEK_US = 604_800_000_000


@register(
    "q_purchases_after_signup",
    oracle=f"""
WITH s AS (
  SELECT event_id AS signup_event_id, user_id, epoch_us(ts) AS s_us
  FROM events WHERE event_type = 'signup'
),
p AS (
  SELECT user_id, epoch_us(ts) AS p_us, CAST(value AS DECIMAL(12,2)) AS v
  FROM events WHERE event_type = 'purchase'
)
SELECT s.signup_event_id, s.user_id,
       count(*) AS n_purchases,
       CAST(sum(p.v) AS DOUBLE) AS purchase_value
FROM s JOIN p
  ON p.user_id = s.user_id
 AND p.p_us >= s.s_us
 AND p.p_us <  s.s_us + {WEEK_US}
GROUP BY s.signup_event_id, s.user_id
""",
)
def q_purchases_after_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: purchases within 7 days after each signup, equi-keyed
    on the user. The equi key carries the shuffle; the range predicate is
    a post-join filter — never a cross join. (With no equi key you'd
    bucketize time and equi-join on the bucket.)"""
    e = io.load_events(spark, sf_dir)
    s = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_event_id"),
        "user_id",
        F.col("ts_us").alias("s_us"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts_us").alias("p_us"),
        F.col("value").cast("decimal(12,2)").alias("v"),
    )
    joined = s.join(
        p,
        (p.p_user_id == s.user_id)
        & (p.p_us >= s.s_us)
        & (p.p_us < s.s_us + WEEK_US),
    )
    return joined.groupBy("signup_event_id", "user_id").agg(
        F.count("*").alias("n_purchases"),
        F.sum("v").cast("double").alias("purchase_value"),
    )


@register(
    "q_latest_event_per_user",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id, event_type FROM ranked WHERE rn = 1
""",
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-per-key (CDC compaction shape): row_number over a
    per-key desc sort. At scale this is the dedup-by-key primitive for
    upsert streams."""
    e = io.load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts_us"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


@register(
    "q_props_json",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(props->>'k' AS BIGINT)) AS min_k,
       max(CAST(props->>'k' AS BIGINT)) AS max_k,
       count(DISTINCT CAST(props->>'k' AS BIGINT)) AS n_distinct_k
FROM events
GROUP BY event_type
""",
)
def q_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads: the events props column is a JSON
    string; from_json with an explicit schema (schema-on-read at the
    ingest boundary only, SURVEY.md §1 schema rule) lifts it to a typed
    struct that the rest of the plan treats as ordinary columns —
    filters and aggregates on k are codegen'd, nothing re-parses JSON
    twice."""
    e = io.load_events(spark, sf_dir)
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count_distinct("k").alias("n_distinct_k"),
        )
    )


@register(
    "q_sliding_windows",
    oracle="""
WITH e AS (
  SELECT event_type, epoch_us(ts) // 1000000 AS ts_s,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events
),
assigned AS (
  -- 2h windows sliding by 1h: each event belongs to exactly 2 windows,
  -- starting at the two hour-floors in (ts-2h, ts]
  SELECT event_type, v,
         (ts_s // 3600 - k) * 3600 AS win_start_s
  FROM e, (SELECT unnest([0, 1]) AS k)
)
SELECT win_start_s, event_type,
       count(*) AS n,
       CAST(sum(v) AS DOUBLE) AS total_value
FROM assigned
GROUP BY 1, 2
""",
)
def q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (2h length, 1h slide) in batch form:
    F.window assigns each event to its two overlapping windows (an
    internal explode — row count doubles before the agg, which is why
    at scale you keep slide/length small). Oracle replays the window
    assignment with integer hour arithmetic."""
    e = io.load_events(spark, sf_dir).select(
        F.timestamp_micros(F.col("ts_us")).alias("ts_ts"),
        "event_type",
        F.col("value").cast("decimal(12,2)").alias("v"),
    )
    return (
        e.groupBy(
            F.window("ts_ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("v").cast("double").alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start_s"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "q_moving_value_range",
    oracle="""
SELECT user_id, event_id,
       CAST(sum(CAST(value AS DECIMAL(12,2)))
              OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
                    RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS value_24h
FROM events
WHERE event_type = 'purchase'
""",
)
def q_moving_value_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window: per-user trailing-24h purchase value at each
    purchase (frame bounded by the ORDER BY value in seconds, not by row
    count — the time-decayed feature shape). DECIMAL sum inside the
    frame keeps the running totals exact in any accumulation order."""
    e = _events_s(spark, sf_dir).filter(F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-86400, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        # exact bigint cents through the range frame (no per-row
        # BigDecimal in the window buffer), widened per row
        units_to_double(F.sum(cents("value")).over(w), 2).alias(
            "value_24h"
        ),
    )


@register(
    "q_scd2_intervals",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
changes AS (
  SELECT user_id, event_type, ts_us,
         row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           AS chg_no
  FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, event_type,
       ts_us AS valid_from_us,
       lead(ts_us) OVER (PARTITION BY user_id ORDER BY chg_no) AS valid_to_us,
       lead(ts_us) OVER (PARTITION BY user_id ORDER BY chg_no) IS NULL
         AS is_current
FROM changes
""",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (slowly-changing-dimension type 2) interval build from a
    change stream: collapse each user's event_type runs to change
    records, then derive [valid_from, valid_to) validity intervals with
    an open (NULL) end on the current row — the CDC-to-warehouse
    compaction shape. Two window passes over one user_id shuffle; at
    100 TB the user_id partitioning is reused by both windows and the
    output is the dimension table you MERGE into."""
    e = io.load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    ordered = e.select(
        "user_id",
        "event_type",
        "ts_us",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = ordered.filter(
        F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type"))
    ).withColumn("chg_no", F.row_number().over(w))
    w2 = Window.partitionBy("user_id").orderBy("chg_no")
    nxt = F.lead("ts_us").over(w2)
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts_us").alias("valid_from_us"),
        nxt.alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "q_event_gaps",
    oracle="""
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events
)
SELECT user_id,
       count(gap_us) AS n_gaps,
       min(gap_us) AS min_gap_us,
       max(gap_us) AS max_gap_us,
       CAST(sum(gap_us) AS BIGINT) AS total_gap_us
FROM g
GROUP BY user_id
""",
)
def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag-based inter-event gap analytics per user (the engagement /
    anomaly feature): integer µs arithmetic end to end, one shuffle on
    user_id shared by the window and the aggregation."""
    e = io.load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    g = e.select(
        "user_id",
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us"),
    )
    return g.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.sum("gap_us").cast("bigint").alias("total_gap_us"),
    )


@register(
    "q_value_anomalies",
    oracle=f"""
WITH stats AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s,
         CAST(sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)))
              AS DOUBLE) AS s2
  FROM events GROUP BY 1
),
mom AS (
  SELECT event_type, n, s / n AS mu,
         sqrt(s2 / n - (s / n) * (s / n)) AS sigma
  FROM stats
)
SELECT e.event_id, e.event_type,
       {cents_sql('e.value')} AS value_cents,
       round((e.value - m.mu) / m.sigma, 6) AS z
FROM events e JOIN mom m ON e.event_type = m.event_type
WHERE abs((e.value - m.mu) / m.sigma) > 3.0
""",
)
def q_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| > 3) — the monitoring query
    a pipeline runs over every metric stream. Moments come from
    DECIMAL-exact sums (order-free, so bit-identical on any partitioning),
    widened to DOUBLE once; mean/sigma/z are then the same IEEE
    expressions on both engines. Two-pass shape: a 5-row broadcast of
    per-type moments back onto the fact scan — at 100 TB that's one
    partial-agg shuffle plus a narrow filtered map, no sort anywhere."""
    e = io.load_events(spark, sf_dir)
    dec = F.col("value").cast("decimal(12,2)")
    stats = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(dec).cast("double").alias("s"),
        F.sum(dec * dec).cast("double").alias("s2"),
    )
    mom = stats.select(
        "event_type",
        (F.col("s") / F.col("n")).alias("mu"),
        F.sqrt(
            F.col("s2") / F.col("n") - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
        ).alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        e.join(F.broadcast(mom), "event_type")
        .filter(F.abs(z) > 3.0)
        .select(
            "event_id",
            "event_type",
            cents("value").alias("value_cents"),
            F.round(z, 6).alias("z"),
        )
    )


@register(
    "q_event_funnel",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
s AS (
  SELECT user_id, min(us) AS t_signup FROM e
  WHERE event_type = 'signup' GROUP BY 1
),
v AS (
  SELECT e.user_id, min(e.us) AS t_view
  FROM e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'view' AND e.us >= s.t_signup
  GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.us) AS t_purchase
  FROM e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND e.us >= v.t_view
  GROUP BY 1
)
SELECT s.user_id,
       CAST(1 + CAST(v.user_id IS NOT NULL AS INT)
              + CAST(p.user_id IS NOT NULL AS INT) AS INT) AS stage,
       s.t_signup,
       v.t_view,
       p.t_purchase
FROM s LEFT JOIN v ON s.user_id = v.user_id
       LEFT JOIN p ON v.user_id = p.user_id
""",
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup -> first view after it -> first purchase
    after that) per user, with the stage reached and the stage
    timestamps in integer µs. Three stage aggregations, each a
    partial-agg'd min keyed on user — the standard behavioral-analytics
    query, expressed so each stage only scans its event-type slice
    (predicate pushed to the parquet scan) and shuffles user-keyed
    minima, never raw event rows twice."""
    e = io.load_events(spark, sf_dir).select(
        "user_id", "event_type", F.col("ts_us").alias("us")
    )
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("t_signup"))
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("us") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("us") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_purchase"))
    )
    return (
        s.join(v, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            (
                F.lit(1)
                + F.col("t_view").isNotNull().cast("int")
                + F.col("t_purchase").isNotNull().cast("int")
            )
            .cast("int")
            .alias("stage"),
            "t_signup",
            "t_view",
            "t_purchase",
        )
    )


@register(
    "q_cohort_retention",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) // 86400000000 // 7 AS week FROM events
),
cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1
),
activity AS (
  SELECT DISTINCT e.user_id, c.cohort_week,
         e.week - c.cohort_week AS week_offset
  FROM e JOIN cohort c ON e.user_id = c.user_id
)
SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_users
FROM activity GROUP BY 1, 2
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity week,
    counted once per (cohort, week-offset) they were active in. All
    integer week arithmetic from µs epochs. Two user-keyed aggregations
    plus a distinct — each partial-aggregated map-side; the output is
    cohorts x offsets rows regardless of event volume, the shape that
    lets a 100 TB events table produce a dashboard-sized result without
    ever wide-shuffling raw rows."""
    e = io.load_events(spark, sf_dir).select(
        "user_id",
        F.expr("ts_us DIV 86400000000 DIV 7").alias("week"),
    )
    cohort = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = (
        e.join(cohort, "user_id")
        .select("user_id", "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count("*").cast("bigint").alias("n_users")
    )


@register(
    "q_group_regression",
    oracle=f"""
WITH base AS (
  SELECT event_type,
         epoch_us(ts) // 3600000000 AS hour_abs,
         {cents_sql('value')} AS cents
  FROM events
),
origin AS (SELECT min(hour_abs) AS h0 FROM base),
xy AS (
  SELECT event_type, b.hour_abs - o.h0 AS x, cents AS y
  FROM base b, origin o
),
sums AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM xy GROUP BY 1
),
fit AS (
  SELECT event_type, n, sx, sy,
         CAST((1000000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx) AS BIGINT)
           AS slope_ppm
  FROM sums
)
SELECT event_type, n,
       slope_ppm AS slope_ppm_cents_per_hour,
       CAST((1000000 * sy - slope_ppm * sx) // (1000000 * n) AS BIGINT)
         AS intercept_cents
FROM fit
""",
)
def q_group_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form per-group OLS (value-cents vs hours-since-start):
    slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) computed ENTIRELY in 64-bit
    integers (x rebased to the corpus origin keeps every moment far from
    overflow; slope emitted in ppm). This is distributed model fitting
    as pure partial-agg sums — the five sufficient statistics combine
    map-side and merge associatively, so fitting 100 TB is one bounded
    shuffle of 5 numbers per group, no iteration, no solver."""
    base = io.load_events(spark, sf_dir).select(
        "event_type",
        F.expr("ts_us DIV 3600000000").alias("hour_abs"),
        cents("value").alias("cents"),
    )
    origin = base.agg(F.min("hour_abs").alias("h0"))
    xy = base.crossJoin(F.broadcast(origin)).select(
        "event_type",
        (F.col("hour_abs") - F.col("h0")).alias("x"),
        F.col("cents").alias("y"),
    )
    sums = xy.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    fit = sums.select(
        "event_type",
        "n",
        "sx",
        "sy",
        F.expr("(1000000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx)")
        .cast("bigint")
        .alias("slope_ppm"),
    )
    return fit.select(
        "event_type",
        "n",
        F.col("slope_ppm").alias("slope_ppm_cents_per_hour"),
        F.expr("(1000000 * sy - slope_ppm * sx) div (1000000 * n)")
        .cast("bigint")
        .alias("intercept_cents"),
    )


@register(
    "q_props_variant",
    oracle=f"""
SELECT CAST(CAST(props->>'k' AS BIGINT) // 10 AS BIGINT) AS k_decile,
       count(*) AS n,
       count(DISTINCT event_type) AS n_types,
       CAST(sum({cents_sql('value')}) AS BIGINT)
         AS total_cents
FROM events
GROUP BY 1
""",
)
def q_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VARIANT twin of q_props_json: parse_json lifts the payload to
    Spark 4's VariantType — the schema-FREE semi-structured path (no
    declared struct; paths are extracted on demand with variant_get and
    stay in the binary variant encoding between accesses, the shredded
    columnar form at rest). Same aggregation discipline: integer decile
    buckets and exact cents. On a 100 TB event lake the variant column
    is the ingestion format for payloads whose schema drifts faster
    than the pipeline redeploys."""
    e = io.load_events(spark, sf_dir)
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        e.select(
            "event_type",
            cents("value").alias("cents"),
            k.alias("k"),
        )
        .select(
            F.expr("k DIV 10").cast("bigint").alias("k_decile"),
            "event_type",
            "cents",
        )
        .groupBy("k_decile")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("event_type").alias("n_types"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )


@register(
    "q_rfm_segments",
    oracle=f"""
WITH base AS (
  SELECT user_id,
         max(epoch_us(ts)) AS last_us,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN {cents_sql('value')}
                       ELSE 0 END) AS BIGINT) AS monetary_cents
  FROM events GROUP BY user_id
),
scored AS (
  SELECT user_id, last_us, frequency, monetary_cents,
         ntile(5) OVER (ORDER BY last_us DESC, user_id) AS r,
         ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f,
         ntile(5) OVER (ORDER BY monetary_cents DESC, user_id) AS m
  FROM base
)
SELECT user_id, frequency, monetary_cents,
       CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
       CAST(r * 100 + f * 10 + m AS INT) AS rfm,
       CASE WHEN r <= 2 AND f <= 2 THEN 'core'
            WHEN r <= 2 THEN 'recent'
            WHEN f <= 2 THEN 'lapsing-frequent'
            ELSE 'dormant' END AS segment
FROM scored
""",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles — the
    standard behavioral-cohort feature): one user-keyed aggregation,
    then three ntile quintiles with deterministic user_id tie-breaks,
    all integer µs/cents.

    The quintiles are NOT global ntile windows (user count grows with
    SF; unpartitioned windows are plan-lint-banned): each axis gets an
    exact global row number from operators/rank.py's bounded-histogram
    pattern, then ntile_on maps (rn, N) to the SQL-exact tile. Bucket
    widths are derived IN-PLAN from each metric's own (min, max) range
    stats (rank.with_global_row_number_from_stats: ONE combined 1-row
    broadcast aggregate shared by all three axes, histogram ≤
    ~2·TARGET_BUCKETS by construction on ANY domain) — closing the r9
    finding that the previous divisors were
    sized to the fixture; rank.py's MAX_BUCKETS in-plan raise remains
    as the backstop. The user-keyed base feeds three ranking branches;
    it is persisted through the per-corpus substrates.cached_substrates
    (one entry per sf_dir, evicted on sf change, re-marked after
    clearCache) so repeated invocations in a long session reuse one
    pinned copy instead of accumulating leaked cache entries (ADVICE
    r8), and so the stats pass reads memory, not the scan. Oracle
    stays the plain triple ntile()."""
    from ..operators import rank as RK

    def _build():
        e = io.load_events(spark, sf_dir)
        return e.groupBy("user_id").agg(
            F.max("ts_us").alias("last_us"),
            F.count("*").cast("bigint").alias("frequency"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    cents("value"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("monetary_cents"),
        )

    base = cached_substrates("rfm_base", spark, sf_dir, _build)

    # All three quintile axes rank in ONE grouped pass (a per-axis
    # ranked branch + user_id join each measured 0.67 → 2.38 s at
    # sf0.1 — stage-count overhead, not data): one combined (min, max)
    # × 3-metric stats row broadcasts onto the base, the axes explode
    # into a `axis` column carrying their own negated key and range
    # stats, rank.with_global_row_number_from_stats(group_cols=axis)
    # ranks every axis in one histogram/broadcast/sort plan, and a
    # pivot folds the tiles back to one row per user.
    axes = (("r", "last_us"), ("f", "frequency"), ("m", "monetary_cents"))
    stats = base.agg(
        *[
            e
            for _, m in axes
            for e in (
                (-F.max(m)).cast("bigint").alias(f"_{m}_lo"),
                (-F.min(m)).cast("bigint").alias(f"_{m}_hi"),
            )
        ]
    )
    long = (
        base.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            "frequency",
            "monetary_cents",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(a).alias("axis"),
                            (-F.col(m)).cast("bigint").alias("neg_v"),
                            F.col(f"_{m}_lo").alias("lo"),
                            F.col(f"_{m}_hi").alias("hi"),
                        )
                        for a, m in axes
                    ]
                )
            ).alias("x"),
        )
        .select("user_id", "frequency", "monetary_cents", "x.*")
    )
    ranked = RK.with_global_row_number_from_stats(
        long, "neg_v", "user_id", "lo", "hi", total="n_u",
        group_cols=("axis",),
    )
    tiles = ranked.select(
        "user_id",
        "frequency",
        "monetary_cents",
        "axis",
        RK.ntile_on(5, "rn", "n_u").alias("tile"),
    )
    # fold the three axis rows back to one per user with conditional
    # aggregation — no pivot shuffle, no join back onto base
    scored = tiles.groupBy("user_id").agg(
        F.first("frequency").alias("frequency"),
        F.first("monetary_cents").alias("monetary_cents"),
        *[
            F.max(F.when(F.col("axis") == a, F.col("tile"))).alias(a)
            for a, _ in axes
        ],
    )
    return scored.select(
        "user_id",
        "frequency",
        "monetary_cents",
        "r",
        "f",
        "m",
        (F.col("r") * 100 + F.col("f") * 10 + F.col("m"))
        .cast("int")
        .alias("rfm"),
        F.when((F.col("r") <= 2) & (F.col("f") <= 2), "core")
        .when(F.col("r") <= 2, "recent")
        .when(F.col("f") <= 2, "lapsing-frequent")
        .otherwise("dormant")
        .alias("segment"),
    )


@register(
    "q_event_transitions",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (
  SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_total FROM trans GROUP BY 1
)
SELECT t.prev_type, t.next_type, t.n,
       CAST((1000000 * t.n) // o.row_total AS BIGINT) AS p_ppm
FROM trans t JOIN tot o ON o.prev_type = t.prev_type
""",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral Markov matrix: per-user event-type
    transitions (lag over the user timeline) counted into a
    types x types matrix with exact integer-ppm row-normalized
    probabilities. One user_id-keyed window pass over the event scan,
    then a types-sized aggregation — the output is O(|event types|^2)
    regardless of event volume."""
    e = io.load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    ordered = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = (
        ordered.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = trans.groupBy("prev_type").agg(
        F.sum("n").cast("bigint").alias("row_total")
    )
    return trans.join(tot, "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        F.expr("(1000000 * n) div row_total").cast("bigint").alias("p_ppm"),
    )


@register(
    "q_ewma_user_value",
    oracle=f"""
WITH seq AS (
  SELECT user_id,
         list_transform(
           list_sort(list({{'ts': epoch_us(ts), 'id': event_id,
                           'v': {cents_sql('value')}}})),
           s -> s.v) AS xs
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(xs) AS BIGINT) AS n_events,
       xs[len(xs)] AS last_cents,
       CAST(list_reduce(xs, (acc, x) -> (acc * 3 + x) // 4) AS BIGINT)
         AS ewma_cents
FROM seq
""",
)
def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event value —
    the time-decayed feature, with a RATIONAL decay (alpha = 1/4:
    s <- (3*s + x) div 4 in integer cents) so the inherently sequential
    recursion is EXACT and engine-independent. The per-user event
    sequence is folded inside one row (sort_array over a collected
    struct array, then a higher-order aggregate) — the same per-key-
    bounded pattern as the per-doc applyInPandas operators: state is one
    user's history, never a corpus. One user-keyed shuffle total."""
    e = io.load_events(spark, sf_dir)
    arr = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("ts_us").alias("ts"),
                F.col("event_id").alias("id"),
                cents("value").alias("v"),
            )
        )
    )
    seq = e.groupBy("user_id").agg(
        F.transform(arr, lambda s: s["v"]).alias("xs")
    )
    n = F.size("xs")
    # (3*acc + x) div 4 via floor(double / 4): exact while 3*acc + x stays
    # under 2^53 (cents are <= ~1e7 here; the recursion keeps acc bounded
    # by max(x), so the bound holds with ~6 orders of headroom)
    ewma = F.aggregate(
        F.slice(F.col("xs"), 2, n - 1),
        F.element_at(F.col("xs"), 1),
        lambda acc, x: F.floor((acc * 3 + x) / 4).cast("bigint"),
    )
    return seq.select(
        "user_id",
        n.cast("bigint").alias("n_events"),
        F.element_at("xs", n).alias("last_cents"),
        ewma.cast("bigint").alias("ewma_cents"),
    )


@register(
    "q_daily_gapfill",
    oracle=f"""
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum({cents_sql('value')}) AS BIGINT)
           AS total_cents
  FROM events WHERE event_type = 'error' GROUP BY 1
),
bounds AS (
  SELECT min(epoch_us(ts)) // 86400000000 AS d0,
         max(epoch_us(ts)) // 86400000000 AS d1
  FROM events
),
spine AS (
  SELECT unnest(generate_series(d0, d1)) AS day_id FROM bounds
)
SELECT s.day_id,
       COALESCE(d.n, 0) AS n,
       COALESCE(d.total_cents, 0) AS total_cents,
       d.day_id IS NULL AS is_gap
FROM spine s LEFT JOIN daily d ON d.day_id = s.day_id
""",
)
def q_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap filling: a complete day spine generated from
    the observed [min, max] range (sequence + explode — no calendar
    table needed), left-joined to sparse daily aggregates so days with
    NO qualifying events surface as explicit zero rows — the dashboard /
    alerting shape where a silent day IS the signal. The spine is
    range-sized (days, not events) and the aggregate is partial-agg'd.

    Broadcast placement: an outer join can never broadcast its
    row-preserving side (BroadcastHashJoin must stream it), so the hint
    goes on the AGGREGATED daily side — which is day-granularity, bounded
    by the calendar range (≤ ~37k rows/century) regardless of event
    volume, hence scale-safe to broadcast."""
    e = io.load_events(spark, sf_dir)
    daily = (
        e.filter(F.col("event_type") == "error")
        .groupBy(F.expr("ts_us DIV 86400000000").alias("day_id"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(cents("value"))
            .cast("bigint")
            .alias("total_cents"),
        )
    )
    bounds = e.agg(
        F.expr("min(ts_us) DIV 86400000000").alias("d0"),
        F.expr("max(ts_us) DIV 86400000000").alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day_id")
    )
    return (
        spine.join(F.broadcast(daily), "day_id", "left")
        .select(
            "day_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            F.coalesce(F.col("total_cents"), F.lit(0))
            .cast("bigint")
            .alias("total_cents"),
            F.col("n").isNull().alias("is_gap"),
        )
    )


# --- interval-overlap join via day banding -----------------------------------

_SESS_CTES = f"""
e AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS ts_s FROM events
),
flagged AS (
  SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL
                   OR ts_s - lag(ts_s) OVER w > {SESSION_GAP_S}
                 THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
),
sess AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
sessions AS (
  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         min(ts_s) AS start_s, max(ts_s) AS end_s
  FROM sess GROUP BY user_id, session_id
)"""

DAY_S = 86400
PROMO_DAYS = 2  # each promo window spans [day_i, day_i + 2 days]


@register(
    "q_interval_join",
    oracle=f"""
WITH {_SESS_CTES},
b AS (
  SELECT min(start_s) // {DAY_S} AS d0, max(end_s) // {DAY_S} AS d1
  FROM sessions
),
promos AS (
  SELECT CAST(i AS BIGINT) AS promo_id,
         (d0 + i) * {DAY_S} AS p_start_s,
         (d0 + i + {PROMO_DAYS}) * {DAY_S} AS p_end_s
  FROM b, unnest(generate_series(0, CAST(d1 - d0 AS BIGINT))) t(i)
),
joined AS (
  SELECT p.promo_id, p.p_start_s, s.user_id,
         least(s.end_s, p.p_end_s) - greatest(s.start_s, p.p_start_s) AS ov
  FROM promos p JOIN sessions s
    ON s.start_s <= p.p_end_s AND p.p_start_s <= s.end_s
)
SELECT promo_id, p_start_s,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(ov) AS BIGINT) AS total_overlap_s
FROM joined GROUP BY 1, 2
""",
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join at scale — the operator Spark has no
    native strategy for (a raw `ON a.start <= b.end AND b.start <=
    a.end` theta join is a nested-loop cartesian): user sessions
    (gap-sessionized, same recipe as q_sessionize) joined to
    overlapping {PROMO_DAYS}-day promo windows by DAY BANDING — both
    interval sets explode to the day buckets they cover
    (sequence+explode, codegen), candidates meet in an ordinary hash
    EQUI-join on the day, duplicates from multi-day spans collapse via
    the pre-aggregated pair row, and the exact overlap predicate
    verifies candidates. The oracle runs the naive theta join, so the
    gate proves the banding rewrite finds exactly the overlap set.

    Scale: cost is Σ days-covered per interval (sessions ≈ 1-2
    buckets, promos {PROMO_DAYS}+1) instead of |sessions|×|promos|;
    the band width is the classic selectivity/duplication knob.
    Promo windows derive from the sessions' own day span entirely
    in-plan (1-row bounds, sequence explode — no driver action, no
    literal dates)."""
    e = _events_s(spark, sf_dir)
    sessions = (
        sessionize(
            e,
            key="user_id",
            ts="ts_s",
            gap=SESSION_GAP_S,
            order_tiebreak="event_id",
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts_s").alias("start_s"),
            F.max("ts_s").alias("end_s"),
        )
        # feeds THREE branches (bounds agg → promos, plus the banded
        # join side), which reuse its exchange
    )
    b = sessions.agg(
        F.expr(f"min(start_s) div {DAY_S}").alias("d0"),
        F.expr(f"max(end_s) div {DAY_S}").alias("d1"),
    )
    promos = b.select(
        F.posexplode(F.sequence(F.lit(0), (F.col("d1") - F.col("d0")).cast("int"))).alias("promo_id", "i"),
        "d0",
    ).select(
        F.col("promo_id").cast("bigint").alias("promo_id"),
        ((F.col("d0") + F.col("i")) * DAY_S).cast("bigint").alias("p_start_s"),
        ((F.col("d0") + F.col("i") + PROMO_DAYS) * DAY_S)
        .cast("bigint")
        .alias("p_end_s"),
    )
    p_banded = promos.select(
        "*",
        F.explode(
            F.sequence(
                F.expr(f"p_start_s div {DAY_S}"),
                F.expr(f"p_end_s div {DAY_S}"),
            )
        ).alias("day"),
    )
    s_banded = sessions.select(
        "*",
        F.explode(
            F.sequence(
                F.expr(f"start_s div {DAY_S}"), F.expr(f"end_s div {DAY_S}")
            )
        ).alias("day"),
    )
    pairs = (
        p_banded.join(s_banded, "day")
        .filter(
            (F.col("start_s") <= F.col("p_end_s"))
            & (F.col("p_start_s") <= F.col("end_s"))
        )
        # one row per (promo, session) regardless of shared-band count
        .select(
            "promo_id",
            "p_start_s",
            "p_end_s",
            "user_id",
            "session_id",
            "start_s",
            "end_s",
        )
        .distinct()
    )
    return pairs.select(
        "promo_id",
        "p_start_s",
        "user_id",
        (
            F.least("end_s", "p_end_s") - F.greatest("start_s", "p_start_s")
        ).alias("ov"),
    ).groupBy("promo_id", "p_start_s").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum("ov").cast("bigint").alias("total_overlap_s"),
    )


# --- marketing attribution (last-touch) --------------------------------------

US_PER_MIN = 60_000_000


@register(
    "q_attribution",
    oracle=f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
         CASE WHEN event_type = 'purchase'
              THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) END AS cents,
         CASE WHEN event_type IN ('click', 'view') THEN event_type END AS touch,
         CASE WHEN event_type IN ('click', 'view') THEN epoch_us(ts) END AS touch_us
  FROM events WHERE event_type IN ('purchase', 'click', 'view')
),
attrib AS (
  SELECT user_id, ts_us, event_type, cents,
         last_value(touch IGNORE NULLS) OVER w AS last_touch,
         last_value(touch_us IGNORE NULLS) OVER w AS last_touch_us
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT COALESCE(last_touch, 'direct') AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS revenue_cents,
       CAST(COALESCE(sum((ts_us - last_touch_us) // {US_PER_MIN}), 0) AS BIGINT)
         AS total_wait_mins
FROM attrib WHERE event_type = 'purchase'
GROUP BY 1
""",
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to
    the user's most recent click/view strictly before it in the
    deterministic (ts, event_id) order; purchases with no prior touch
    fall into the 'direct' channel. Per channel: purchases, exact
    DECIMAL-derived revenue cents, and total minutes from touch to
    conversion (integer microsecond floors — no calendar-boundary
    date_diff semantics to disagree over).

    The fill-forward window is the q_asof_purchase_signup plan shape
    (one hash exchange on user_id, sort, last() over a preceding
    frame) generalized to carry BOTH the touch type and its timestamp;
    ties at the same microsecond break on event_id in both engines.
    Scale: one keyed shuffle + one channel-bounded partial agg; no
    joins at all."""
    e = io.load_events(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "click", "view")
    )
    is_touch = F.col("event_type").isin("click", "view")
    ev = e.select(
        "user_id",
        "ts_us",
        "event_id",
        "event_type",
        F.when(
            F.col("event_type") == "purchase",
            (F.col("value").cast("decimal(12,2)") * 100).cast("bigint"),
        ).alias("cents"),
        F.when(is_touch, F.col("event_type")).alias("touch"),
        F.when(is_touch, F.col("ts_us")).alias("touch_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attrib = ev.select(
        "user_id",
        "ts_us",
        "event_type",
        "cents",
        F.last("touch", ignorenulls=True).over(w).alias("last_touch"),
        F.last("touch_us", ignorenulls=True).over(w).alias("last_touch_us"),
    )
    return (
        attrib.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("last_touch", F.lit("direct")).alias("channel"))
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
            F.coalesce(
                F.sum(
                    F.expr(
                        f"(ts_us - last_touch_us) div {US_PER_MIN}"
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("total_wait_mins"),
        )
    )
