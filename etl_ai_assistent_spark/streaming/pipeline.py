"""Structured Streaming pipelines (SURVEY.md §2.6 ● Streaming, §7 Step 5).

The reference's only ingest edge is a blocking HTTP upload
(scripts/app.py:17-33); its Spark generalization is a file-source stream
(Auto-Loader shape): `readStream` over a landing directory → the same
stateless operator chain the batch engine uses → windowed / sessionized
stateful aggregation with watermarks → sink.

Everything here runs REAL streaming execution (micro-batch engine,
StateStore-backed stateful operators). The registered queries drain the
finite testdata stream into a memory sink with `processAllAvailable()`
and return the materialized table, so the driver's DuckDB oracle gate
applies to streaming exactly as to batch: the streaming runtime must
reproduce the batch-declared semantics bit-for-bit.

Scale posture: the file source lists+splits per micro-batch and scales
with executors like any parquet scan; stateful aggs shuffle on the group
key with state kept per-partition in the state store (RocksDB-backed on
a real cluster); watermarks bound state growth — nothing here holds the
stream in driver memory except the (small) memory-sink results used for
verification.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import io, schemas
from .. import store as ST
from ..functions import cents, md5_bucket, units_to_double

_qname_counter = itertools.count()


def user_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user history profile (event count, lifetime cents) published
    as an on-disk store artifact under the shared contract
    (fingerprinted events key, atomic publish, validated adoption) —
    the FEATURE STORE a streaming enrichment join serves from. The
    batch job that maintains it runs once per events version; live
    traffic adopts the files. Money is integer cents
    (floor(v*100 + 0.5)) so enrichment sums are exact across engines."""
    path = ST.corpus_path("spark_graft_profile_store_v1", sf_dir, "events")

    def build(tmp: str) -> None:
        ev = io.load_table(spark, sf_dir, "events")
        prof = ev.groupBy("user_id").agg(
            F.count("*").cast("bigint").alias("hist_events"),
            F.sum(cents("value"))
            .cast("bigint")
            .alias("hist_cents"),
        )
        prof.write.mode("overwrite").parquet(tmp)

    ST.publish(
        path,
        build,
        validate=lambda p: ST.has_success(p) and ST.parquet_rows(p) > 0,
    )
    return spark.read.parquet(path)


# --- incremental profile maintenance (r10 verdict #4) -----------------------
#
# user_profile_table FULL-REBUILDS the profile per events version even
# though the repo owns the algebraic-upkeep operator
# (operators/incremental.py, gated by q_incremental_agg). These wire
# them: the published profile artifact is MAINTAINED under an append
# batch at O(|batch| + |groups|) delta cost and re-published under the
# store contract — the feature-store refresh job a 100 TB deployment
# runs per CDC batch instead of re-aggregating the fact table.

PROFILE_BATCH_MOD, PROFILE_BATCH_REM = 10, 7  # the arriving event batch


def profile_base_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRE-BATCH profile artifact: per-user rollup of the events
    history MINUS the arriving batch (event_id % 10 == 7) — yesterday's
    published feature store. Its own fingerprint-keyed version under
    the profile family (the batch spec rides the key)."""
    path = ST.corpus_path(
        "spark_graft_profile_store_v1",
        sf_dir,
        "events",
        f"_base{PROFILE_BATCH_MOD}x{PROFILE_BATCH_REM}",
    )

    def build(tmp: str) -> None:
        ev = io.load_table(spark, sf_dir, "events").filter(
            F.col("event_id") % PROFILE_BATCH_MOD != PROFILE_BATCH_REM
        )
        prof = ev.groupBy("user_id").agg(
            F.count("*").cast("bigint").alias("hist_events"),
            F.sum(cents("value")).cast("bigint").alias("hist_cents"),
        )
        prof.write.mode("overwrite").parquet(tmp)

    ST.publish(
        path,
        build,
        validate=lambda p: ST.has_success(p) and ST.parquet_rows(p) > 0,
    )
    return spark.read.parquet(path)


def maintain_profile_table(spark: SparkSession, sf_dir: str) -> str:
    """Apply the arriving event batch to the STORED base profile with
    the algebraic delta operator (operators/incremental.py — the
    q_incremental_agg machinery applied to a disk artifact) and
    publish the refreshed profile version under the store contract.
    Events are append-only, so every change is an unmatched insert:
    the maintenance plan declares insert_only and the operator skips
    the update/delete retraction join entirely — the batch aggregates
    to per-user deltas and full-outer-merges onto the groups-sized
    stored profile, and the event HISTORY is never read (r11 ADVICE:
    the old path threaded history through the retraction join's
    preserved-left-outer shape, which Spark can only execute by
    shuffling or broadcasting the whole base — BuildRight-only for
    LeftOuter — so each refresh silently rescanned history despite
    the O(|batch|+|groups|) claim). Returns the published path."""
    from ..operators.incremental import incremental_group_sums

    # v2: insert-only maintenance plan (v1 artifacts are value-identical
    # but were built by the history-scanning plan; the family bump makes
    # the published artifact the product of the code that claims it)
    path = ST.corpus_path("spark_graft_profile_maint_v2", sf_dir, "events")

    def build(tmp: str) -> None:
        base_prof = profile_base_table(spark, sf_dir).select(
            "user_id",
            F.col("hist_events").alias("n"),
            F.col("hist_cents").alias("sum_measure"),
        )
        ev = io.load_table(spark, sf_dir, "events")
        is_batch = (
            F.col("event_id") % PROFILE_BATCH_MOD == PROFILE_BATCH_REM
        )
        batch = ev.filter(is_batch).select(
            "event_id",
            "user_id",
            cents("value").alias("cents"),
            F.lit("I").alias("op"),
        )
        maintained = incremental_group_sums(
            base_prof,
            None,  # append-only: history is never read
            batch,
            key="event_id",
            group_col="user_id",
            measure_col="cents",
            insert_only=True,
        )
        maintained.select(
            "user_id",
            F.col("n").alias("hist_events"),
            F.col("sum_measure").alias("hist_cents"),
        ).write.mode("overwrite").parquet(tmp)

    ST.publish(
        path,
        build,
        validate=lambda p: ST.has_success(p) and ST.parquet_rows(p) > 0,
    )
    return path


def _events_stream_schema(spark: SparkSession, any_file: str) -> T.StructType:
    """A file-source stream needs a declared schema; hardcoding one
    silently mis-decodes when the landing files re-type a column (the
    exact failure: int64-ns `ts` declared LongType vs timestamp[us]
    files). Derive it from the actual files (footer-only batch read) and
    sanity-check the `ts` unit so drift fails loudly, never silently."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    io.assert_ts_unit_sane(any_file)
    return spark.read.parquet(any_file).schema


def _normalize_events(raw: DataFrame) -> DataFrame:
    """The batch scan's normalization (io.with_ts_us: raw `ts` → canonical
    `ts_us` epoch-µs BIGINT) plus `ts_ts`, the µs TIMESTAMP for window /
    watermark operators."""
    return io.with_ts_us(raw).withColumn(
        "ts_ts", F.timestamp_micros(F.col("ts_us"))
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table (file source, one file =
    finite stream; in production a landing dir the writer appends to).
    Emits canonical `ts_us` (epoch-µs BIGINT) and `ts_ts` (µs TIMESTAMP)
    for window ops."""
    schema = _events_stream_schema(spark, os.path.join(sf_dir, "events.parquet"))
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(os.path.join(sf_dir, "events.parq*"))  # glob: file source needs a dir/glob
    )
    return _normalize_events(raw)


def _read_landing_events(spark: SparkSession, path: str) -> DataFrame:
    """Streaming scan over a landing dir of part_*.parquet files, one
    file per micro-batch. Normalized like read_events_stream (ts_us +
    ts_ts)."""
    schema = _events_stream_schema(spark, os.path.join(path, "part_0.parquet"))
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(path + "/part_*.parquet")
    )
    return _normalize_events(raw)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the documents table — the Auto-Loader-shaped
    ingest edge of the document pipeline (reference app.py:17-33's HTTP
    upload, re-expressed as files landing in object storage)."""
    return (
        spark.readStream.schema(schemas.DOCUMENTS)
        .format("parquet")
        .load(os.path.join(sf_dir, "documents.parq*"))  # glob: file source needs a dir/glob
    )


def run_to_memory(
    df: DataFrame, *, prefix: str, mode: str = "complete"
) -> DataFrame:
    """Execute a streaming DataFrame to completion against the finite
    source: memory sink + processAllAvailable + stop, returning the
    materialized result table. The verification harness for every
    streaming query here."""
    spark = df.sparkSession
    qname = f"{prefix}_{next(_qname_counter)}"
    q = (
        df.writeStream.format("memory")
        .queryName(qname)
        .outputMode(mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(qname)


def tumbling_hourly(events: DataFrame) -> DataFrame:
    """Event-time tumbling 1-hour windows with a 1-hour watermark (the
    late-data contract: rows later than 1h behind max event time are
    dropped from state). Streaming twin of queries/events.q_tumbling_hourly."""
    return (
        events.withWatermark("ts_ts", "1 hour")
        .groupBy(F.window("ts_ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            # exact bigint cents in the state store (a long slot, not
            # a per-update BigDecimal allocation), widened on output
            units_to_double(F.sum(cents("value")), 2).alias(
                "total_value"
            ),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_start_s"),
            "event_type",
            "n",
            "total_value",
        )
    )
    # NOTE: count(DISTINCT user_id) is not supported by the streaming
    # engine; use approx_count_distinct in production streams and the
    # batch twin (q_tumbling_hourly) for exact distincts.


def sliding_windows(events: DataFrame) -> DataFrame:
    """Event-time sliding windows (2h length, 1h slide) with a 1-hour
    watermark: each event lands in two overlapping windows (the engine's
    internal explode), state bounded by the watermark. Streaming twin of
    queries/events.q_sliding_windows."""
    return (
        events.withWatermark("ts_ts", "1 hour")
        .groupBy(F.window("ts_ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            # exact bigint cents in the state store (a long slot, not
            # a per-update BigDecimal allocation), widened on output
            units_to_double(F.sum(cents("value")), 2).alias(
                "total_value"
            ),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start_s"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (session_window + watermark): per-user
    sessions merging events closer than `gap`; a new session starts when
    the inter-event gap is >= gap (window end is exclusive). The
    stateful-streaming twin of operators/sessionize.py's batch recipe."""
    return (
        events.withWatermark("ts_ts", "1 hour")
        .groupBy(F.session_window("ts_ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            units_to_double(F.sum(cents("value")), 2).alias(
                "session_value"
            ),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            "n_events",
            "session_value",
        )
    )


def _write_mod_split(
    t, key: str, parts: int, dest: str, copies: int = 1
) -> None:
    """Write pyarrow table `t` split by `key % parts` into
    `dest/part_{i}.parquet`, one file per residue. With `copies` > 1
    each split is written again as part_{i + parts}, part_{i + 2·parts},
    … (the at-least-once replay shape), copies of a split back to back."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(dest, exist_ok=True)
    part_key = [int(v) % parts for v in t.column(key).to_pylist()]
    t2 = t.append_column("__part", pa.array(part_key, type=pa.int32()))
    for i in range(parts):
        sub = t2.filter(pc.equal(t2.column("__part"), i)).drop(["__part"])
        for c in range(copies):
            pq.write_table(
                sub, os.path.join(dest, f"part_{i + c * parts}.parquet")
            )


def split_events_fixture(spark: SparkSession, sf_dir: str, parts: int = 4) -> str:
    """Split the single events parquet into `parts` files (by
    event_id % parts — deterministic), published under the store
    contract, so a maxFilesPerTrigger=1 stream replays it as `parts`
    micro-batches: real cross-batch state store traffic instead of a
    single batch. Keyed by the events corpus_key, so regenerated
    testdata gets a fresh landing dir."""
    import pyarrow.parquet as pq

    out = ST.corpus_path(
        "spark_graft_events_split_v1", sf_dir, "events", f"_{parts}"
    )

    def build(tmp: str) -> None:
        t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        _write_mod_split(t, "event_id", parts, tmp)

    ST.publish(out, build, validate=lambda p: ST.parquet_files(p) == parts)
    return out


def read_events_stream_split(
    spark: SparkSession, sf_dir: str, parts: int = 4
) -> DataFrame:
    """Streaming scan over the split fixture, one file per micro-batch."""
    return _read_landing_events(spark, split_events_fixture(spark, sf_dir, parts))


def split_embeddings_fixture(
    spark: SparkSession, sf_dir: str, parts: int = 4
) -> str:
    """Split the embeddings parquet into `parts` files by
    vec_id % parts (deterministic), published under the store contract,
    so a maxFilesPerTrigger=1 stream replays it as `parts`
    micro-batches — the probe-traffic landing dir for streaming ANN
    serving."""
    import pyarrow.parquet as pq

    out = ST.corpus_path(
        "spark_graft_emb_split_v1", sf_dir, "embeddings", f"_{parts}"
    )

    def build(tmp: str) -> None:
        t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
        _write_mod_split(t, "vec_id", parts, tmp)

    ST.publish(out, build, validate=lambda p: ST.parquet_files(p) == parts)
    return out


def read_embeddings_stream_split(
    spark: SparkSession, sf_dir: str, parts: int = 4
) -> DataFrame:
    """Streaming scan over the split embeddings fixture, one file per
    micro-batch."""
    path = split_embeddings_fixture(spark, sf_dir, parts)
    schema = spark.read.parquet(
        os.path.join(path, "part_0.parquet")
    ).schema
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(path + "/part_*.parquet")
    )


def dup_events_fixture(spark: SparkSession, sf_dir: str) -> str:
    """A 4-file landing dir where files 2/3 replay the SAME events as
    files 0/1 (split by event_id parity, distinct filenames): with
    maxFilesPerTrigger=1 every duplicate arrives in a LATER micro-batch
    than its original, so eliminating it requires dedup state that
    survives across batches — the at-least-once-upstream shape."""
    import pyarrow.parquet as pq

    out = ST.corpus_path("spark_graft_events_dup_v1", sf_dir, "events")

    def build(tmp: str) -> None:
        t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        _write_mod_split(t, "event_id", 2, tmp, copies=2)

    ST.publish(out, build, validate=lambda p: ST.parquet_files(p) == 4)
    return out


def read_events_stream_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan over the duplicated fixture, one file per
    micro-batch (4 batches, every event arriving exactly twice)."""
    return _read_landing_events(spark, dup_events_fixture(spark, sf_dir))


def stream_dedup_totals(events: DataFrame) -> DataFrame:
    """Streaming deduplication: dropDuplicates on the stable event id —
    dedup state in the state store, shuffled on the id — feeding a
    per-event-type aggregation (two chained stateful operators). Money
    is integer cents so the post-dedup totals are exact.

    This exact form keeps every seen id in state (correct for any
    arrival pattern — what the verification gate needs). The
    production-stream variant is dropDuplicatesWithinWatermark, which
    bounds the id state by the watermark horizon; same plan shape, the
    retention knob is the only difference."""
    return (
        events.dropDuplicates(["event_id"])
        .withColumn("cents", cents("value"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )


def stream_dedup_totals_watermarked(events: DataFrame) -> DataFrame:
    """stream_dedup_totals with BOUNDED dedup state: the production
    variant, dropDuplicatesWithinWatermark — the state store evicts ids
    older than the event-time watermark instead of growing forever. The
    fixture's 30-day span sits inside the 90-day horizon, so no id is
    evicted mid-replay and the output still equals the exact batch
    aggregate (which is what the oracle checks); shrinking the horizon
    below the replay span is the production trade — bounded state,
    at-most-horizon dedup."""
    return (
        events.withWatermark("ts_ts", "90 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .withColumn("cents", cents("value"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )


STATEFUL_OUTPUT = "user_id bigint, cum_events bigint, cum_cents bigint"
STATEFUL_STATE = "cum_events bigint, cum_cents bigint"


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (event count, value cents) carried in the state store across
    micro-batches; each batch emits the updated cumulative row for every
    user it touched. Money is integer cents (floor(v*100 + 0.5)) so the
    cross-batch accumulation is exact integer math — order-free and
    oracle-checkable.

    This is the §2.6 custom-state showcase: no built-in window can
    express 'arbitrary per-key accumulator with app-controlled emit'."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        cnt, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            cnt += len(pdf)
            cents += int(
                np.floor(pdf["value"].to_numpy() * 100.0 + 0.5).astype("int64").sum()
            )
        state.update((cnt, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "cum_events": [cnt], "cum_cents": [cents]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=STATEFUL_OUTPUT,
        stateStructType=STATEFUL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def doc_ingest(docs: DataFrame, chunk_size: int, overlap: int) -> DataFrame:
    """The reference ingestion pipeline (§3.1) as a stream: documents →
    fixed chunking (narrow flatMap) → per-doc chunk stats + md5-bucket
    content checksum. Stateless except the final aggregation."""
    from ..operators.chunker import fixed_chunks

    chunks = docs.select(
        "doc_id",
        F.posexplode(fixed_chunks("text", chunk_size, overlap)).alias(
            "chunk_idx", "chunk_text"
        ),
    )
    return chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.length("chunk_text")).alias("total_chars"),
        F.sum(md5_bucket(F.col("chunk_text"))).alias("checksum"),
    )


# both stream-stream joins' watermark delay: it covers the fixture's
# 30-day span, so no row is dropped as late mid-replay
JOIN_WATERMARK = "60 days"


def _purchase_interval_join(spark: SparkSession, path: str, how: str) -> DataFrame:
    """Signups joined to purchases of the same user within [signup,
    signup + 24h), each side its own stream over the landing dir."""
    signups = (
        _read_landing_events(spark, path)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"), F.col("ts_ts").alias("s_ts")
        )
        .withWatermark("s_ts", JOIN_WATERMARK)
    )
    purchases = (
        _read_landing_events(spark, path)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts_ts").alias("p_ts"),
            F.col("value"),
        )
        .withWatermark("p_ts", JOIN_WATERMARK)
    )
    joined = signups.join(
        purchases,
        F.expr(
            "s_user = p_user AND p_ts >= s_ts"
            " AND p_ts < s_ts + INTERVAL 24 HOURS"
        ),
        how,
    )
    return joined.select(
        F.col("s_user").alias("user_id"),
        F.unix_micros("s_ts").alias("signup_us"),
        F.unix_micros("p_ts").alias("purchase_us"),
        cents("value").alias("purchase_cents"),
    )


def stream_stream_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: the signup stream joined to the
    purchase stream per user, keeping purchases inside [signup, signup +
    24h). Both sides are REAL streaming sources over the 4-file split
    fixture (maxFilesPerTrigger=1), so matches routinely pair rows from
    DIFFERENT micro-batches — the join state store is doing real work.

    Watermarks + the event-time range predicate are what BOUND that
    state: each side can evict rows older than (max event time -
    watermark - range). The fixture splits by event_id hash, not time,
    so every micro-batch spans the whole month and a short watermark
    would *drop* late rows mid-replay — the 60-day setting covers the
    fixture's 30-day span, trading state size for zero drops, which is
    exactly the knob a production deployment tunes the other way."""
    return _purchase_interval_join(
        spark, split_events_fixture(spark, sf_dir), "inner"
    )


HB_PARTS = 4  # real micro-batches before the heartbeat


def heartbeat_split_events_fixture(spark: SparkSession, sf_dir: str) -> str:
    """The split fixture plus ONE final heartbeat file: a sentinel
    signup + purchase pair (user_id = -1) stamped max(ts) + 90 days.
    Outer stream-stream joins emit their unmatched rows only when the
    watermark passes the join deadline — which a finite replay's last
    real event never does. The heartbeat is the production pattern
    (periodic liveness events per source) made deterministic: it
    advances BOTH sides' watermarks past every deadline, so the final
    no-data micro-batch flushes the whole outer state. File mtimes are
    forced strictly increasing because FileStreamSource orders pending
    files by modification time — the heartbeat MUST be the last
    micro-batch or everything after it would be dropped as late."""
    out = ST.corpus_path(
        "spark_graft_events_hb_v1", sf_dir, "events", f"_{HB_PARTS}"
    )

    def build(tmp: str) -> None:
        from datetime import timedelta

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        _write_mod_split(t, "event_id", HB_PARTS, tmp)
        hb_ts = pc.max(t.column("ts")).as_py() + timedelta(days=90)
        cols = []
        for field in t.schema:
            if field.name == "event_id":
                vals = [-1, -2]
            elif field.name == "ts":
                vals = [hb_ts, hb_ts]
            elif field.name == "user_id":
                vals = [-1, -1]
            elif field.name == "event_type":
                vals = ["signup", "purchase"]
            elif field.name == "value":
                vals = [0.0, 0.0]
            else:
                vals = [None, None]
            cols.append(pa.array(vals, type=field.type))
        pq.write_table(
            pa.Table.from_arrays(cols, schema=t.schema),
            os.path.join(tmp, f"part_{HB_PARTS}_hb.parquet"),
        )
        # FileStreamSource orders pending files by mtime; pin them
        # strictly increasing so the heartbeat is the LAST micro-batch
        # (os.rename of the parent preserves per-file mtimes)
        base = 1_600_000_000
        for i in range(HB_PARTS):
            p = os.path.join(tmp, f"part_{i}.parquet")
            os.utime(p, (base + 10 * i, base + 10 * i))
        hb = os.path.join(tmp, f"part_{HB_PARTS}_hb.parquet")
        os.utime(hb, (base + 10 * HB_PARTS, base + 10 * HB_PARTS))

    ST.publish(out, build, validate=lambda p: ST.parquet_files(p) == HB_PARTS + 1)
    return out


def stream_stream_purchase_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every signup, with its
    within-24h purchases OR a null-extended row if none ever arrives.
    The outer side is what makes this a different machine from
    stream_stream_purchase_join: an unmatched signup can only be
    emitted once the engine PROVES no matching purchase can still
    arrive — i.e. the watermark has passed signup + 24h — so emission
    is driven by watermark advancement, not data arrival. The fixture's
    final heartbeat batch advances both watermarks past every deadline
    (see heartbeat_split_events_fixture), making the finite replay emit
    exactly the batch left-outer join, which the DuckDB oracle runs.

    Watermark tuning is the same trade as the inner join: 60 days
    covers the fixture's 30-day span so no mid-replay drops; the
    heartbeat sits 90 days out so final watermark = max + 30 days
    clears every signup + 24h deadline.

    TRAP (measured, not theoretical): filtering the sentinel user
    INSIDE this streaming plan breaks the flush — Catalyst pushes the
    filter below the EventTimeWatermark node into the parquet scan
    (and infers the mirror predicate for the other side through the
    equi-join key), so the heartbeat rows never reach either
    watermark tracker and the outer state never expires. The sentinel
    must ride through the streaming plan and be dropped AFTER the
    sink drains (see q_stream_outer_join)."""
    return _purchase_interval_join(
        spark, heartbeat_split_events_fixture(spark, sf_dir), "left_outer"
    )


def late_events_fixture(spark: SparkSession, sf_dir: str) -> str:
    """A 3-file landing dir delivering STRAGGLERS in two waves behind
    the watermark (mtime-ordered, so maxFilesPerTrigger=1 replays them
    as ordered micro-batches). Late set = every third event more than
    2 days older than the corpus max; wave 1 = even half, wave 2 = odd
    half. After batch 0 the 1-hour watermark sits at max − 1 h — weeks
    past every straggler's window — which makes the engine's actual
    late-data contract observable batch by batch: wave 1 MERGES with
    batch-0 state (merge happens before end-of-batch eviction), then
    that state is evicted, so wave 2 REBUILDS the same hours from
    zero. File membership keys on (event_id, a fixed time cutoff) so
    both engines recompute it exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = ST.corpus_path("spark_graft_events_late_v1", sf_dir, "events")

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        # plain-python masks (pyarrow.compute lacks mod)
        ids = t.column("event_id").to_pylist()
        epoch = (
            t.column("ts")
            .cast(pa.timestamp("us"))
            .to_pandas()
            .astype("datetime64[us]")
            .astype("int64")
        ).tolist()  # exact integer micros, no float round-trip
        cut = max(epoch) - 2 * 86400_000_000
        wave = [
            (1 if (i // 3) % 2 == 0 else 2) if (i % 3 == 0 and e < cut) else 0
            for i, e in zip(ids, epoch)
        ]
        prev_mtime = None
        for w in (0, 1, 2):
            mask = pa.array([v == w for v in wave], type=pa.bool_())
            path = os.path.join(tmp, f"part_{w}.parquet")
            pq.write_table(t.filter(mask), path)
            st = os.stat(path)
            if prev_mtime is not None:
                os.utime(path, (prev_mtime + 10, prev_mtime + 10))
                st = os.stat(path)
            prev_mtime = st.st_mtime

    ST.publish(out, build, validate=lambda p: ST.parquet_files(p) == 3)
    return out


def read_events_stream_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan over the late fixture, one file per micro-batch
    (2 batches: on-time bulk, then the weeks-late stragglers)."""
    return _read_landing_events(spark, late_events_fixture(spark, sf_dir))
