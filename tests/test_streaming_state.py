"""Evidence tests for the custom stateful streaming operator: state must
actually persist across micro-batches (not just one big batch)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_ai_assistent_spark.streaming import pipeline as SP


def test_state_crosses_micro_batches(spark, sf_small):
    events = SP.read_events_stream_split(spark, sf_small, parts=4)
    drained = SP.run_to_memory(
        SP.stateful_user_totals(events), prefix="state_test", mode="update"
    )
    n_users = drained.select("user_id").distinct().count()
    n_rows = drained.count()
    # one cumulative row per touched user per batch: with 4 batches and
    # every user active in several of them, rows must exceed users —
    # proof the operator emitted from restored state more than once.
    assert n_rows > n_users, (n_rows, n_users)
    # cumulative counters are monotone per user: max == last == total
    totals = drained.groupBy("user_id").agg(
        F.max("cum_events").alias("n"), F.sum(F.lit(1)).alias("batches")
    )
    multi = totals.filter(F.col("batches") > 1).count()
    assert multi > 0


def test_outer_join_sentinel_filter_pushdown_starves_watermark(spark, sf_small):
    """The trap q_stream_outer_join's structure exists to avoid,
    pinned so a refactor can't reintroduce it: putting the
    sentinel-user filter INSIDE the streaming plan lets Catalyst push
    it below the EventTimeWatermark node into the scan (and infer the
    mirror predicate across the join key), so the heartbeat rows never
    advance either watermark and ZERO unmatched rows flush. The
    correct shape (filter after the sink drains) emits them all."""
    from pyspark.sql import functions as F

    from etl_ai_assistent_spark.streaming import pipeline as SP

    good = SP.run_to_memory(
        SP.stream_stream_purchase_left_join(spark, sf_small),
        prefix="soj_good",
        mode="append",
    ).filter(F.col("user_id") != -1)
    n_unmatched = good.filter(F.col("purchase_us").isNull()).count()
    assert n_unmatched > 0

    bad = SP.run_to_memory(
        SP.stream_stream_purchase_left_join(spark, sf_small).filter(
            F.col("user_id") != -1
        ),
        prefix="soj_bad",
        mode="append",
    )
    assert bad.filter(F.col("purchase_us").isNull()).count() == 0


def test_late_filter_lags_eviction_watermark_by_one_batch(spark, sf_small):
    """Pins the engine semantics q_stream_late_rebuild documents: the
    late-input filter uses the PREVIOUS batch's watermark, so wave 1
    (first batch after the bulk) is admitted and merged while wave 2 —
    identical lateness, one batch later — is dropped entirely. If a
    Spark upgrade changes either side, this fails before the oracle
    does, with the metric that moved."""
    events = SP.read_events_stream_late(spark, sf_small)
    agg = (
        events.withWatermark("ts_ts", "1 hour")
        .groupBy(F.window("ts_ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_pin")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert len(prog) == 3, [p["batchId"] for p in prog]
    so = [p["stateOperators"][0] for p in prog]
    assert prog[1]["numInputRows"] > 0 and prog[2]["numInputRows"] > 0
    # wave 1: admitted and merged (no drops, one update per late hour)
    assert so[1]["numRowsDroppedByWatermark"] == 0
    assert so[1]["numRowsUpdated"] > 0
    # wave 2: dropped wholesale (the lagged filter caught up)
    assert so[2]["numRowsDroppedByWatermark"] == prog[2]["numInputRows"]
    assert so[2]["numRowsUpdated"] == 0
