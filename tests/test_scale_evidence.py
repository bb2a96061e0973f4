"""Runtime scale-machinery evidence: AQE skew-join splitting and
dynamic partition pruning — the two adaptive behaviors a 100 TB plan
leans on that static plan lint (tests/test_plans.py) can't show.
Both tests build small synthetic layouts with thresholds lowered so the
machinery triggers at test scale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_aqe_splits_skewed_join_partition(spark, tmp_path):
    """One hot key (100k rows) against a uniform side: with AQE skew
    handling on and thresholds lowered, the final adaptive plan marks
    the sort-merge join as skew-handled instead of leaving one straggler
    partition. This is the runtime fallback behind q_skew_stats'
    diagnosis and the alternative to manual salting
    (q_salted_skew_join)."""
    left = spark.range(0, 100_000).select(
        F.lit(7).alias("k"), F.col("id").alias("payload")
    ).union(
        spark.range(0, 1000).select(
            (F.col("id") % 100).alias("k"), F.col("id").alias("payload")
        )
    )
    right = spark.range(0, 100).select(F.col("id").alias("k"))
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    left.write.parquet(lp)
    right.write.parquet(rp)

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = spark.read.parquet(lp).join(spark.read.parquet(rp), "k")
        # AQE marks skew in THIS df's final adaptive plan only after THIS
        # plan executes (count() would be a different QueryExecution)
        assert len(df.collect()) == 100_000 + 1000
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning(spark, tmp_path):
    """A date-partitioned fact joined to a FILTERED small dim must scan
    only the partitions the dim's filter selects — the plan carries a
    dynamicpruning subquery on the fact scan. At 100 TB this is the
    difference between reading one day and reading the table."""
    fact = spark.range(0, 10_000).select(
        (F.col("id") % 20).alias("day"), F.col("id").alias("v")
    )
    fp = str(tmp_path / "fact")
    fact.write.partitionBy("day").parquet(fp)
    dim = spark.range(0, 20).select(
        F.col("id").alias("day"), (F.col("id") % 2).alias("flag")
    )
    dp = str(tmp_path / "dim")
    dim.write.parquet(dp)

    prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    try:
        f = spark.read.parquet(fp)
        d = spark.read.parquet(dp).filter(F.col("flag") == 1)
        joined = f.join(d, "day")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        # 10 of 20 days survive the dim filter -> half the fact rows
        assert joined.count() == 5_000
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", prev
        )


def test_runtime_bloom_filter_join_pruning(spark, tmp_path):
    """A selective dim joined to a large un-partitioned fact: with the
    runtime bloom-filter optimization on (thresholds lowered), Spark
    injects a BloomFilterMightContain predicate on the fact scan side —
    rows that can't match are dropped BEFORE the shuffle. The
    non-partitioned sibling of dynamic partition pruning: at 100 TB it
    converts a full-fact shuffle into a filtered one."""
    fact = spark.range(0, 200_000).select(
        (F.col("id") % 10_000).alias("k"), F.col("id").alias("v")
    )
    dim = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 100).alias("flag")
    )
    fp, dp = str(tmp_path / "fact"), str(tmp_path / "dim")
    fact.write.parquet(fp)
    dim.write.parquet(dp)

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # keep it a shuffle join
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        f = spark.read.parquet(fp)
        d = spark.read.parquet(dp).filter(F.col("flag") == 3)  # 1% of keys
        joined = f.join(d, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "bloomfilter" in plan.lower() or "might_contain" in plan.lower(), (
            plan[:2000]
        )
        assert joined.count() == 100 * 20  # 100 keys x 20 fact rows each
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_prefix_filter_bounds_candidates_below_all_pairs(spark, sf_small):
    """The prefix filter's scale claim, measured: the candidate pair
    set the posting-list equi-join produces is a small fraction of the
    n(n-1)/2 all-pairs space the naive join would verify — on the real
    corpus slice q_jaccard_prefix_join runs on. (Losslessness is proven
    by the oracle and the hypothesis law; this pins the EFFICIENCY
    side, which those can't see.)"""
    from pyspark.sql import functions as F

    from etl_ai_assistent_spark import io
    from etl_ai_assistent_spark.functions import text as TX
    from etl_ai_assistent_spark.queries.dedup import JPJ_DEN, JPJ_LIMIT, JPJ_NUM

    docs = (
        io.load_table(spark, sf_small, "documents")
        .filter(F.col("doc_id") < JPJ_LIMIT)
        .select(F.col("doc_id").alias("id"), "text")
    )
    sh = docs.select("id", TX.word_shingles("text").alias("sh")).filter(
        F.size("sh") > 0
    )
    n = sh.count()
    ex = sh.select("id", F.explode("sh").alias("g"))
    dfs = ex.groupBy("g").agg(F.count("*").alias("df"))
    ordered = (
        ex.join(dfs, "g")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "g"))).alias("arr"))
    )
    pref_len = (
        F.size("arr")
        - F.expr(f"({JPJ_NUM} * size(arr) + {JPJ_DEN - 1}) div {JPJ_DEN}")
        + 1
    )
    cand = ordered.select(
        "id",
        F.explode(
            F.transform(F.slice("arr", F.lit(1), pref_len), lambda x: x["g"])
        ).alias("g"),
    )
    n_cand = (
        cand.alias("a")
        .join(
            cand.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")),
        )
        .select("a.id", "b.id")
        .distinct()
        .count()
    )
    all_pairs = n * (n - 1) // 2
    assert n_cand < all_pairs / 20, (n_cand, all_pairs)


def test_sequence_pack_output_is_token_compressed(spark, sf_small):
    """q_sequence_pack's output volume claim: ~corpus_tokens/SEQ_LEN
    window rows (plus at most one underfilled tail per bucket) — the
    packing is a compression, never an explosion."""
    from pyspark.sql import functions as F

    from etl_ai_assistent_spark import io
    from etl_ai_assistent_spark.functions import text as TX
    from etl_ai_assistent_spark.queries.curation import (
        SEQ_BUCKETS,
        SEQ_LEN,
        q_sequence_pack,
    )

    docs = io.load_table(spark, sf_small, "documents")
    total = docs.select(
        F.sum(F.size(TX.tokens(F.lower(F.col("text"))))).alias("t")
    ).collect()[0]["t"]
    n_windows = q_sequence_pack(spark, sf_small).count()
    assert n_windows <= total // SEQ_LEN + SEQ_BUCKETS, (n_windows, total)


def test_trigram_index_serves_from_disk_store(spark, sf_small):
    """Build-once-per-corpus/serve-many evidence for the ON-DISK
    trigram posting store (r8 verdict #3): after the first invocation
    writes the bucketed parquet artifact, serving queries —
    single-needle AND the multi-needle batch — scan the stored table
    with bucket pruning (SelectedBucketsCount < total), never
    re-running the corpus explode+distinct; re-serving and even
    catalog loss (a fresh app) adopt the existing files without a
    rewrite."""
    import os
    import re

    from etl_ai_assistent_spark import store as ST
    from etl_ai_assistent_spark.queries import text_analysis as TA

    # first use builds the artifact (or adopts a previous run's)
    TA.trigram_posting_table(spark, sf_small)
    tag, n, fp = ST.corpus_key(sf_small, "documents")
    path = ST.corpus_path(
        TA.TRIGRAM_FAMILY, sf_small, "documents", f"_{TA.TRIGRAM_BUCKETS}"
    )
    marker = os.path.join(path, "_SUCCESS")
    mtime = os.path.getmtime(marker)

    for q in (TA.q_trigram_search, TA.q_trigram_multi_search):
        plan = (
            q(spark, sf_small)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert f"trigram_posting_{tag}_{n}_{fp}" in plan, plan
        # the serve scan stays bucketed and prunes to the needle's buckets
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, plan
        assert int(m.group(1)) < int(m.group(2)), m.group(0)
        # no in-plan corpus rebuild: the trigram explode never appears
        assert "sequence(1," not in plan, plan

    # catalog loss (fresh app) adopts the files via DDL — no rewrite
    table = re.search(rf"trigram_posting_{tag}_{n}_{fp}_\w+", plan).group(0)
    spark.sql(f"DROP TABLE {table}")
    TA.q_trigram_search(spark, sf_small).count()
    assert os.path.getmtime(marker) == mtime, "store was rebuilt"


def test_trigram_store_rebuilds_on_content_edit(spark, tmp_path):
    """The r9 store-contract finding closed end-to-end: a corpus whose
    TEXT changes but whose row count doesn't must get a FRESH posting
    store (the old row-count key silently served the stale index —
    wrong answers, because trigram pruning gates the exact verify).
    The fingerprinted key routes the mutated corpus to a new store
    path and the serving query reflects the edit."""
    import duckdb

    from etl_ai_assistent_spark import store as ST
    from etl_ai_assistent_spark.queries import text_analysis as TA

    sf = tmp_path / "sfmut"
    sf.mkdir()
    doc_path = str(sf / "documents.parquet")

    def write(texts):
        duckdb.sql(
            "COPY (SELECT row_number() OVER () - 1 AS doc_id, t AS text,"
            "             'en' AS lang, 'test' AS source,"
            "             length(t) AS n_chars"
            "      FROM (SELECT unnest(?) AS t))"
            f" TO '{doc_path}' (FORMAT PARQUET)",
            params=[texts],
        )

    write(["the spark window opens", "nothing here", "plain filler row"])
    t1 = TA.trigram_posting_table(spark, str(sf))
    key1 = ST.corpus_key(str(sf), "documents")
    assert t1.filter(F.col("tri") == "spa").count() == 1

    # mutate ONE document, row count constant: needle now in doc 1 too
    write(["the spark window opens", "a spark window too", "plain filler row"])
    key2 = ST.corpus_key(str(sf), "documents")
    assert key1[:2] == key2[:2] and key1[2] != key2[2], (key1, key2)
    t2 = TA.trigram_posting_table(spark, str(sf))
    # fresh store, not the stale one: the new doc's trigrams are present
    assert t2.filter(F.col("tri") == "spa").count() == 2


# --- scale-trend regression gate (r8 verdict #5) ---------------------------
# SCALE_TREND.json carries two measured decades of time-vs-scale, but
# nothing failed if a rewrite regressed the slopes between manual
# sweeps. This gate re-measures the decade-1 ratio (sf0.1 → the 10×
# replicated sf1 fixture) for the three cheapest trend queries on every
# pytest run. Ratios are same-session back-to-back, so host noise
# largely cancels; bounds carry ≥3× headroom over the recorded values
# (0.9–1.9) while staying far below the ~10–12 linear wall.

TREND_GATE_BOUNDS = {
    "q_pq_adc_topk": 3.0,  # flat ANN serving (recorded 0.9)
    "q_asof_purchase_signup": 6.0,  # as-of join (recorded 1.3)
    "q_top_orders_per_customer": 6.0,  # per-group top-k (recorded 1.92)
}


def assert_trend_ratio_within(name: str, t_small: float, t_big: float) -> None:
    bound = TREND_GATE_BOUNDS[name]
    ratio = t_big / max(t_small, 1e-9)
    assert ratio <= bound, (
        f"{name}: decade-1 scale ratio regressed — {t_big:.3f}s at 10× vs "
        f"{t_small:.3f}s (ratio {ratio:.2f} > bound {bound}); the plan "
        "shape changed in a way that no longer amortizes — compare "
        "explain() at both scales before touching the bound"
    )


def test_trend_gate_catches_seeded_violation():
    """Test-of-the-test: a superlinear blowup must trip the bound."""
    import pytest as _pytest

    assert_trend_ratio_within("q_pq_adc_topk", 0.1, 0.25)  # within
    with _pytest.raises(AssertionError, match="scale ratio regressed"):
        assert_trend_ratio_within("q_pq_adc_topk", 0.1, 0.7)


@pytest.mark.trend
def test_scale_trend_decade1_ratios_hold(spark, monkeypatch):
    """Re-measure the decade-1 ratio for the three cheapest trend
    queries against the replicated sf1 fixture (built on first use,
    marker-cached). Each point is bench.measure's min-of-2 in one
    session, clearCache between — the scale_trend.py protocol in
    miniature.

    Marked `trend` (wall-clock assertions + a 10× fixture build on
    first run): it RUNS by default so the gate stays in-round, but a
    loaded CI host can deselect it with `-m "not trend"` (ADVICE r9)."""
    import functools
    import os as _os
    import sys

    import bench

    sys.path.insert(
        0,
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
            "tools",
        ),
    )
    import scale_trend as ST

    # the quiet gate waits on the host's CPU, not on this code
    monkeypatch.setattr(bench, "_quiet_gate", lambda: 0.0)
    ST.build_fixture(ST.DECADES[1])  # idempotent (marker file)

    from etl_ai_assistent_spark.registry import queries

    qs = queries()
    for name in TREND_GATE_BOUNDS:
        times = []
        for sf_dir in (ST.SRC, ST.FIXTURE):
            m = bench.measure(spark, {name: functools.partial(qs[name], spark, sf_dir)}, runs=2)
            assert m["errors"] == {}
            times.append(m["queries"][name])
        assert_trend_ratio_within(name, *times)
