"""Physical-plan lint: scale hygiene checks over every registered query,
plus shuffle-free bucketed-join evidence.

These tests read `executedPlan` strings — the same evidence a human
collects with .explain("formatted") — and assert the properties the
100 TB design rules demand: no accidental cartesian products, parquet
filter pushdown where a selective filter exists, and bucketing
eliminating the join exchange."""

from __future__ import annotations

import pytest

from etl_ai_assistent_spark.registry import queries

# Queries whose plans legitimately contain a cartesian/broadcast nested
# loop join (documented all-pairs or inequality-only semantics; each is
# either dimension-sized or candidate-pruned by construction).
ALLOWED_CROSS = {
    "q_knn_join",  # brute-force query×corpus scoring (queries side is tiny)
    "q_histogram_quantiles",  # 3-quantile probe × 1000-bin histogram, both broadcast-tiny
    "q_pagerank_nations",  # 1-row edges-array x 1-row nodes-array fold join (r14)
    "q_label_propagation",  # 1-row edges-array x 1-row nodes-array fold join (r14)
    "q_ann_topk",  # routes to q_knn_join's exact plan below exact_max_rows
    "q_ann_recall",  # embeds q_knn_join's exact side as the recall baseline
    "q_topk_cosine",  # single query vector vs corpus
    "q_ivf_topk",  # centroid assignment cross (centroid set is tiny)
    "q_rag_retrieval",  # probe×doc bucket join is equi; gold-rank windows
    "q_rag_eval",
    "q_group_regression",  # 1-row broadcast of the x-origin scalar onto the scan
    "q_mix_weights",  # 1-row broadcast of the corpus token total onto domain rows
    "q_importance_resample",  # 1-row LM-totals broadcast onto the vocab-sized weight table
    "q_kmeans_step",  # K-row centroid broadcast against the vector scan
    "q_pq_adc_topk",  # per-subspace K-row codebook broadcasts (kmeans.assign)
    "q_ivfpq_topk",  # coarse + per-subspace K-row centroid broadcasts
    "q_ivfpq_recall",  # same pipeline + k-row exact-vs-approx overlap join
    "q_pq_multiquery_topk",  # probe-slice × K-row codebook lookup tables
    "q_tfidf_retrieval",  # 1-row broadcast of the corpus count (N+1)
    "q_dq_constraints",  # 1-row orphan-count x 1-row checked-count joins
    "q_skew_stats",  # 1-row totals x 1-row hot-key-count joins
    "q_doc_surprisal",  # 1-row corpus-count broadcast onto the token scan
    "q_untapped_customers",  # 1-row (total, n) global-average broadcast
    "q_semdedup",  # K-row coarse-centroid broadcast (kmeans.assign)
    "q_ivfpq_residual_topk",  # K-row centroid/codebook broadcasts (residual IVFADC)
    "q_ivfpq_residual_recall",  # same pipeline + k-row overlap join
    "q_token_pmi",  # 1-row corpus-count broadcast onto the pair table
    "q_bpe_merge_apply",  # 1-row winning-pair broadcast onto the token scan
    "q_curation_pipeline",  # embeds q_semdedup's K-row centroid broadcast
    "q_semdedup_balance",  # K-row coarse-centroid broadcast (kmeans.assign)
    "q_takedown_propagation",  # 1-row before-count x 1-row deleted-count audits
    "q_two_pass_median",  # 1-row count/target-bucket/median broadcasts
    "q_split_drift",  # 1-row totals x 1-row deviation-sum broadcasts
    "q_hll_intersection",  # 1-row union-estimate x 1-row exact-count broadcasts
    "q_minhash_recall",  # 1-row truth-count x 1-row lsh-count broadcasts
    "q_kcore_prune",  # 1-row edge-count x 1-row node-count -> threshold k
    "q_bpe_train",  # per-iteration 1-row winning-merge broadcasts
    "q_bpe_compression",  # same loop + 1-row stage-0 baseline broadcast
    "q_heaps_fit",  # 1-row max-id and 1-row regression-sums broadcasts
    "q_benford_audit",  # 1-row digit-total broadcast
    "q_mmr_rerank",  # 3-row probe broadcast (the q_topk_cosine pattern)
    "q_ivf_nprobe_sweep",  # 20-row probe broadcast x 25-row centroids; 1-row n_expected
    "q_rfm_segments",  # 3x 1-row (min,max) range-stat broadcasts (rank auto-bucket)
    "q_ann_index_build",  # 6x 1-row artifact-checksum aggregates joined into the audit row
    "q_ann_delta_encode",  # per-subspace K-row codebook broadcasts (kmeans.assign)
    "q_ann_codes_commit",  # 2x 1-row artifact-checksum aggregates joined into the audit row
}

# Streaming memory-sink queries execute eagerly on construction; the
# batch plan string isn't comparable. Excluded from plan lint.
STREAMING = {
    "q_stream_tumbling_hourly",
    "q_stream_dedup_watermarked",
    "q_stream_sessions",
    "q_stream_sliding",
    "q_stream_stateful_totals",
    "q_stream_dedup",
    "q_stream_join",
    "q_stream_doc_ingest",
    "q_stream_cdc_merge",
    "q_stream_cdc_mor",
    "q_stream_hll",
    "q_stream_delta_join",
    "q_stream_outer_join",
    "q_stream_late_rebuild",
    "q_stream_quantile",
    "q_stream_profile_lookup",
    "q_stream_ann_lookup",
}

# The docx queries materialize a 500-file fixture corpus first — slow to
# plan-lint on every run and join-only; covered by their parity checks.
SLOW = {"q_docx_pipeline", "q_docx_media"}

# Queries whose executedPlan legitimately contains an UNPARTITIONED
# window (Exchange SinglePartition): allowed ONLY when the window's
# input is bounded — SF-constant — by construction. A global window
# over SF-growing rows is the one plan shape that cannot survive a
# 100× scale-up (the q_vocab_encode lesson, r7 verdict #5); SF-growing
# rankings must go through operators/rank.py's bounded-histogram
# pattern instead (q_ntile_segments / q_rfm_segments are the models:
# their only global windows run over ≤ a-few-hundred-row histograms).
#
# The allowlist is NOT a skip (ADVICE r8): each entry pins (max number
# of global windows, substrings of which every hit must contain at
# least one) — the markers name the bounded child (the `_bkt` histogram,
# the bin/vocab aggregate), so a data-sized global window reintroduced
# into an allowlisted query fails the lint instead of hiding behind it.
GLOBAL_WINDOW_ALLOWED: dict[str, tuple[int, tuple[str, ...]]] = {
    # running sum over the 1000-bin histogram
    "q_histogram_quantiles": (1, ("windowspecdefinition(bin#",)),
    # final rank over 25 nations
    "q_pagerank_nations": (1, ("windowspecdefinition(rank_ppb#",)),
    # vocab-sized df ranking (31-token corpus vocabulary)
    "q_token_pmi": (2, ("windowspecdefinition(df#",)),
    # running sums over the bounded bucket histograms (two passes)
    "q_two_pass_median": (2, ("sum(vc#", "sum(cnt#")),
    # rank AFTER orderBy().limit(vocab cap) — bounded
    "q_vocab_encode": (1, ("windowspecdefinition(cnt#",)),
    # vocab-sized frequency ranking
    "q_zipf_fit": (1, ("windowspecdefinition(freq#",)),
    # ~110-row acctbal-cents histogram running sum (operators/rank.py)
    "q_ntile_segments": (1, ("windowspecdefinition(_bkt#",)),
    # day/frequency/monetary histograms, SF-constant (operators/rank.py)
    "q_rfm_segments": (3, ("windowspecdefinition(_bkt#",)),
}


def check_allowed_global_windows(name: str, hits: list[str]) -> None:
    """Assert an allowlisted query's global windows stay within its
    pinned (count, bounded-child markers) contract."""
    max_hits, markers = GLOBAL_WINDOW_ALLOWED[name]
    assert len(hits) <= max_hits, (
        f"{name}: {len(hits)} unpartitioned Windows (allowlist caps it "
        f"at {max_hits}) — a new data-sized global window slipped in: {hits}"
    )
    for h in hits:
        assert any(m in h for m in markers), (
            f"{name}: unpartitioned Window over an unrecognized child "
            f"(expected one of {markers}; the allowlist only covers the "
            f"documented bounded inputs): {h}"
        )


def _bracket_groups(s: str) -> list[str]:
    """Top-level [...] groups of a plan line (nested brackets folded)."""
    out: list[str] = []
    depth, cur = 0, ""
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                out.append(cur)
                continue
        if depth >= 1:
            cur += ch
    return out


def global_windows(plan: str) -> list[str]:
    """Window nodes with an EMPTY partition spec. Physical `Window`
    prints `[exprs], [partitionSpec], [orderSpec]` and OMITS empty
    specs, so: 3 groups = partitioned+ordered; 2 groups whose second
    holds sort directions = global+ordered (violation); 2 groups
    without directions = partitioned, no order (fine); 1 group =
    fully global (violation)."""
    hits = []
    for raw in plan.splitlines():
        s = raw.strip().lstrip("+-:* ").strip()
        if not s.startswith("Window "):
            continue
        g = _bracket_groups(s)
        if len(g) == 1 or (
            len(g) == 2 and (" ASC" in g[1] or " DESC" in g[1])
        ):
            hits.append(s[:120])
    return hits




def _plan(spark, name, sf):
    df = queries()[name](spark, sf)
    return df._jdf.queryExecution().executedPlan().toString()


def _lintable():
    return sorted(set(queries()) - STREAMING - SLOW)


@pytest.mark.parametrize("name", _lintable())
def test_no_unpartitioned_window(spark, sf_small, name):
    hits = global_windows(_plan(spark, name, sf_small))
    if name in GLOBAL_WINDOW_ALLOWED:
        check_allowed_global_windows(name, hits)
        return
    assert not hits, (
        f"{name} has an unpartitioned Window (single-partition sort of "
        f"its whole input — use operators/rank.py instead): {hits}"
    )


def test_global_window_detector_catches_seeded_violation(spark):
    """Test-of-the-test: the detector must flag a real global window
    and stay quiet on partitioned (ordered or not) ones."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(100).withColumn("g", F.col("id") % 5)
    bad = df.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("id")))
    )
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert global_windows(plan), "seeded global window not detected"

    good = df.withColumn(
        "r", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    plan = good._jdf.queryExecution().executedPlan().toString()
    assert not global_windows(plan)

    no_order = df.withColumn(
        "c", F.count("*").over(Window.partitionBy("g"))
    )
    plan = no_order._jdf.queryExecution().executedPlan().toString()
    assert not global_windows(plan)


def test_allowlist_checker_catches_seeded_violation():
    """Test-of-the-test for the allowlist contract (ADVICE r8): a
    data-sized global window smuggled into an allowlisted query must
    fail on BOTH axes — an extra hit past the cap, and a hit whose
    child isn't the documented bounded input."""
    ok = "Window [sum(_bc#1L) windowspecdefinition(_bkt#2L ASC NULLS FIRST..."
    bad = "Window [ntile(5) windowspecdefinition(last_us#9L DESC NULLS LAST..."

    check_allowed_global_windows("q_rfm_segments", [ok, ok, ok])
    with pytest.raises(AssertionError, match="unrecognized child"):
        check_allowed_global_windows("q_rfm_segments", [ok, ok, bad])
    with pytest.raises(AssertionError, match="caps it"):
        check_allowed_global_windows("q_rfm_segments", [ok, ok, ok, ok])


@pytest.mark.parametrize("name", _lintable())
def test_no_accidental_cartesian(spark, sf_small, name):
    plan = _plan(spark, name, sf_small)
    has_cross = (
        "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
    )
    if name in ALLOWED_CROSS:
        return  # intentional (documented above)
    assert not has_cross, f"{name} has an unplanned cartesian/nested-loop join"


def test_filter_pushdown_reaches_parquet(spark, sf_small):
    """Selective event_type filters must appear as parquet PushedFilters,
    not post-scan filters only."""
    plan = _plan(spark, "q_asof_purchase_signup", sf_small)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)" in plan


def test_disjunctive_pushdown_reaches_both_scans(spark, sf_small):
    """TPC-H Q19's OR-of-conjunctions must be decomposed into its
    single-side implications and pushed below the join: the part scan
    gets the brand∧size disjunction, the lineitem scan the quantity
    ranges — not a post-join filter over full scans."""
    plan = _plan(spark, "q_tpch_q19", sf_small)
    part_scan = next(
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "part.parquet" in ln
    )
    li_scan = next(
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "lineitem" in ln
    )
    # the rendered plan truncates long filter lists, so match the
    # disjunction's structural prefix rather than a literal deep inside
    assert "Or(Or(And(EqualTo(p_brand" in part_scan, part_scan
    assert "p_size" in part_scan, part_scan
    assert "l_quantity" in li_scan, li_scan


def test_column_pruning_reaches_parquet(spark, sf_small):
    """A 2-column projection must read a 2-column schema, not the table."""
    plan = _plan(spark, "q_token_stats", sf_small)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_dim_joins_broadcast(spark, sf_small):
    """The star-schema revenue query must broadcast every dimension (no
    sort-merge exchanges for dim tables) — but WITHOUT explicit hints on
    the SF-growing tables (customer/supplier): those are size-threshold
    decisions (static parquet stats / AQE), so at 100× scale the plan
    degrades gracefully to shuffle joins instead of force-broadcasting
    a multi-GB table. Only fixed-size nation/region may carry hints."""
    df = queries()["q_revenue_by_nation"](spark, sf_small)
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    # at small SF everything still broadcasts (threshold-chosen)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    # ...but only the two fixed-size dims are *hinted*
    analyzed = qe.analyzed().toString()
    n_hints = analyzed.count("ResolvedHint (strategy=broadcast)")
    assert n_hints <= 2, (
        f"q_revenue_by_nation carries {n_hints} broadcast hints; only "
        "nation/region (fixed-size) may be hinted — customer/supplier "
        "grow with SF and must be left to the size threshold/AQE"
    )


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Bucketing both sides of a join on the join key removes the
    exchange entirely — the co-located-join layout for repeated joins
    at scale. Evidence: no ShuffleExchange in the joined plan."""
    from etl_ai_assistent_spark import io

    sf = "/root/testdata/sf0.001"
    orders = io.load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = io.load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try:
        for name, df, key in (
            ("b_orders", orders, "o_orderkey"),
            ("b_lineitem", lineitem, "l_orderkey"),
        ):
            (
                df.write.mode("overwrite")
                .option("path", str(tmp_path / name))
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(name)
            )
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            spark.table("b_orders")["o_orderkey"]
            == spark.table("b_lineitem")["l_orderkey"],
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # sanity: it still returns the right row count
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        for name in ("b_orders", "b_lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_salted_join_identical_to_plain(spark, sf_small):
    """The skew-salted join must be row-identical to the plain join."""
    from etl_ai_assistent_spark import io
    from etl_ai_assistent_spark.operators.skew import salted_join
    from pyspark.sql import functions as F

    e = io.load_events(spark, sf_small).select("event_id", "event_type")
    dim = e.select("event_type").distinct().withColumn(
        "tag", F.md5("event_type")
    )
    plain = e.join(dim, "event_type")
    salted = salted_join(e, dim, on="event_type", salt_from="event_id", buckets=8)
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_connected_components_multi_hop(spark):
    """Transitive closure: chain A-B-C-D collapses to one component even
    though A-D never pair directly; isolated pair keeps its own."""
    from etl_ai_assistent_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_decontaminate_broadcasts_holdout(spark, sf_small):
    """The contamination join must probe a BROADCAST holdout set — the
    corpus-side gram stream never shuffles (the property that makes the
    op viable at 100 TB)."""
    plan = _plan(spark, "q_decontaminate", sf_small)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quality_gate_broadcasts_contamination_probe(spark, sf_small):
    plan = _plan(spark, "q_quality_gate", sf_small)
    assert "BroadcastHashJoin" in plan


def test_retrieval_broadcasts_probe_side(spark, sf_small):
    """The inverted-index dots join must broadcast the probe TF side —
    the corpus-sized posting lists stay put."""
    plan = _plan(spark, "q_rag_retrieval", sf_small)
    assert "BroadcastHashJoin" in plan


# --- persistent-RDD leak gate (r11 verdict #2) -------------------------------

# Queries that persist shared substrates. Before r12 each CALL pinned a
# fresh cache entry that was never released — across a 126-query ×
# 3-run bench session that is hundreds of never-released entries
# competing with execution memory (the adjudicated suspect for
# q_rag_rerank's 72 s in-bench vs 4-5 s isolated). The fix routes every
# such persist through the per-corpus cache in substrates.py, whose
# entries are keyed by name within one (app, sf_dir): repeated calls
# re-serve the SAME persisted plan, so the persistent-RDD count must not
# grow with call count.
LEAK_SUSPECTS = [
    "q_bm25_retrieval",
    "q_rag_rerank",
    "q_hard_negatives",
    "q_rag_fusion",
    "q_triangle_count",
    "q_label_propagation",
    "q_kcore_prune",
]

# Queries whose index handles and shared intermediates are also served
# from substrates.py; gated per call, outside the sweep budget below.
SUBSTRATE_QUERIES = [
    "q_rfm_segments",
    "q_importance_resample",
    "q_pq_adc_topk",
    "q_pq_multiquery_topk",
    "q_ivfpq_residual_topk",
    "q_ivf_nprobe_sweep",
]


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("name", LEAK_SUSPECTS + SUBSTRATE_QUERIES)
def test_no_per_call_persist_leak(spark, sf_small, name):
    """Materializing the same query twice must not grow the set of
    pinned cache entries: call 2 serves the substrate persisted by
    call 1 (substrates.cached_substrates), never a fresh persist."""
    qs = queries()
    qs[name](spark, sf_small).write.format("noop").mode("overwrite").save()
    after_first = _persistent_rdd_count(spark)
    qs[name](spark, sf_small).write.format("noop").mode("overwrite").save()
    after_second = _persistent_rdd_count(spark)
    assert after_second <= after_first, (
        f"{name}: persistent RDD count grew {after_first} -> "
        f"{after_second} on a repeat call — a per-call persist leak"
    )


def test_persistent_rdd_count_bounded_after_sweep(spark, sf_small):
    """The growth bound: a full sweep of the leak-suspect queries may
    pin at most the substrate budget (7 queries share 7 substrate
    DataFrames: doc_tf, bm25 ranking, tri_edges pair, lpa_sym, kcore
    pair) over whatever earlier tests in the session legitimately
    pinned — and a SECOND sweep pins nothing new. Growth, not an
    absolute count: the session-wide total is ordering-dependent
    (other tests cache their own indexes first)."""
    qs = queries()
    before = _persistent_rdd_count(spark)
    for name in LEAK_SUSPECTS:
        qs[name](spark, sf_small).write.format("noop").mode("overwrite").save()
    after_first = _persistent_rdd_count(spark)
    assert after_first - before <= 12, (
        f"first sweep grew pinned entries {before} -> {after_first}: "
        "more than the substrate budget — a per-call persist leak"
    )
    for name in LEAK_SUSPECTS:
        qs[name](spark, sf_small).write.format("noop").mode("overwrite").save()
    after_second = _persistent_rdd_count(spark)
    assert after_second <= after_first, (
        f"second sweep grew pinned entries {after_first} -> "
        f"{after_second} — substrates are not being served from cache"
    )
