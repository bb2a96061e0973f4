"""Evidence tests for the round-10 serving-store additions: the
feature-store profile artifact behind q_stream_profile_lookup and the
LSM-style segment merge behind q_posting_delta_merge."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_ai_assistent_spark import store as ST
from etl_ai_assistent_spark.queries import rag as RAG
from etl_ai_assistent_spark.streaming import pipeline as SP


def _profile_path(sf_dir: str) -> str:
    tag, n, fp = ST.corpus_key(sf_dir, "events")
    return os.path.join(
        ST.store_root(), "spark_graft_profile_store_v1", f"{tag}_{n}_{fp}"
    )


def test_profile_store_adopted_not_rebuilt(spark, sf_small):
    """Second and later apps ADOPT the published profile artifact: the
    on-disk files must not be rewritten by a repeat call (the
    once-per-version batch job vs per-app recompute contract)."""
    SP.user_profile_table(spark, sf_small).count()
    marker = os.path.join(_profile_path(sf_small), "_SUCCESS")
    mtime = os.path.getmtime(marker)
    SP.user_profile_table(spark, sf_small).count()
    assert os.path.getmtime(marker) == mtime, "profile store was rebuilt"


def test_profile_store_matches_history(spark, sf_small):
    """The published profile is exactly the per-user rollup of the
    events history: total cents and event counts reconcile against a
    fresh in-plan aggregation (a torn or stale artifact fails here)."""
    from etl_ai_assistent_spark import io

    prof = SP.user_profile_table(spark, sf_small)
    ev = io.load_table(spark, sf_small, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    truth = ev.agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("c"),
        F.countDistinct("user_id").alias("u"),
    ).first()
    got = prof.agg(
        F.sum("hist_events").alias("n"),
        F.sum("hist_cents").alias("c"),
        F.count("*").alias("u"),
    ).first()
    assert (got["n"], got["c"], got["u"]) == (
        truth["n"],
        truth["c"],
        truth["u"],
    )


def test_posting_delta_merge_reconciles_with_store(spark, sf_small):
    """Segment-merge law: base-segment ∪ fresh-delta grouped per term
    must equal the full posting table grouped per term — same term set,
    same document frequencies, same collection TF (a merge that drops
    or double-counts a segment fails). Recomputed WITHOUT the top-100
    cap so the law covers the whole term domain."""
    from etl_ai_assistent_spark import io
    from etl_ai_assistent_spark.functions import text as TX

    full = (
        RAG.doc_tf_table(spark, sf_small)
        .groupBy("tok_h")
        .agg(F.count("*").alias("df"), F.sum("c").alias("ct"))
    )
    base = RAG.doc_tf_table(spark, sf_small).filter(F.col("doc_id") % 10 != 7)
    docs = io.load_table(spark, sf_small, "documents").select("doc_id", "text")
    delta = RAG._tf_all(
        docs.filter(F.col("doc_id") % 10 == 7),
        "doc_id",
        TX.tokens(F.lower(F.col("text"))),
    )
    merged = (
        base.unionByName(delta)
        .groupBy("tok_h")
        .agg(F.count("*").alias("df"), F.sum("c").alias("ct"))
    )
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_embeddings_stream_splits_into_micro_batches(spark, sf_small):
    """The streaming ANN-serving claim rests on probes actually
    arriving across micro-batches: drive the split embeddings stream
    with a counting foreachBatch and assert one trigger per part and
    full coverage of the probe cohort."""
    seen: list[tuple[int, int]] = []

    def count(batch, bid):
        seen.append((bid, batch.count()))

    q = (
        SP.read_embeddings_stream_split(spark, sf_small, parts=4)
        .writeStream.foreachBatch(count)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(seen) == 4, seen
    from etl_ai_assistent_spark import io

    total = io.load_table(spark, sf_small, "embeddings").count()
    assert sum(n for _, n in seen) == total


def test_delta_merge_base_reads_the_stored_table(spark, sf_small):
    """The LSM read path's base segment must come from the PUBLISHED
    bucketed posting table (catalog scan of doc_tf_*), not a fresh
    tokenization — the whole point is that an append never re-tokenizes
    the corpus. One Generate (the delta cohort's explode) is the only
    tokenizer in the plan."""
    from etl_ai_assistent_spark.registry import load_all, queries

    load_all()
    df = queries()["q_posting_delta_merge"](spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "doc_tf_" in plan, plan[:2000]
    assert plan.count("Generate explode") == 1, plan[:2000]


def test_importance_resample_selects_raw_pool_only(spark, sf_small):
    """DSIR selection invariants: every selected doc comes from the
    RAW pool (the target cohort defines the distribution, it is not
    re-selected), scores are positive (smoothed ratio weights), and
    the selection size is min(budget, raw pool)."""
    from etl_ai_assistent_spark import io
    from etl_ai_assistent_spark.queries import curation as CU
    from etl_ai_assistent_spark.registry import load_all, queries

    load_all()
    sel = queries()["q_importance_resample"](spark, sf_small)
    rows = sel.collect()
    assert all(r["doc_id"] % CU.DSIR_MOD != CU.DSIR_REM for r in rows)
    assert all(r["score"] > 0 for r in rows)
    docs = io.load_table(spark, sf_small, "documents")
    raw_pool = docs.filter(
        (F.col("doc_id") % CU.DSIR_MOD != CU.DSIR_REM)
        & (F.trim(F.col("text")) != "")
    ).count()
    assert len(rows) == min(CU.DSIR_K, raw_pool)


def test_stream_ann_lookup_runs_dir_bounded(spark, sf_small):
    """Run-scoped serving outputs must not grow /tmp monotonically
    (r10 verdict #3: 60 orphan uuid sink+checkpoint pairs in one
    session): the sink lives under store.runs_root() keyed by
    applicationId, so a second invocation DELETES and rewrites the
    same pair instead of minting a new one, and both runs serve the
    same answer."""
    from etl_ai_assistent_spark.registry import load_all, queries

    load_all()
    fn = queries()["q_stream_ann_lookup"]
    n1 = fn(spark, sf_small).count()
    entries1 = set(os.listdir(ST.runs_root()))
    n2 = fn(spark, sf_small).count()
    entries2 = set(os.listdir(ST.runs_root()))
    assert n1 == n2 > 0
    assert entries2 == entries1, (entries1, entries2)
    app = spark.sparkContext.applicationId
    assert f"annserve_{app}" in entries2


def test_gc_runs_sweeps_stale_keeps_fresh(tmp_path, monkeypatch):
    """gc_runs removes only entries past the grace age and never the
    keep set — younger strangers may belong to a live process."""
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    root = ST.runs_root()
    os.makedirs(os.path.join(root, "stale_run"))
    os.makedirs(os.path.join(root, "fresh_run"))
    os.makedirs(os.path.join(root, "kept_run"))
    old = 1_600_000_000
    os.utime(os.path.join(root, "stale_run"), (old, old))
    os.utime(os.path.join(root, "kept_run"), (old, old))
    removed = ST.gc_runs(keep={"kept_run"})
    assert removed == ["stale_run"]
    assert sorted(os.listdir(root)) == ["fresh_run", "kept_run"]


def test_gc_runs_spares_live_stream_checkpoint(tmp_path, monkeypatch):
    """A LIVE streaming checkpoint's top dir goes mtime-stale while new
    offset files land inside offsets/ — gc must age by the newest mtime
    found recursively, or a stream outliving GRACE_S in one session
    gets its checkpoint swept by another session's gc_runs (r11
    ADVICE), crashing the stream."""
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    root = ST.runs_root()
    ckpt = os.path.join(root, "live_ckpt")
    offsets = os.path.join(ckpt, "offsets")
    os.makedirs(offsets)
    old = 1_600_000_000
    # fresh offset file inside; then age every DIRECTORY mtime (the
    # file write itself bumps offsets/'s mtime — simulate the stale
    # top-dir state by aging dirs only)
    with open(os.path.join(offsets, "42"), "w") as f:
        f.write("{}")
    os.utime(ckpt, (old, old))
    removed = ST.gc_runs()
    assert removed == []
    assert os.path.isdir(ckpt)
    # once the inner files age out too, the checkpoint is sweepable
    os.utime(offsets, (old, old))
    os.utime(os.path.join(offsets, "42"), (old, old))
    assert ST.gc_runs() == ["live_ckpt"]


def test_posting_compact_tokenizes_only_the_delta(spark, sf_small):
    """The compaction commit's build plan must fold the stored base in
    as a parquet scan (catalog table doc_tf_*base*) and tokenize ONLY
    the append cohort — exactly one Generate explode. Re-tokenizing
    the base would defeat the LSM write path."""
    df = RAG.compact_posting_build_tf(spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "doc_tf_" in plan and f"base{RAG.COMPACT_MOD}x{RAG.COMPACT_REM}" in plan, plan[:2000]
    assert plan.count("Generate explode") == 1, plan[:2000]


def test_posting_compact_commits_base_plus_delta(spark, sf_small):
    """Segment-commit law: the PUBLISHED compacted base must carry
    exactly the content a full-corpus build produces — same audit
    stats (counts, distincts, position-weighted checksum) as the
    doc_tf store built from scratch. A dropped delta, a stale base or
    a double-counted doc shifts the checksum."""
    from etl_ai_assistent_spark.registry import load_all, queries

    load_all()
    compacted = queries()["q_posting_compact"](spark, sf_small).collect()
    full = queries()["q_posting_index_build"](spark, sf_small).collect()
    assert [r.asDict() for r in compacted] == [r.asDict() for r in full]


def test_ann_commit_is_idempotent_and_delta_only(spark, sf_small):
    """The append commit must touch only its own segment: seg_0 (the
    base codes) is never rewritten, a re-run commits nothing new
    (manifest already covers the corpus), and the manifest lists
    exactly base + delta."""
    from etl_ai_assistent_spark.queries import clustering as CL

    path = CL.ann_commit_delta(spark, sf_small)
    man = CL._grow_manifest(path)
    assert man["segments"] == ["seg_0", "seg_1"]
    seg0 = os.path.join(path, "codes", "seg_0", "_SUCCESS")
    seg1 = os.path.join(path, "codes", "seg_1", "_SUCCESS")
    m0, m1 = os.path.getmtime(seg0), os.path.getmtime(seg1)
    CL.ann_commit_delta(spark, sf_small)
    assert os.path.getmtime(seg0) == m0, "base segment was rewritten"
    assert os.path.getmtime(seg1) == m1, "delta segment was rewritten"
    assert CL._grow_manifest(path) == man


def test_ann_committed_codes_equal_full_encode(spark, sf_small):
    """Segment-commit law for the ANN store: the manifest-resolved
    union of committed segments must be row-identical to encoding the
    ENTIRE corpus against the stored base codebooks in one pass — a
    dropped row, a duplicate, or a wrong-codebook delta all diverge."""
    from etl_ai_assistent_spark import io
    from etl_ai_assistent_spark.operators import kmeans as KM
    from etl_ai_assistent_spark.operators import pq as PQ
    from etl_ai_assistent_spark.queries import clustering as CL

    path = CL.ann_commit_delta(spark, sf_small)
    committed = CL.grow_codes(spark, path)
    cb_rows = CL._load_codebook_rows(path, "codebooks")
    emb = io.load_table(spark, sf_small, "embeddings").select(
        "vec_id", KM.quantize("embedding").alias("qv")
    )
    full = PQ.encode_rows(emb, cb_rows, dim=CL.DIM)
    assert committed.exceptAll(full).count() == 0
    assert full.exceptAll(committed).count() == 0


def test_profile_maintenance_reconciles_with_full_rebuild(spark, sf_small):
    """Feature-store maintenance law: the profile artifact published
    by delta application (stored base profile + per-user batch deltas)
    must be row-identical to the full-rebuild artifact
    (user_profile_table's groupBy over the complete history) — the
    q_incremental_agg maintenance≡recompute gate applied to the DISK
    artifacts themselves."""
    path = SP.maintain_profile_table(spark, sf_small)
    maintained = spark.read.parquet(path)
    full = SP.user_profile_table(spark, sf_small)
    assert maintained.exceptAll(full).count() == 0
    assert full.exceptAll(maintained).count() == 0
    assert maintained.count() == full.count() > 0
