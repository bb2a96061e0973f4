"""Cached intermediates have one owner: substrates.py.

The per-corpus cache policy (key by app, sf_dir and store root, evict on
an sf or root change, re-mark after clearCache) was once re-implemented
by hand in several query modules, and per-call intermediates were
persisted in place and never released. The guards fail if any module
other than substrates.py names the old hand-rolled cache's pieces again
or calls Spark's cache methods. The other tests pin the lifecycle events
no query test reaches: clearCache, a new Spark app, a moved store root,
a result retained past the next call and a switch of corpus.
"""

from __future__ import annotations

import os
import pathlib
import re

import pytest

from etl_ai_assistent_spark import substrates as S

PKG = pathlib.Path(S.__file__).resolve().parent
HAND_ROLLED = re.compile(r"_INDEX_CACHE|_repersist|_evict_other_sfs")
CACHE_CALL = re.compile(r"\.(persist|cache|localCheckpoint|unpersist)\(")


def _offenders(pattern) -> list[str]:
    return [
        f"{path.relative_to(PKG.parent)}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "substrates.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]


def test_no_hand_rolled_substrate_cache():
    offenders = _offenders(HAND_ROLLED)
    assert not offenders, (
        "hand-rolled substrate cache outside substrates.py: "
        + ", ".join(offenders)
    )


def test_cache_calls_only_in_substrates():
    """Every persist, cache, localCheckpoint and unpersist goes through
    substrates.py (cached_substrates or per_call), so each cached
    DataFrame has an owner that releases it."""
    offenders = _offenders(CACHE_CALL)
    assert not offenders, (
        "cache call outside substrates.py: " + ", ".join(offenders)
    )
    assert not (PKG / "operators" / "iterate.py").exists()


def _cc_result(spark):
    from etl_ai_assistent_spark.operators.components import (
        connected_components,
    )

    return connected_components(
        spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint")
    )


@pytest.mark.parametrize("name", ["connected_components", "q_mmr_rerank"])
def test_result_retained_past_next_call(spark, sf_small, name):
    """substrates.py's NO-RETENTION CONTRACT. The next registered call
    releases this call's intermediates; re-executing the retained
    result then recomputes them to identical rows, or, for a barrier
    (connected_components), fails with the named missing-block error.
    It never returns different rows."""
    from etl_ai_assistent_spark.registry import queries

    qs = queries()
    before = {id(df) for df, _ in S._marked}
    if name == "connected_components":
        first = _cc_result(spark)
    else:
        first = qs[name](spark, sf_small)
    rows = sorted(map(tuple, first.collect()))
    ours = {id(df) for df, _ in S._marked} - before
    assert rows and ours
    qs["q_pricing_summary"](spark, sf_small).collect()  # the next call
    assert not ours & {id(df) for df, _ in S._marked}  # released
    try:
        again = sorted(map(tuple, first.collect()))
    except Exception as exc:  # noqa: BLE001 — only the named error passes
        if name != "connected_components" or not re.search(
            r"Checkpoint block .* not found", str(exc)
        ):
            raise
        return
    assert again == rows, "a retained result re-executed to different rows"


def _pinned_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_corpus_switch_leaves_no_residue(spark, sf_small, sf_oracle):
    """The intermediate-heavy queries on one corpus, then one query on
    another: nothing the first corpus pinned (substrates or per-call
    intermediates) is still pinned, and what is pinned is at most what
    the substrate cache holds for the second corpus."""
    from etl_ai_assistent_spark.registry import queries

    qs = queries()
    for name in (
        "q_mmr_rerank",
        "q_bpe_train",
        "q_minhash_near_dup",
        "q_dedup_components",
        "q_tfidf_retrieval",
    ):
        qs[name](spark, sf_small).write.format("noop").mode("overwrite").save()
    first = _pinned_ids(spark)
    assert first
    qs["q_rfm_segments"](spark, sf_oracle).write.format("noop").mode(
        "overwrite"
    ).save()
    S.start_call(spark)
    assert S._sf_dir == sf_oracle
    now = _pinned_ids(spark)
    assert not first & now, f"first corpus still pins {sorted(first & now)}"
    assert len(now) <= sum(len(S._dataframes(v)) for v in S._entries.values())


@pytest.fixture
def fresh_cache(spark):
    """Run against an empty cache on a private sf_dir, and leave it
    empty, so the test neither sees nor evicts other tests' entries."""
    S._entries.clear()
    S._sf_dir = None
    yield
    for value in list(S._entries.values()):
        for df in S._dataframes(value):
            df.unpersist()
    S._entries.clear()
    S._sf_dir = None


def test_hit_remarks_after_clear_cache(spark, fresh_cache):
    df = S.cached_substrates("t", spark, "sf-a", lambda: spark.range(5))
    spark.catalog.clearCache()
    assert not df.storageLevel.useMemory
    S.cached_substrates("t", spark, "sf-a", lambda: spark.range(5))
    assert df.storageLevel.useMemory


def test_new_app_drops_entries_without_unpersisting(spark, fresh_cache):
    df = S.cached_substrates("t", spark, "sf-a", lambda: spark.range(5))
    S._app = "an-earlier-app"  # as if the session had been recreated
    S.cached_substrates("u", spark, "sf-a", lambda: spark.range(3))
    assert set(S._entries) == {"u"}
    assert S._app == spark.sparkContext.applicationId
    assert df.storageLevel.useMemory  # dropped, not unpersisted
    df.unpersist()


def test_store_root_change_evicts_entries(spark, sf_small, tmp_path, monkeypatch):
    """Moving SPARK_GRAFT_STORE_ROOT within one session re-keys the
    cache: the ANN and BM25 serving paths publish their stores under
    the new root instead of serving handles over the old one."""
    from etl_ai_assistent_spark import store as ST
    from etl_ai_assistent_spark.queries import rag as R
    from etl_ai_assistent_spark.registry import queries

    qs = queries()
    qs["q_stream_ann_lookup"](spark, sf_small)  # warm at the old root
    qs["q_bm25_retrieval"](spark, sf_small).collect()
    root = str(tmp_path / "store")
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", root)
    published = []
    publish = ST.publish

    def recording_publish(final_path, build, validate=None):
        published.append(final_path)
        return publish(final_path, build, validate)

    monkeypatch.setattr(ST, "publish", recording_publish)
    qs["q_stream_ann_lookup"](spark, sf_small)
    qs["q_bm25_retrieval"](spark, sf_small).collect()
    families = {
        os.path.basename(os.path.dirname(p))
        for p in published
        if p.startswith(f"{root}/") and os.path.isdir(p)
    }
    want = {
        "spark_graft_ann_store_v1",
        R.POSTING_FAMILY,
        R.BM25_IMPACT_FAMILY,
    }
    assert want <= families, want - families
