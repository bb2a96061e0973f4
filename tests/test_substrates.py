"""The per-corpus substrate cache has one owner: substrates.py.

The cache policy (key by app, sf_dir and store root, evict on an sf or
root change, re-mark after clearCache) was once re-implemented by hand
in several query modules. This guard fails if any module other than
substrates.py names the old hand-rolled cache's pieces again. The other
tests pin the lifecycle events no query test reaches: clearCache, a new
Spark app and a moved store root.
"""

from __future__ import annotations

import os
import pathlib
import re

import pytest

from etl_ai_assistent_spark import substrates as S

PKG = pathlib.Path(S.__file__).resolve().parent
HAND_ROLLED = re.compile(r"_INDEX_CACHE|_repersist|_evict_other_sfs")


def test_no_hand_rolled_substrate_cache():
    offenders = [
        f"{path.relative_to(PKG.parent)}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "substrates.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if HAND_ROLLED.search(line)
    ]
    assert not offenders, (
        "hand-rolled substrate cache outside substrates.py: "
        + ", ".join(offenders)
    )


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
