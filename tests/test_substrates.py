"""The per-corpus substrate cache has one owner: substrates.py.

The cache policy (key by app and sf_dir, evict on an sf change, re-mark
after clearCache) was once re-implemented by hand in several query
modules. This guard fails if any module other than substrates.py names
the old hand-rolled cache's pieces again. The other tests pin the two
lifecycle events no query test reaches: clearCache and a new Spark app.
"""

from __future__ import annotations

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
