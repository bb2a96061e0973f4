"""The BM25 impact store: every corpus factor published once.

`rag.bm25_impact_view` publishes one (tok_h, doc_id, num, den) row per
posting under the store contract, and a BM25 request is the probe's
broadcast join onto it plus `sum((qtf * num) div den)`. These tests pin
what that buys and what it must not lose: the exact integer ranking,
adoption by a second application, rebuild of a damaged store, a new
version on a content edit, and an overflow that fails instead of
wrapping.
"""

from __future__ import annotations

import hashlib
import os
import re
import subprocess
import sys
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import ArithmeticException

from etl_ai_assistent_spark import store as ST
from etl_ai_assistent_spark import substrates as S
from etl_ai_assistent_spark.queries import rag as R

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _hashes(text: str) -> list[int]:
    """The engine's tokens (trim spaces, split on whitespace runs,
    lowercase) as 32-bit md5-prefix hashes."""
    t = text.lower().strip(" ")
    toks = re.split(r"[ \t\n\x0b\f\r]+", t) if t else []
    return [int(hashlib.md5(x.encode()).hexdigest()[:8], 16) for x in toks]


def _replica(sf_dir: str) -> set[tuple[int, int, int, int]]:
    """Pure-Python BM25 over the expanded integer formula: every
    (probe_id, doc_id, score_scaled, rank) of the full ranking."""
    table = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    docs = dict(zip(table["doc_id"].to_pylist(), table["text"].to_pylist()))
    tf = {d: Counter(_hashes(t)) for d, t in docs.items()}
    dl = {d: sum(c.values()) for d, c in tf.items()}
    n = len(docs)
    avgdl = sum(dl.values()) // n
    df = Counter(h for c in tf.values() for h in c)
    postings: dict[int, list[int]] = {}
    for d, c in tf.items():
        for h in c:
            postings.setdefault(h, []).append(d)
    out = set()
    for p in (d for d in docs if d < R.N_PROBES):
        scores: Counter = Counter()
        for h, qtf in Counter(_hashes(docs[p])[2:12]).items():
            for d in postings.get(h, ()):
                t = tf[d][h]
                scores[d] += (R.BM25_SCALE * (n + 1) * 44 * qtf * t * avgdl) // (
                    (df[h] + 1) * (20 * t * avgdl + 6 * avgdl + 18 * dl[d])
                )
        ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
        out |= {(p, d, s, r) for r, (d, s) in enumerate(ranked, 1)}
    return out


def _ranking(spark, sf_dir: str) -> set[tuple[int, int, int, int]]:
    rows = R._bm25_ranked(spark, sf_dir).collect()
    return {
        (r["probe_id"], r["doc_id"], r["score_scaled"], r["rank"]) for r in rows
    }


def _version_dir(sf_dir: str) -> str:
    return ST.corpus_path(R.BM25_IMPACT_FAMILY, sf_dir, "documents")


@pytest.fixture
def store_root(tmp_path, monkeypatch) -> str:
    """A fresh store root; the substrate cache is re-keyed onto it."""
    root = str(tmp_path / "store")
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", root)
    return root


def test_ranking_equals_integer_replica(spark, sf_small):
    """Every probe's full ranking, rank and score, equals the expanded
    formula evaluated in Python."""
    got = _ranking(spark, sf_small)
    want = _replica(sf_small)
    assert len(want) > R.N_PROBES * R.TOP_K
    assert got == want


def test_second_app_adopts_without_rebuild(spark, sf_small, store_root):
    """A second Spark application serves the store this one published:
    the version directory and its files keep their inodes."""
    before = _ranking(spark, sf_small)
    path = _version_dir(sf_small)
    inodes = {e.name: e.inode() for e in os.scandir(path)}
    inodes["."] = os.stat(path).st_ino
    script = (
        "import sys\n"
        "from etl_ai_assistent_spark.session import get_spark\n"
        "from etl_ai_assistent_spark.queries import rag as R\n"
        "spark = get_spark('bm25-impact-adopt')\n"
        "print('ROWS', R._bm25_ranked(spark, sys.argv[1]).count())\n"
        "spark.stop()\n"
    )
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEMORY="1g",
        PYTHONPATH=REPO,
    )
    out = subprocess.run(
        [sys.executable, "-c", script, sf_small],
        env=env, capture_output=True, text=True, timeout=600, check=True,
    ).stdout
    assert f"ROWS {len(before)}" in out
    after = {e.name: e.inode() for e in os.scandir(path)}
    after["."] = os.stat(path).st_ino
    assert after == inodes, "the second application rebuilt the store"


@pytest.mark.parametrize("damage", ["truncate", "delete"])
def test_damaged_store_is_rebuilt(spark, sf_small, store_root, damage):
    """A store damaged after publication is torn down and rebuilt on
    the next adoption, and the ranking is unchanged."""
    want = _ranking(spark, sf_small)
    path = _version_dir(sf_small)
    # part names carry the write job's uuid: a rebuild renames them all
    parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    part = parts[0]
    if damage == "truncate":
        with open(os.path.join(path, part), "r+b") as f:
            f.truncate(100)
    else:
        os.remove(os.path.join(path, part))
    S._entries.pop("bm25_impact")  # as a new application would
    assert _ranking(spark, sf_small) == want
    assert not set(parts) & set(os.listdir(path)), "the damaged store was served"


def test_same_rowcount_edit_gets_new_version(spark, sf_small, store_root, tmp_path):
    """Editing one document's text (row count unchanged) keys a new
    version directory, and the new store ranks the edited corpus."""
    edited = tmp_path / "sf_edit"
    edited.mkdir()
    table = pq.read_table(os.path.join(sf_small, "documents.parquet"))
    texts = table["text"].to_pylist()
    texts[3] = texts[3] + " " + texts[4]  # doc 3 grows: dl, tf, df move
    i = table.schema.get_field_index("text")
    table = table.set_column(
        i, "text", pa.array(texts, type=table.schema.field(i).type)
    )
    pq.write_table(table, edited / "documents.parquet")

    _ranking(spark, sf_small)
    got = _ranking(spark, str(edited))
    family = os.path.join(store_root, R.BM25_IMPACT_FAMILY)
    assert len(os.listdir(family)) == 2
    assert _version_dir(str(edited)) != _version_dir(sf_small)
    assert got == _replica(str(edited))


def test_term_score_overflow_fails_not_wraps(spark):
    """qtf * num past BIGINT raises ARITHMETIC_OVERFLOW; one below the
    bound is served exactly."""
    probe = spark.createDataFrame(
        [(0, 7, 2)], "probe_id bigint, tok_h bigint, c bigint"
    )
    edge = spark.createDataFrame(
        [(7, 1, 2**62 - 1, 1)], R.BM25_IMPACT_SCHEMA
    )
    [row] = R.bm25_rank(probe, edge).collect()
    assert row["score_scaled"] == 2**63 - 2
    over = spark.createDataFrame([(7, 1, 2**62, 1)], R.BM25_IMPACT_SCHEMA)
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        R.bm25_rank(probe, over).collect()
