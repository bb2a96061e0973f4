"""Tests of the benchmark itself, at a tiny input size.

    python3 -m pytest docbench -q

The end-to-end tests start Spark once per case (about a minute each).
"""

import json
import os
import sys
from pathlib import Path
from unittest import mock

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from docbench import gen, run  # noqa: E402
from docbench import workloads as W  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(gen, "INGEST_DOCS", 6)
    monkeypatch.setattr(gen, "RETRIEVE_BASE_DOCS", 60)
    monkeypatch.setattr(gen, "RETRIEVE_VECS", 200)
    monkeypatch.setattr(gen, "RETRIEVE_REQUESTS", 20)
    monkeypatch.setattr(gen, "ANALYTICS_ORDERS", 300)
    monkeypatch.setattr(gen, "ANALYTICS_EVENTS", 300)


def _bytes(paths):
    return [Path(p).read_bytes() for p in paths]


def test_generators_are_deterministic(tmp_path, tiny):
    a = gen.write_docx_corpus(3, str(tmp_path / "a"))
    b = gen.write_docx_corpus(3, str(tmp_path / "b"))
    c = gen.write_docx_corpus(4, str(tmp_path / "c"))
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(c)

    ra = gen.write_retrieve_corpus(3, str(tmp_path / "ra"))
    rb = gen.write_retrieve_corpus(3, str(tmp_path / "rb"))
    rc = gen.write_retrieve_corpus(4, str(tmp_path / "rc"))
    files = ("documents.parquet", "embeddings.parquet")
    assert _bytes(tmp_path / "ra" / f for f in files) == _bytes(tmp_path / "rb" / f for f in files)
    assert _bytes(tmp_path / "ra" / f for f in files) != _bytes(tmp_path / "rc" / f for f in files)
    assert ra["requests"] == rb["requests"] != rc["requests"]
    assert ra["duplicates"] == rb["duplicates"]

    tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
    for seed, d in ((3, "ra"), (3, "rb"), (4, "rc")):
        gen.write_analytics_tables(seed, str(tmp_path / d))
    files = [f"{t}.parquet" for t in tables]
    assert _bytes(tmp_path / "ra" / f for f in files) == _bytes(tmp_path / "rb" / f for f in files)
    assert _bytes(tmp_path / "ra" / f for f in files) != _bytes(tmp_path / "rc" / f for f in files)


def test_docx_corpus_has_the_stated_structure(tmp_path, monkeypatch):
    import zipfile

    monkeypatch.setattr(gen, "INGEST_DOCS", 40)
    paths = gen.write_docx_corpus(1, str(tmp_path))
    xml = [zipfile.ZipFile(p).read("word/document.xml").decode() for p in paths]
    assert sum("<w:tbl>" in x for x in xml) == round(40 * gen.RATE_TABLE)
    assert sum('w:val="Caption"' in x for x in xml) == round(40 * gen.RATE_CAPTION)
    assert sum("<w:drawing/>" in x for x in xml) == round(40 * gen.RATE_IMAGE)
    chunks = [W.reference_chunks(os.path.basename(p), Path(p).read_bytes()) for p in paths]
    split = [c for c in chunks if any(pid.endswith(":1") for pid, _, _ in c)]
    assert len(split) >= round(40 * gen.RATE_LONG), "long sections must span several chunks"


def _write_reference_upsert(wl, out_dir: Path, corrupt: bool = False) -> None:
    """What a correct ingest pass upserts, built by the pure-Python path."""
    from etl_ai_assistent_spark.operators.embedder import embed_text

    rows = [r for p in wl.paths for r in W.reference_chunks(os.path.basename(p), Path(p).read_bytes())]
    texts = [chunk for _, _, chunk in rows]
    if corrupt:
        texts[0] = texts[0][:-1]
    out_dir.mkdir()
    pq.write_table(pa.table({
        "point_id": [pid for pid, _, _ in rows],
        "title": [title for _, title, _ in rows],
        "chunk_text": texts,
        "embedding": [embed_text(chunk).tolist() for _, _, chunk in rows],
    }), out_dir / "part.parquet")


def test_ingest_check_catches_a_corrupted_point(tmp_path, tiny):
    wl = W.Ingest()
    wl.generate(5, str(tmp_path / "work"))
    good, bad = tmp_path / "good", tmp_path / "bad"
    _write_reference_upsert(wl, good)
    _write_reference_upsert(wl, bad, corrupt=True)
    ok = wl.check(None, [W.PassResult(1.0, len(wl.paths), [1.0], str(good))])
    assert (ok.attempted, ok.failed, ok.recall) == (len(wl.paths), 0, 1.0)
    res = wl.check(None, [W.PassResult(1.0, len(wl.paths), [1.0], str(bad))])
    assert res.failed == 1 and res.recall < 1.0


def test_retrieve_replicas_catch_wrong_results():
    bm25 = W._Bm25(["a b c", "a a d", "e f", "b b b a"])
    top = bm25.top("a b", 3)
    scores = [s for _, s in top]
    assert len(top) == 3 and 2 not in {d for d, _ in top}
    assert scores == sorted(scores, reverse=True) and scores[-1] > 0

    cos = np.array([0.9, 0.8, 0.7, 0.6, 0.55, 0.52, 0.4])
    mask = cos >= W.THRESHOLD
    right = [(i, float(np.round(cos[i], 6))) for i in range(5)]
    assert W._topk_ok(right, cos, mask)
    assert not W._topk_ok(right[:4], cos, mask)  # a row missing
    assert not W._topk_ok([(0, 0.9), (1, 0.8), (2, 0.7), (3, 0.6), (5, 0.52)], cos, mask)  # skipped a better row
    assert not W._topk_ok([(0, 0.91)] + right[1:], cos, mask)  # wrong score

    # approximate paths: any k distinct ids with true, ordered scores pass
    ids = range(len(cos))
    miss = [(i, float(np.round(cos[i], 6))) for i in (0, 1, 2, 4, 6)]
    assert W._well_formed(miss, ids, lambda i: cos[i], W.SCORE_TOL, True)
    assert not W._well_formed(miss[:4], ids, lambda i: cos[i], W.SCORE_TOL, True)  # short
    assert not W._well_formed(miss[:4] + [miss[0]], ids, lambda i: cos[i], W.SCORE_TOL, True)  # repeated id
    assert not W._well_formed(miss[:4] + [(9, 0.1)], ids, lambda i: cos[i], W.SCORE_TOL, True)  # not in the corpus
    assert not W._well_formed(miss[::-1], ids, lambda i: cos[i], W.SCORE_TOL, True)  # out of order
    assert not W._well_formed([(0, 0.5)] + miss[1:], ids, lambda i: cos[i], W.SCORE_TOL, True)  # wrong score


def test_percentile_is_a_steady_quantile_estimate():
    assert run.percentile([7.0], 90) == 7.0
    many = list(range(1001))
    assert abs(run.percentile(many, 50) - 500) < 0.5 and abs(run.percentile(many, 90) - 900) < 1
    # four latency bands of three requests: p50 falls in the gap between
    # the second and third band, and stays between their centres
    bands = [200, 210, 220, 400, 410, 420, 800, 820, 840, 1700, 1800, 1900]
    assert 410 < run.percentile(bands, 50) < 820
    assert run.percentile(bands, 50) < run.percentile(bands, 90) < 1900


@pytest.mark.parametrize("traced", [False, True], ids=["end_to_end", "per_layer"])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_run_prints_every_declared_metric(workload, traced, tmp_path, tiny):
    with mock.patch.dict(os.environ):
        run._env(tmp_path / "work")
        result = run.run(workload, 1, 1.0, traced, tmp_path / "work")
    declared = SPEC["per_layer" if traced else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    if not traced:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    elif workload == "retrieve":
        values = {k: v["value"] for k, v in result["metrics"].items()}
        # set-up builds the three stores; a second application adopts all three
        assert (values["store.builds"], values["store.adopts"]) == (3, 3)
        assert all(values[m] > 0 for m, _ in W.ANALYTICS)
