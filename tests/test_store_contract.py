"""Every corpus-derived artifact goes through one store contract.

store.py decides where such an artifact lives (`corpus_path`: the store
root, a family, and the corpus_key of the source table) and when it is
adopted (`publish`: build in a temp dir, one atomic rename, validated
adoption). The guard below fails if a module of the package or of
tools/ grows a second contract again: a hard-coded /tmp path, the
deleted mtime+size key helpers, or a key formatted from os.stat of a
source table. The other tests pin what
the contract buys: a build that dies mid-loop leaves nothing a rerun
appends to, and SPARK_GRAFT_STORE_ROOT moves every fixture.
"""

from __future__ import annotations

import ast
import glob
import os
import pathlib
import re

import pytest

from etl_ai_assistent_spark import parity
from etl_ai_assistent_spark import store as ST
from etl_ai_assistent_spark.queries import streaming as SQ
from etl_ai_assistent_spark.registry import queries

PKG = pathlib.Path(ST.__file__).resolve().parent
SECOND_CONTRACT = re.compile(r"[\"']/tmp|fixture_tag|_publish_fixture")
STAT_FIELDS = {"st_mtime", "st_mtime_ns", "st_size"}
STAT_CALLS = {"stat", "getmtime", "getsize"}


def _stat_keys(tree: ast.AST) -> list[int]:
    """Lines that format an os.stat field into a string, or stat a
    path built from `sf_dir` (a source table)."""
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.JoinedStr) and any(
            isinstance(n, ast.Attribute) and n.attr in STAT_FIELDS
            for n in ast.walk(node)
        ):
            lines.append(node.lineno)
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in STAT_CALLS
            and any(
                isinstance(n, ast.Name) and n.id == "sf_dir"
                for arg in node.args
                for n in ast.walk(arg)
            )
        ):
            lines.append(node.lineno)
    return lines


def test_no_second_artifact_contract():
    offenders = []
    tools = sorted((PKG.parent / "tools").glob("*.py"))
    for path in sorted(PKG.rglob("*.py")) + tools:
        if path.name == "store.py":
            continue
        src = path.read_text()
        rel = path.relative_to(PKG.parent)
        offenders += [
            f"{rel}:{n}"
            for n, line in enumerate(src.splitlines(), 1)
            if SECOND_CONTRACT.search(line)
        ]
        offenders += [f"{rel}:{n}" for n in _stat_keys(ast.parse(src))]
    assert not offenders, (
        "artifact placed or keyed outside store.corpus_path/publish: "
        + ", ".join(offenders)
    )


@pytest.fixture(scope="module")
def store_root(tmp_path_factory) -> str:
    """One fresh store root for this module: the crash tests build the
    CDC and delta-join fixtures in it, the store-root test adopts them."""
    return str(tmp_path_factory.mktemp("store_root"))


def _parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "*.parquet"))


def _crash_after_first(batches_fn):
    """A batch source that yields its first real batch, then dies."""

    def crashing(*args):
        yield batches_fn(*args)[0]
        raise RuntimeError("simulated crash mid-build")

    return crashing


@pytest.mark.parametrize(
    "source, fixture, n_batches, query",
    [
        ("_dj_change_batches", "_delta_join_fixture", SQ._DJ_BATCHES,
         "q_stream_delta_join"),
        ("cdc_change_batches", "_cdc_fixture", SQ._CDC_BATCHES,
         "q_stream_cdc_merge"),
    ],
)
def test_rebuild_after_crash_mid_build(
    spark, sf_small, store_root, monkeypatch, source, fixture, n_batches, query
):
    """A build that dies after appending one batch is discarded whole:
    the rebuild publishes exactly one file per batch (an append onto
    the dead build's output would count that batch twice in the
    summed view) and the query still equals its oracle."""
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", store_root)
    build_fixture = getattr(SQ, fixture)
    with monkeypatch.context() as m:
        m.setattr(SQ, source, _crash_after_first(getattr(SQ, source)))
        with pytest.raises(RuntimeError, match="simulated crash"):
            build_fixture(spark, sf_small)
    path = build_fixture(spark, sf_small)
    assert path.startswith(f"{store_root}/")
    assert len(_parquet_files(path)) == n_batches
    res = parity.check_query(spark, query, sf_small)
    assert res.ok, str(res)


# The registered queries that reach a corpus-derived fixture, and the
# store family of every fixture they publish.
FIXTURE_QUERIES = [
    "q_compaction_stats", "q_sink_roundtrip", "q_corrupt_quarantine",
    "q_schema_evolution", "q_zorder_stats", "q_docx_pipeline",
    "q_docx_media", "q_cdc_mor", "q_vectorize_lines",
    "q_stream_stateful_totals", "q_stream_dedup",
    "q_stream_dedup_watermarked", "q_stream_cdc_merge", "q_stream_cdc_mor",
    "q_snapshot_retention", "q_stream_hll", "q_stream_delta_join",
    "q_stream_late_rebuild", "q_stream_quantile", "q_stream_ann_lookup",
    "q_stream_join", "q_stream_outer_join",
]
FIXTURE_FAMILIES = {
    "spark_graft_compact_v1", "spark_graft_sinkrt_v1",
    "spark_graft_corrupt_v1", "spark_graft_evolve_v1",
    "spark_graft_zorder_v1", "spark_graft_docx_v1", "spark_graft_mor_v1",
    "spark_graft_lines_v1", "spark_graft_cdc_v1", "spark_graft_dj_v1",
    "spark_graft_cdc_cow_v1", "spark_graft_cdc_mor_log_v1",
    "spark_graft_stream_hll_v1", "spark_graft_stream_quant_v1",
    "spark_graft_dj_view_v1", "spark_graft_events_split_v1",
    "spark_graft_emb_split_v1", "spark_graft_events_dup_v1",
    "spark_graft_events_hb_v1", "spark_graft_events_late_v1",
}


def _tmp_fixtures() -> set[str]:
    return {n for n in os.listdir("/tmp") if n.startswith("spark_graft_")}


def test_store_root_holds_every_fixture(
    spark, sf_small, store_root, monkeypatch
):
    """With SPARK_GRAFT_STORE_ROOT set, every fixture the 22 queries
    publish lands under it, and none appears in /tmp."""
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", store_root)
    published = []
    publish = ST.publish

    def recording_publish(final_path, build, validate=None):
        published.append(final_path)
        return publish(final_path, build, validate)

    monkeypatch.setattr(ST, "publish", recording_publish)
    before = _tmp_fixtures()
    qs = queries()
    for name in FIXTURE_QUERIES:
        qs[name](spark, sf_small)
    assert _tmp_fixtures() == before
    outside = [p for p in published if not p.startswith(f"{store_root}/")]
    assert not outside, outside
    families = {os.path.basename(os.path.dirname(p)) for p in published}
    assert FIXTURE_FAMILIES <= families, FIXTURE_FAMILIES - families
    assert all(os.path.isdir(p) for p in published)


def test_bucketed_tables_follow_a_store_root_move(
    spark, sf_small, tmp_path, monkeypatch
):
    """The bucketed catalog tables are named per store root: after
    SPARK_GRAFT_STORE_ROOT moves within one session, the bucketed join
    and the trigram search publish their stores under the new root and
    read no file from the old one."""
    old, new = f"{tmp_path}/a/", f"{tmp_path}/b/"
    qs = queries()
    for root in (old, new):
        monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", root)
        files = [
            f
            for q in ("q_bucketed_join", "q_trigram_search")
            for f in qs[q](spark, sf_small).inputFiles()
        ]
        for family in ("spark_graft_bucketed_v2", "spark_graft_trigram_store_v2"):
            assert os.listdir(os.path.join(root, family)), family
    assert any(new in f for f in files), files
    assert not any(old in f for f in files), files
