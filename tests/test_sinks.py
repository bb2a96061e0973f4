"""K2/K3/K4-style sink round-trips (SURVEY.md §2.2): table assets to
CSV, image assets (BinaryType) to parquet, points store partitioned by
document_version — written and read back losslessly."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_ai_assistent_spark import io

# §1.4 vector point (reference qdrant_service.py:31-39 payload flattened)
POINTS = T.StructType(
    [
        T.StructField("point_id", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("text", T.StringType()),
        T.StructField("paragraph_name", T.StringType()),
        T.StructField("document_name", T.StringType()),
        T.StructField("document_version", T.StringType()),
    ]
)

# §1.6 asset records (reference docx_etl.py:138-171)
TABLES_ASSET = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("caption", T.StringType()),
        T.StructField("rows", T.ArrayType(T.ArrayType(T.StringType()))),
    ]
)

IMAGES_ASSET = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("caption", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("ext", T.StringType()),
    ]
)


def test_table_asset_csv_roundtrip(spark, tmp_path):
    rows = [
        (1, "Table 1: metrics", [["a b", "c"], ["d", "e  f"]]),
        (2, "Таблица 2", [["x", "y"]]),
    ]
    df = spark.createDataFrame(rows, TABLES_ASSET)
    # K2 shape: one CSV row per table row, cells whitespace-normalized
    flat = df.select(
        "doc_id",
        "caption",
        F.posexplode("rows").alias("row_idx", "cells"),
    ).select(
        "doc_id",
        "caption",
        "row_idx",
        F.concat_ws(
            "|",
            F.transform(
                "cells", lambda c: F.regexp_replace(F.trim(c), r"\s+", " ")
            ),
        ).alias("cells"),
    )
    out = str(tmp_path / "tables_csv")
    io.write_csv(flat, out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 3
    got = {
        (int(r["doc_id"]), int(r["row_idx"])): r["cells"] for r in back.collect()
    }
    assert got[(1, 0)] == "a b|c"
    assert got[(1, 1)] == "d|e f"  # whitespace normalized
    assert got[(2, 0)] == "x|y"


def test_image_asset_binary_roundtrip(spark, tmp_path):
    rows = [(1, "Рис 1", b"\x89PNG\r\n\x1a\nfakebytes", ".png")]
    df = spark.createDataFrame(rows, IMAGES_ASSET)
    out = str(tmp_path / "images")
    io.write_parquet(df, out)
    back = spark.read.parquet(out).collect()[0]
    assert bytes(back["content"]) == rows[0][2]
    assert back["ext"] == ".png"


def test_points_store_partitioned_by_version(spark, tmp_path):
    rows = [
        ("p1", [0.1, 0.2], "t1", "para A", "doc.docx", "v1"),
        ("p2", [0.3, 0.4], "t2", "para B", "doc.docx", "v2"),
    ]
    df = spark.createDataFrame(rows, POINTS)
    out = str(tmp_path / "points")
    io.write_parquet(df, out, partition_by=("document_version",))
    import os

    assert sorted(
        d for d in os.listdir(out) if d.startswith("document_version=")
    ) == ["document_version=v1", "document_version=v2"]
    back = spark.read.parquet(out)
    # partition filter prunes: only v2's file is read
    plan = (
        back.filter(F.col("document_version") == "v2")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(document_version" in plan
    assert back.filter("document_version = 'v2'").count() == 1


def test_ann_topk_chooser(spark, sf_small):
    """ann_topk picks brute force under the threshold, SRP over it —
    and the exact path equals knn_join's output."""
    from etl_ai_assistent_spark.operators import similarity as S

    emb = io.load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = S.ann_topk(emb, queries, k=3, exact_max_rows=10_000_000)
    brute = S.knn_join(emb, queries, k=3)
    assert exact.exceptAll(brute).count() == 0
    approx = S.ann_topk(emb, queries, k=3, exact_max_rows=1)
    # approximate path returns a subset of queries (bucket-dependent) with
    # the same output shape
    assert approx.columns == ["query_id", "item_id", "score", "rank"]
    assert approx.count() > 0


def test_upsert_points_batched_roundtrip(spark, sf_small, tmp_path):
    """K4 external batched-upsert sink (reference qdrant_service.py:24-42,
    minus its one-RPC-per-chunk loop): foreachPartition groups rows into
    bounded batches through the client seam; the local parquet adapter
    round-trips every point losslessly."""
    import os

    from etl_ai_assistent_spark.operators.upsert import (
        LocalParquetStoreClient,
        upsert_points,
    )
    from etl_ai_assistent_spark.registry import queries

    points = queries()["q_point_records"](spark, sf_small)
    expected = {
        (r["point_id"], r["document_name"], r["document_version"])
        for r in points.collect()
    }
    out = str(tmp_path / "store")
    upsert_points(
        points, lambda: LocalParquetStoreClient(out), batch_size=64
    )
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) > 1  # batched, not one mega-RPC
    back = spark.read.parquet(out)
    assert back.count() == len(expected)
    got = {
        (r["point_id"], r["document_name"], r["document_version"])
        for r in back.collect()
    }
    assert got == expected
    # bounded RPC batches: no file exceeds batch_size rows
    import pyarrow.parquet as pq

    assert max(pq.ParquetFile(os.path.join(out, f)).metadata.num_rows for f in files) <= 64


def test_upsert_points_retries_transient_failures(spark, sf_small, tmp_path):
    """Every batch's first attempt fails (injected); the per-batch retry
    must deliver all points exactly once anyway."""
    import os

    from etl_ai_assistent_spark.operators.upsert import (
        FlakyStoreClient,
        upsert_points,
    )
    from etl_ai_assistent_spark.registry import queries

    points = queries()["q_point_records"](spark, sf_small)
    n = points.count()
    out = str(tmp_path / "flaky_store")
    upsert_points(
        points,
        lambda: FlakyStoreClient(out),
        batch_size=128,
    )
    assert os.listdir(os.path.join(out, "_failures"))  # retries happened
    back = spark.read.parquet(out)
    assert back.count() == n
    assert back.select("point_id").distinct().count() == n


def test_orc_store_roundtrip_with_pushdown(spark, sf_small, tmp_path):
    """ORC store variant: lossless round-trip and predicate pushdown
    reaching the ORC scan (same data-skipping class as parquet)."""
    from etl_ai_assistent_spark import io as IO

    events = IO.load_events(spark, sf_small).select(
        "event_id", "ts_us", "event_type", "value"
    )
    out = str(tmp_path / "events_orc")
    IO.write_orc(events, out)
    back = IO.read_orc(spark, out)
    assert back.count() == events.count()
    assert back.selectExpr("sum(ts_us)").collect() == events.selectExpr(
        "sum(ts_us)"
    ).collect()
    plan = (
        back.filter(back["event_type"] == "purchase")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)" in plan


def test_xml_sink_source_roundtrip(spark, tmp_path):
    """Native XML round-trip of a nested document shape (sections with
    titles and paragraph arrays) — the reference's OOXML domain handled
    declaratively."""
    from pyspark.sql import functions as F

    from etl_ai_assistent_spark import io as IO

    rows = [
        (1, "Intro", ["p one", "p two"]),
        (2, "Methods & Results", ["x < y", "z"]),  # needs XML escaping
        (3, "Empty", []),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, title string, paragraphs array<string>"
    )
    out = str(tmp_path / "sections_xml")
    IO.write_xml(df, out)
    back = IO.read_xml(spark, out)
    got = {
        r["doc_id"]: (r["title"], list(r["paragraphs"] or []))
        for r in back.collect()
    }
    assert got[1] == ("Intro", ["p one", "p two"])
    assert got[2] == ("Methods & Results", ["x < y", "z"])  # escaped+restored
    assert 3 in got

