"""S1/S2 DOCX scan queries — the parse→sectionize pipeline end-to-end
through REAL bytes.

The testdata ships no .docx corpus, so the query materializes one
deterministically from the `documents` table (sources/docx.write_corpus
— real zip + OOXML), scans it back with the distributed binaryFile +
mapInPandas parser, sectionizes, and reduces to per-document facts. The
DuckDB oracle derives the identical facts straight from `documents` —
any drift anywhere in the writer→zip→XML→parser→sectionizer chain
breaks the value hash.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io
from .. import store as ST
from ..functions import text as TX
from ..operators.sectionizer import sectionize
from ..registry import register
from ..sources import docx as DX


def docx_corpus_dir(spark: SparkSession, sf_dir: str) -> str:
    """Publish (once per documents version) the deterministic .docx
    fixture corpus derived from the documents table. The write is
    DISTRIBUTED (foreachPartition; doc_{id}.docx names are id-disjoint
    across partitions) so no unbounded `.collect()` ever reaches the
    driver — at a larger sf_dir the fixture generation scales with the
    executors. The corpus lands in a temp dir published by one rename,
    so the binaryFile glob never sees a partial corpus or stale files
    from an older documents version."""
    out = ST.corpus_path("spark_graft_docx_v1", sf_dir, "documents")

    def build(tmp: str) -> None:
        docs = io.load_table(spark, sf_dir, "documents")
        os.makedirs(tmp)

        def _write(rows) -> None:
            DX.write_corpus([(r["doc_id"], r["text"]) for r in rows], tmp)

        docs.select("doc_id", "text").foreachPartition(_write)

    n_docs = ST.table_rows(sf_dir, "documents")
    ST.publish(out, build, validate=lambda p: len(os.listdir(p)) == n_docs)
    return out


@register(
    "q_docx_pipeline",
    oracle=f"""
WITH tokd AS (
  SELECT doc_id, {TX.TOKENS_SQL} AS tok
  FROM (SELECT doc_id, text FROM documents)
)
SELECT doc_id,
       'Section ' || CAST(doc_id AS VARCHAR) AS title,
       md5(array_to_string(tok, ' ')) AS body_md5,
       CAST(ceil(len(tok) / 10.0) AS BIGINT) AS n_body_paras,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_tables,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_captions,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_image_paras,
       CASE WHEN doc_id % 5 = 0 THEN
         md5('cell_' || doc_id || '_0_0|cell_' || doc_id || '_0_1|'
             || 'cell_' || doc_id || '_1_0|cell_' || doc_id || '_1_1')
       END AS table_cells_md5
FROM tokd
WHERE len(tok) > 0
""",
)
def q_docx_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end S1/S2+G1: write real .docx bytes → distributed
    binaryFile scan → stdlib OOXML block parser (mapInPandas, one task
    per file) → sectionizer window recipe → per-doc facts. Text before
    the heading: none here; captions are excluded from section bodies
    (style filter) and counted separately; table cells round-trip
    through real XML into an md5 checksum."""
    corpus = docx_corpus_dir(spark, sf_dir)
    blocks = DX.scan_docx(spark, os.path.join(corpus, "*.docx")).withColumn(
        "doc_id", F.regexp_extract("document_name", r"doc_(\d+)", 1).cast("bigint")
    )

    paras = blocks.filter(
        (F.col("kind") == "paragraph") & (F.col("style") != "Caption")
    )
    sections = sectionize(
        paras,
        doc_col="doc_id",
        order_col="block_idx",
        text_col="text",
        is_heading=TX.is_heading("style"),
    )

    stats = blocks.groupBy("doc_id").agg(
        F.sum((F.col("kind") == "table").cast("int")).alias("n_tables"),
        F.sum((F.col("style") == "Caption").cast("int")).alias("n_captions"),
        F.sum(F.col("has_image").cast("int")).alias("n_image_paras"),
        F.max(
            F.when(
                F.col("kind") == "table",
                F.md5(F.concat_ws("|", F.flatten(F.col("rows")))),
            )
        ).alias("table_cells_md5"),
    )

    return (
        sections.join(stats, "doc_id")
        .select(
            "doc_id",
            "title",
            F.md5("body").alias("body_md5"),
            F.col("n_paras").alias("n_body_paras"),
            "n_tables",
            "n_captions",
            "n_image_paras",
            "table_cells_md5",
        )
    )


@register(
    "q_docx_media",
    oracle="""
SELECT doc_id,
       'image1.png' AS media_name,
       CAST(128 AS BIGINT) AS n_bytes,
       md5(repeat(md5(text), 4)) AS content_md5,
       '.png' AS ext
FROM documents
WHERE doc_id % 7 = 0
""",
)
def q_docx_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3's read side through real bytes: embedded media parts extracted
    from the OOXML package (word/media/*) by the distributed scan, with
    extension derivation (reference save_image ext fallback chain,
    docx_parser.py:130-149). The md5 of the extracted blob must equal
    what the oracle rebuilds from the source text — any corruption in
    zip write/read or binary transport breaks it."""
    corpus = docx_corpus_dir(spark, sf_dir)
    media = DX.scan_docx_media(spark, os.path.join(corpus, "*.docx"))
    return media.select(
        F.regexp_extract("document_name", r"doc_(\d+)", 1)
        .cast("bigint")
        .alias("doc_id"),
        "media_name",
        F.length("content").cast("bigint").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
        F.coalesce(
            F.nullif(F.regexp_extract("media_name", r"(\.[^.]+)$", 1), F.lit("")),
            F.lit(".bin"),
        ).alias("ext"),
    )
