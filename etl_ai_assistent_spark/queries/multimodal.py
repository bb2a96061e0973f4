"""Multimodal-column queries (north-star family).

The testdata ships no media files, so the `assets` table is derived
deterministically from `documents` (operators/multimodal.make_assets):
content = the text's UTF-8 bytes as an opaque BINARY column, kind
round-robined, metadata md5-derived. The corpus text is pure ASCII
(verified), so DuckDB can replay even the byte-level pandas UDFs via
codepoints — the mapInPandas plumbing gets an exact value oracle, not
just a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io
from ..functions import md5_bucket, md5_bucket_sql
from ..operators import multimodal as MM
from ..registry import register

_ASSETS_CTE = f"""
assets AS (
  SELECT doc_id AS asset_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
         text,
         {md5_bucket_sql('text', salt='w|')} AS b1,
         {md5_bucket_sql('text', salt='h|')} AS b2
  FROM documents
)
"""


def _assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.make_assets(
        io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


@register(
    "q_asset_catalog",
    oracle=f"""
WITH {_ASSETS_CTE}
SELECT asset_id, kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CASE WHEN kind = 'image' THEN CAST(16 * (1 + b1 % 120) AS INT) END AS width,
       CASE WHEN kind = 'image' THEN CAST(16 * (1 + b2 % 68) AS INT) END AS height,
       CASE WHEN kind = 'audio'
            THEN [8000, 16000, 22050, 44100][CAST(b1 % 4 AS INT) + 1] END AS sample_rate,
       CASE WHEN kind = 'audio' THEN CAST(500 + b2 % 60000 AS INT) END AS duration_ms,
       CASE WHEN kind = 'video'
            THEN [10, 24, 25, 30][CAST(b1 % 4 AS INT) + 1] END AS fps,
       CASE WHEN kind = 'video' THEN CAST(30 + b2 % 900 AS INT) END AS n_frames
FROM assets
""",
)
def q_asset_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The typed multimodal catalog: opaque BINARY content + per-kind
    metadata as flat nullable columns (flat > MapType for predicate
    pushdown, SURVEY.md §1.4). Narrow map over the scan — no shuffle."""
    return _assets(spark, sf_dir).select(
        "asset_id",
        "kind",
        F.length("content").cast("bigint").alias("n_bytes"),
        "width",
        "height",
        "sample_rate",
        "duration_ms",
        "fps",
        "n_frames",
    )


@register(
    "q_frame_sample",
    oracle=f"""
WITH {_ASSETS_CTE},
vids AS (
  SELECT asset_id,
         [10, 24, 25, 30][CAST(b1 % 4 AS INT) + 1] AS fps,
         CAST(30 + b2 % 900 AS INT) AS n_frames
  FROM assets WHERE kind = 'video'
)
SELECT asset_id,
       CAST(frame_idx // fps AS INT) AS sample_ord,
       CAST(frame_idx AS INT) AS frame_idx,
       CAST(floor(CAST(frame_idx AS DOUBLE) * 1000 / fps) AS BIGINT) AS frame_ts_ms
FROM (SELECT asset_id, fps,
             unnest(generate_series(0, n_frames - 1, fps)) AS frame_idx
      FROM vids)
""",
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: every fps-th frame (~1/sec) via
    sequence + posexplode — a pure narrow flatMap; the decode of each
    sampled frame would slot into the same position as a mapInPandas
    over (asset_id, frame_idx, content)."""
    return MM.frame_sample(_assets(spark, sf_dir))


@register(
    "q_resize_plan",
    oracle=f"""
WITH {_ASSETS_CTE},
imgs AS (
  SELECT asset_id,
         CAST(16 * (1 + b1 % 120) AS INT) AS width,
         CAST(16 * (1 + b2 % 68) AS INT) AS height
  FROM assets WHERE kind = 'image'
)
SELECT asset_id, width, height,
       greatest(1, CAST(floor(CAST(width AS DOUBLE)
         * least(256.0 / width, 256.0 / height, 1.0)) AS INT)) AS new_width,
       greatest(1, CAST(floor(CAST(height AS DOUBLE)
         * least(256.0 / width, 256.0 / height, 1.0)) AS INT)) AS new_height
FROM imgs
""",
)
def q_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving fit of every image into a 256×256 box (never
    upscaling) — metadata-only double arithmetic, bit-identical across
    engines (same IEEE ops in the same order)."""
    return MM.resize_plan(_assets(spark, sf_dir), box=256)


@register(
    "q_byte_features",
    oracle="""
WITH codes AS (
  SELECT doc_id AS asset_id,
         list_transform(generate_series(1, length(text)),
                        i -> unicode(substr(text, i, 1))) AS c
  FROM documents
)
SELECT asset_id,
       CAST(len(c) AS BIGINT) AS n_bytes,
       floor(CAST(list_aggregate(c, 'sum') AS DOUBLE) / greatest(len(c), 1)
             * 1000000.0 + 0.5) / 1000000.0
         AS mean_byte,
       array_to_string(list_transform(generate_series(0, 15),
                       b -> CAST(len(list_filter(c, x -> x // 16 = b)) AS BIGINT)),
                       ',')
         AS hist_csv
FROM codes
""",
)
def q_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level feature extraction (16-bin histogram + mean byte) via
    an Arrow-batched pandas UDF in mapInPandas — the real multimodal
    feature-extract shape. The oracle replays it over codepoints
    (corpus is pure ASCII, so byte == codepoint). The histogram is
    registered as its exact CSV rendering — integer counts, so the
    string form is canonical and keeps raw ARRAY columns out of the
    driver's canonicalizer."""
    feats = MM.byte_features(_assets(spark, sf_dir), bins=16)
    return feats.select(
        "asset_id",
        "n_bytes",
        "mean_byte",
        F.array_join("hist", ",").alias("hist_csv"),
    )


@register(
    "q_decode_stub",
    oracle=f"""
WITH {_ASSETS_CTE}
SELECT asset_id,
       CAST(1 + (CASE WHEN length(text) > 0 THEN unicode(substr(text, 1, 1)) ELSE 0 END * 256
                 + CASE WHEN length(text) > 1 THEN unicode(substr(text, 2, 1)) ELSE 0 END)
                % 2048 AS INT) AS dec_width,
       CAST(1 + CASE WHEN length(text) > 1 THEN unicode(substr(text, 2, 1)) ELSE 0 END
                % 1024 AS INT) AS dec_height,
       'L' AS dec_mode
FROM assets WHERE kind = 'image'
""",
)
def q_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-decode plumbing with the decoder STUBBED (no PIL in
    this container): deterministic fake dimensions from the leading
    bytes, exercised through the production mapInPandas path so the
    batch shape, schema, and projection are all real and verified."""
    return MM.decode_image_meta(_assets(spark, sf_dir))


# --- modality-weighted shard packing ---------------------------------------

MM_SHARD_BUDGET = 4000  # cost units per training shard
MM_SHARD_BUCKETS = 8


@register(
    "q_multimodal_shards",
    oracle=f"""
WITH {_ASSETS_CTE},
costed AS (
  SELECT a.asset_id AS doc_id,
         CAST({md5_bucket_sql('CAST(a.asset_id AS VARCHAR)', salt='mshard|')}
              % {MM_SHARD_BUCKETS} AS BIGINT) AS bucket,
         len(string_split_regex(trim(a.text), '\\s+')) +
         CASE a.kind
           WHEN 'image' THEN (16 * (1 + b1 % 120) * 16 * (1 + b2 % 68)) // 4096
           WHEN 'audio' THEN CAST(500 + b2 % 60000 AS BIGINT) // 1000
           ELSE CAST(30 + b2 % 900 AS BIGINT)
         END AS cost
  FROM assets a
),
packed AS (
  SELECT doc_id, bucket, cost,
         COALESCE(sum(cost) OVER (PARTITION BY bucket ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cost_before
  FROM costed
)
SELECT CAST(bucket * 100000 + cost_before // {MM_SHARD_BUDGET} AS BIGINT)
         AS shard_id,
       count(*) AS n_docs,
       CAST(sum(cost) AS BIGINT) AS shard_cost,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM packed
GROUP BY 1
""",
)
def q_multimodal_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality-weighted training-shard packing — q_token_shards
    generalized to mixed media: each document's cost is its text token
    count PLUS its asset's modality units (image → pixel patches /
    4096, the ViT accounting; audio → whole seconds; video → frames),
    then the same hash-bucketed running-sum cut packs ~{MM_SHARD_BUDGET}
    cost units per shard. This is how a multimodal pretraining loader
    balances batches so a video-heavy shard doesn't starve the step
    budget that a text-only shard undershoots.

    Scale: the cost column is a narrow codegen map over the asset
    catalog (no media decode — metadata IS the cost model); packing is
    one windowed pass per hash bucket + a shard-sized groupBy, the
    exact q_token_shards shape. All integer, engine-exact."""
    from pyspark.sql import Window

    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assets = MM.make_assets(docs)
    costed = (
        assets.join(docs, assets.asset_id == docs.doc_id)
        .select(
            "doc_id",
            (
                md5_bucket(F.col("doc_id").cast("string"), salt="mshard|")
                % MM_SHARD_BUCKETS
            ).alias("bucket"),
            (
                F.size(F.split(F.trim(F.col("text")), r"\s+"))
                + F.when(
                    F.col("kind") == "image",
                    F.expr("(width * height) div 4096"),
                )
                .when(
                    F.col("kind") == "audio",
                    F.expr("duration_ms div 1000"),
                )
                .otherwise(F.col("n_frames"))
            )
            .cast("bigint")
            .alias("cost"),
        )
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = costed.withColumn(
        "cost_before", F.coalesce(F.sum("cost").over(w), F.lit(0))
    )
    return (
        packed.select(
            "doc_id",
            "cost",
            (
                F.col("bucket") * 100000
                + F.expr(f"cost_before div {MM_SHARD_BUDGET}")
            )
            .cast("bigint")
            .alias("shard_id"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("cost").cast("bigint").alias("shard_cost"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )
