"""Multimodal-column operators (north-star LLM-data-pipeline family).

The reference's only binary handling is the DOCX image blob sink
(docx_etl.py:138-157 — bytes in, file out, no decode). This module is
the 100 TB generalization: image/audio/video as opaque BINARY columns
with typed metadata, processed by Arrow-batched pandas UDFs over
``mapInPandas`` so each executor task streams record batches instead of
collecting rows.

The image/audio decode libraries are NOT in this container, so the
decode step is a clearly-marked STUB: ``decode_image_meta`` tries the
real decoder (PIL) and otherwise falls back to a deterministic fake
derived from the leading bytes. The Spark-side plumbing — binary
schema, mapInPandas batch iteration, column pruning before the UDF — is
real and oracle-tested (the fake is reproducible in ANSI SQL).

Scale posture: every operator here is a narrow map over the assets
table (no shuffle at all); partitioning follows the scan. Feature
extraction keeps only (id, content) in the Arrow stream — project
before mapInPandas, never after.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import md5_bucket

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

KINDS = ("image", "audio", "video")
SAMPLE_RATES = (8000, 16000, 22050, 44100)
FPS_CHOICES = (10, 24, 25, 30)


def make_assets(docs: DataFrame) -> DataFrame:
    """Derive a deterministic multimodal `assets` table from `documents`:
    content = UTF-8 bytes of the text (opaque BINARY stand-in for real
    media), kind round-robined by doc_id, typed metadata md5-derived so
    every engine computes the identical catalog.

    Columns: asset_id, kind, content BINARY, plus per-kind nullable
    metadata (image: width/height; audio: sample_rate/duration_ms;
    video: fps/n_frames)."""
    kind = F.element_at(
        F.array(*[F.lit(k) for k in KINDS]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    b1 = md5_bucket(F.col("text"), salt="w|")
    b2 = md5_bucket(F.col("text"), salt="h|")
    is_img = F.col("kind") == "image"
    is_aud = F.col("kind") == "audio"
    is_vid = F.col("kind") == "video"
    return (
        docs.select(
            F.col("doc_id").alias("asset_id"),
            kind.alias("kind"),
            F.encode(F.col("text"), "UTF-8").alias("content"),
            b1.alias("_b1"),
            b2.alias("_b2"),
        )
        .withColumns(
            {
                "width": F.when(is_img, 16 * (1 + F.col("_b1") % 120)).cast("int"),
                "height": F.when(is_img, 16 * (1 + F.col("_b2") % 68)).cast("int"),
                "sample_rate": F.when(
                    is_aud,
                    F.element_at(
                        F.array(*[F.lit(r) for r in SAMPLE_RATES]),
                        (F.col("_b1") % 4 + 1).cast("int"),
                    ),
                ).cast("int"),
                "duration_ms": F.when(is_aud, 500 + F.col("_b2") % 60000).cast(
                    "int"
                ),
                "fps": F.when(
                    is_vid,
                    F.element_at(
                        F.array(*[F.lit(r) for r in FPS_CHOICES]),
                        (F.col("_b1") % 4 + 1).cast("int"),
                    ),
                ).cast("int"),
                "n_frames": F.when(is_vid, 30 + F.col("_b2") % 900).cast("int"),
            }
        )
        .drop("_b1", "_b2")
    )


def frame_sample(assets: DataFrame) -> DataFrame:
    """Video frame sampling plan: every fps-th frame index (~1 per
    second of video) as (asset_id, sample_ord, frame_idx, frame_ts_ms).
    Pure sequence+posexplode — a narrow flatMap, no Python."""
    vids = assets.filter(F.col("kind") == "video").select(
        "asset_id", "fps", "n_frames"
    )
    idxs = F.sequence(F.lit(0), F.col("n_frames") - 1, F.col("fps"))
    return (
        vids.select(
            "asset_id",
            "fps",
            F.posexplode(idxs).alias("sample_ord", "frame_idx"),
        )
        .withColumn(
            "frame_ts_ms",
            F.floor(
                F.col("frame_idx").cast("double") * 1000.0
                / F.col("fps").cast("double")
            ).cast("bigint"),
        )
        .drop("fps")
    )


def resize_plan(assets: DataFrame, box: int = 256) -> DataFrame:
    """Image resize planning: fit (width, height) into a box×box square
    preserving aspect ratio, never upscaling. Metadata-only arithmetic
    (the pixel op itself would run inside the decode UDF at the same
    plan position)."""
    imgs = assets.filter(F.col("kind") == "image").select(
        "asset_id", "width", "height"
    )
    scale = F.least(
        F.lit(float(box)) / F.col("width").cast("double"),
        F.lit(float(box)) / F.col("height").cast("double"),
        F.lit(1.0),
    )
    return imgs.select(
        "asset_id",
        "width",
        "height",
        F.greatest(
            F.lit(1), F.floor(F.col("width").cast("double") * scale).cast("int")
        ).alias("new_width"),
        F.greatest(
            F.lit(1), F.floor(F.col("height").cast("double") * scale).cast("int")
        ).alias("new_height"),
    )


BYTE_FEATURE_SCHEMA = (
    "asset_id bigint, n_bytes bigint, mean_byte double, hist array<bigint>"
)


def byte_features(assets: DataFrame, bins: int = 16) -> DataFrame:
    """Feature extraction over the raw bytes: per-asset byte-value
    histogram (`bins` buckets of 256/bins values) + mean byte, via an
    Arrow-batched pandas UDF in mapInPandas. Project to (id, content)
    BEFORE the UDF so only the bytes cross the JVM->Python boundary."""
    import numpy as np
    import pandas as pd

    width = 256 // bins

    import math

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                arr = np.frombuffer(content, dtype=np.uint8)
                hist = np.bincount(arr // width, minlength=bins)[:bins]
                # round half UP via floor(x*1e6+0.5): python round() is
                # banker's but DuckDB/Spark round half away — byte means
                # (int/int with power-of-2 denominators) hit exact ties
                mean = float(arr.sum()) / max(arr.size, 1)
                rows.append(
                    (
                        aid,
                        int(arr.size),
                        math.floor(mean * 1e6 + 0.5) / 1e6,
                        [int(x) for x in hist],
                    )
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "n_bytes", "mean_byte", "hist"]
            )

    return assets.select("asset_id", "content").mapInPandas(
        extract, schema=BYTE_FEATURE_SCHEMA
    )


DECODE_SCHEMA = "asset_id bigint, dec_width int, dec_height int, dec_mode string"


def decode_image_meta(assets: DataFrame) -> DataFrame:
    """Image decode step. Tries the real decoder (PIL); this container
    ships none, so the fallback is an explicitly-marked DETERMINISTIC
    FAKE: dimensions derived from the first two bytes, mode 'L'. The
    mapInPandas plumbing (binary in, struct out, Arrow batches) is the
    real production shape — swapping in PIL changes only the inner
    function body."""
    import pandas as pd

    try:  # pragma: no cover - PIL absent in the build container
        from PIL import Image  # noqa: F401

        have_pil = True
    except ImportError:
        have_pil = False

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                if have_pil:  # pragma: no cover
                    raise NotImplementedError(
                        "real decode path requires image fixtures"
                    )
                b0 = content[0] if len(content) > 0 else 0
                b1 = content[1] if len(content) > 1 else 0
                rows.append((aid, 1 + (b0 * 256 + b1) % 2048, 1 + b1 % 1024, "L"))
            yield pd.DataFrame(
                rows, columns=["asset_id", "dec_width", "dec_height", "dec_mode"]
            )

    imgs = assets.filter(F.col("kind") == "image").select("asset_id", "content")
    return imgs.mapInPandas(decode, schema=DECODE_SCHEMA)
