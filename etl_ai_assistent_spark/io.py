"""Source/sink wrappers (SURVEY.md §2.1 S4-S6, §2.2 K1-K7).

The reference's sources/sinks are row-at-a-time file loops; here every one
is a DataFrame reader/writer so Catalyst gets pushdown + pruning on the
read side and distributed writes on the sink side.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata parquet table (S6-style full scan; columnar,
    predicate-pushdown capable — the Spark analogue of the reference's
    vector-store scroll scan at make_ragas_test.py:72-87)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# Plausible epoch-µs range for event timestamps (2000-01-01 .. 2100-01-01).
# A unit mix-up (ns read as µs, µs read as ns, s read as µs) lands orders
# of magnitude outside this band, so the loader can fail LOUDLY instead of
# silently shrinking or inflating every timestamp 1000x.
TS_US_MIN = 946_684_800_000_000
TS_US_MAX = 4_102_444_800_000_000


def ts_us_col(ts_dtype: str):
    """Column expression normalizing an events `ts` of any physical type
    the generator has shipped (int64 epoch-nanos, timestamp[us] NTZ or
    UTC-adjusted) to canonical epoch-microseconds BIGINT. The DuckDB
    oracle's `epoch_us(ts)` agrees with every branch: for legacy ns
    parquet DuckDB truncates to µs exactly like `ts DIV 1000`, and for µs
    parquet both read the stored integer unchanged."""
    if ts_dtype == "bigint":  # legacy: int64 epoch-nanos read via nanosAsLong
        return F.expr("ts DIV 1000")
    if ts_dtype == "timestamp_ntz":
        # Wall-clock-as-UTC epoch µs, independent of the session timezone.
        return F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    if ts_dtype == "timestamp":
        return F.unix_micros("ts")
    raise TypeError(f"events.ts has unsupported dtype {ts_dtype!r}")


_TS_SANITY_OK: set[tuple[str, float, int]] = set()


def assert_ts_unit_sane(path: str) -> None:
    """Footer-only (no data scan) sanity check that the min/max of the
    events `ts` column normalizes into a plausible epoch-µs band. Guards
    against the silent-corruption mode where a re-typed testdata column
    is decoded with the wrong unit. Cached per (path, mtime, size) — not
    path alone — so a file regenerated in-process at the same path is
    re-validated. Cheap (~ms)."""
    st_f = os.stat(path)
    cache_key = (path, st_f.st_mtime, st_f.st_size)
    if cache_key in _TS_SANITY_OK:
        return
    import datetime

    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    field = pf.schema_arrow.field("ts")
    lo = hi = None
    for rg in range(pf.metadata.num_row_groups):
        col = pf.metadata.row_group(rg).column(
            [f.name for f in pf.schema_arrow].index("ts")
        )
        st = col.statistics
        if st is None or not st.has_min_max:
            return  # no stats — nothing to check
        mn, mx = st.min, st.max
        lo = mn if lo is None else min(lo, mn)
        hi = mx if hi is None else max(hi, mx)
    if lo is None:
        return
    unit = getattr(field.type, "unit", None)
    scale = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": None}.get(unit, None)
    if isinstance(lo, datetime.datetime):
        epoch = datetime.datetime(1970, 1, 1, tzinfo=lo.tzinfo)
        lo_us = int((lo - epoch).total_seconds() * 1_000_000)
        hi_us = int((hi - epoch).total_seconds() * 1_000_000)
    elif unit == "ns" or scale is None:  # int64 nanos (legacy) or raw int
        lo_us, hi_us = int(lo) // 1000, int(hi) // 1000
    else:
        lo_us, hi_us = int(lo) * scale, int(hi) * scale
    if not (TS_US_MIN <= lo_us <= hi_us <= TS_US_MAX):
        raise AssertionError(
            f"events ts unit sanity failed for {path}: normalized range "
            f"[{lo_us}, {hi_us}] µs is outside [{TS_US_MIN}, {TS_US_MAX}] — "
            "the physical type/unit of `ts` changed; update io.ts_us_col"
        )
    _TS_SANITY_OK.add(cache_key)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the events table, normalizing `ts` (whatever physical type the
    generator shipped — int64 epoch-nanos or timestamp[us]) to ONE
    canonical `ts_us` epoch-microseconds BIGINT column that every
    downstream query consumes. Raw `ts` is dropped so no query can
    accidentally re-derive with the wrong unit.

    The nanosAsLong conf is set here (runtime-settable) because the
    driver passes its own SparkSession that won't have it in the builder;
    it only affects ns-precision columns, harmless otherwise.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    try:
        assert_ts_unit_sane(path)
    except (OSError, KeyError, ValueError):
        pass  # multi-file/remote layout — the dtype dispatch still applies
    return with_ts_us(load_table(spark, sf_dir, "events"))


def with_ts_us(df: DataFrame) -> DataFrame:
    """`df` with its events `ts` replaced, in place, by the canonical
    `ts_us` epoch-µs BIGINT (ts_us_col) — the one normalization the
    batch scan and the streaming scans share."""
    ts_us = ts_us_col(dict(df.dtypes)["ts"]).cast("bigint").alias("ts_us")
    return df.select(
        *[ts_us if c == "ts" else F.col(c) for c in df.columns]
    )


# --- sources (SURVEY.md §2.1) -------------------------------------------


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """S4 text-lines source (vectorize_out.py:41-42): read + strip lines."""
    return spark.read.text(path).select(F.trim("value").alias("line"))


def read_json_dataset(spark: SparkSession, path: str) -> DataFrame:
    """S5 QA JSON source (make_ragas_dataset.py:61-69), explicit schema."""
    return spark.read.json(path, schema=schemas.QA_DATASET, multiLine=True)


# --- sinks (SURVEY.md §2.2) ----------------------------------------------


def write_parquet(df: DataFrame, path: str, *, partition_by: tuple[str, ...] = ()) -> None:
    """K4/K5-style native store. Partitioning keys (e.g. document_version)
    enable static + dynamic partition pruning on later scans."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite", **options) -> None:
    """K1/K5/K6 JSON sinks (app.py:37-38, vectorize_out.py:99)."""
    df.write.mode(mode).options(**options).json(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", **options) -> None:
    """K2/K7 CSV sinks (docx_etl.py:160-171, make_ragas_test.py:196)."""
    df.write.mode(mode).option("header", True).options(**options).csv(path)


def write_orc(df: DataFrame, path: str) -> None:
    """Alternative columnar store format (same pushdown/pruning class as
    parquet; the K4/K5 store shape for ORC-standardized warehouses)."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_xml(df: DataFrame, path: str) -> None:
    """Native XML sink (Spark 4 built-in), one <row> element per row —
    the reference's document domain IS XML (OOXML, docx_parser.py);
    this is the declarative twin of its ElementTree serialization for
    XML-standardized exchanges."""
    df.write.mode("overwrite").format("xml").option("rowTag", "row").save(path)


def read_xml(spark: SparkSession, path: str) -> DataFrame:
    """Native XML source: one row per <row> element, attributes as
    `_attr` columns, nested elements as structs/arrays — schema-on-read
    like the JSON source."""
    return spark.read.format("xml").option("rowTag", "row").load(path)
