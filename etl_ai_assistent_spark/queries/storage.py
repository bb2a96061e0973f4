"""Storage-layer evidence queries: compaction zone maps and sink
round-trips — driver-checkable proofs for the table-maintenance operator
(operators/compaction.py) and the K1/K2/K5-family sinks (io.py) that
were previously covered by pytest only.

Both queries follow the fixture pattern of queries/docx.py: a bounded
materialization published under the store contract (store.corpus_path
key, atomic store.publish), then a fully declarative read-back whose
values a DuckDB oracle derives from the ORIGINAL parquet tables. Any
loss anywhere in the write→read chain (type mangling, quoting,
timestamp formatting, footer statistics) breaks the value hash.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io
from .. import store as ST
from ..operators import compaction as CP
from ..registry import register

N_FILES = 8
# Full-µs lossless timestamp text. The orders timestamps are
# TIMESTAMP_NTZ, which the text formats control via timestampNTZFormat
# (timestampFormat only governs the LTZ type) — both are set so the
# round-trip stays lossless whichever physical type the testdata ships.
TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_OPTS = {"timestampFormat": TS_FMT, "timestampNTZFormat": TS_FMT}


# --- compaction zone-map evidence ------------------------------------------


def _compacted_orders_dir(spark: SparkSession, sf_dir: str) -> str:
    """Publish (once per orders version) the fixed-width compacted
    rewrite of the orders table on o_orderkey."""
    out = ST.corpus_path("spark_graft_compact_v1", sf_dir, "orders")

    def build(tmp: str) -> None:
        o = io.load_table(spark, sf_dir, "orders")
        CP.compact_fixed_width(o, tmp, "o_orderkey", N_FILES)

    ST.publish(out, build, validate=ST.has_success)
    return out


@register(
    "q_compaction_stats",
    oracle=f"""
WITH b AS (
  SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi FROM orders
),
w AS (
  SELECT lo, hi, (hi - lo) // {N_FILES} + 1 AS wid,
         lo + (hi - lo) // 4 AS plo,
         lo + (hi - lo) // 2 AS phi
  FROM b
),
g AS (
  SELECT CAST((o.o_orderkey - w.lo) // w.wid AS INT) AS bucket,
         CAST(min(o.o_orderkey) AS BIGINT) AS zone_min,
         CAST(max(o.o_orderkey) AS BIGINT) AS zone_max,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM orders o, w GROUP BY 1
)
SELECT g.bucket, g.zone_min, g.zone_max, g.n_rows,
       NOT (g.zone_max < w.plo OR g.zone_min > w.phi) AS scanned
FROM g, w
""",
)
def q_compaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning evidence for the compaction operator: rewrite
    orders with compact_fixed_width (deterministic key-range buckets,
    one key-sorted file each), then read each file's min/max/row-count
    FROM PARQUET FOOTERS ONLY and mark which files a probe key-range
    predicate (the middle [25%, 50%] of the key space) would scan.

    The oracle derives the same zone maps from the DATA — so a hash
    match proves the footer statistics the rewrite produced are exactly
    the data extents, i.e. a stats-aware reader prunes to the subset the
    oracle predicts (the tests/test_compaction.py proof, promoted to a
    driver-checked query). The evidence frame is n_files rows — bounded
    metadata, same class as collecting k-means centroids."""
    out = _compacted_orders_dir(spark, sf_dir)
    zones = CP.partitioned_zone_maps(out, "o_orderkey")
    lo, hi = (
        io.load_table(spark, sf_dir, "orders")
        .agg(F.min("o_orderkey"), F.max("o_orderkey"))
        .first()
    )
    plo, phi = int(lo) + (int(hi) - int(lo)) // 4, int(lo) + (int(hi) - int(lo)) // 2
    rows = [
        (
            int(b),
            int(mn),
            int(mx),
            int(n),
            not (int(mx) < plo or int(mn) > phi),
        )
        for b, mn, mx, n in zones
    ]
    return spark.createDataFrame(
        rows, "bucket int, zone_min bigint, zone_max bigint, n_rows bigint, scanned boolean"
    )


# --- sink round-trips -------------------------------------------------------


def _sink_rt_dir(spark: SparkSession, sf_dir: str) -> str:
    """Publish (once per orders version) the CSV/JSON/ORC sink outputs
    of a deterministic orders slice (bigint, varchar, double, timestamp
    — the four type classes the text formats can mangle)."""
    out = ST.corpus_path("spark_graft_sinkrt_v1", sf_dir, "orders")

    def build(tmp: str) -> None:
        slice_df = (
            io.load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") < 200)
            .select(
                "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
            )
        )
        io.write_csv(slice_df, os.path.join(tmp, "csv"), **_TS_OPTS)
        io.write_json(slice_df, os.path.join(tmp, "json"), **_TS_OPTS)
        io.write_orc(slice_df, os.path.join(tmp, "orc"))

    ST.publish(
        out,
        build,
        validate=lambda p: ST.has_success(p, "csv", "json", "orc"),
    )
    return out


@register(
    "q_sink_roundtrip",
    oracle="""
SELECT fmt, o_orderkey, o_orderstatus, o_totalprice, o_orderdate
FROM (
  SELECT 'csv' AS fmt, * FROM orders WHERE o_orderkey < 200
  UNION ALL
  SELECT 'json', * FROM orders WHERE o_orderkey < 200
  UNION ALL
  SELECT 'orc', * FROM orders WHERE o_orderkey < 200
)
""",
)
def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/K2/K5-family sink round-trip: write an orders slice through
    the CSV, JSON, and ORC sinks (io.write_csv/write_json/write_orc),
    read every format back with an explicit schema, and return the raw
    read-back rows tagged by format. The oracle is simply the ORIGINAL
    rows × formats — so a value-hash match certifies each sink is
    LOSSLESS for bigint/varchar/double/timestamp (shortest-roundtrip
    double text, full-microsecond timestamp format, CSV quoting).

    Scale: sinks are distributed writers (one file per task); the slice
    here is bounded only to keep the fixture small."""
    out = _sink_rt_dir(spark, sf_dir)
    # NTZ read schema: matches the parquet physical type, so the text
    # round-trip reproduces the original column without tz reinterpretation
    schema = (
        "o_orderkey bigint, o_orderstatus string, o_totalprice double, "
        "o_orderdate timestamp_ntz"
    )
    csv = (
        spark.read.schema(schema)
        .option("header", True)
        .options(**_TS_OPTS)
        .csv(os.path.join(out, "csv"))
    )
    js = (
        spark.read.schema(schema)
        .options(**_TS_OPTS)
        .json(os.path.join(out, "json"))
    )
    orc = io.read_orc(spark, os.path.join(out, "orc")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    return (
        csv.select(F.lit("csv").alias("fmt"), "*")
        .unionByName(js.select(F.lit("json").alias("fmt"), "*"))
        .unionByName(orc.select(F.lit("orc").alias("fmt"), "*"))
    )


# --- malformed-record quarantine (PERMISSIVE ingest) -----------------------

CORRUPT_EVERY = 7


def _corrupt_json_fixture(spark: SparkSession, sf_dir: str) -> str:
    """JSON-lines fixture with every {CORRUPT_EVERY}th record truncated
    mid-object — the deterministic bad-feed twin of the S5 JSON source.
    Written distributed (one map over documents, text sink)."""
    out = ST.corpus_path("spark_graft_corrupt_v1", sf_dir, "documents")

    def build(tmp: str) -> None:
        docs = io.load_table(spark, sf_dir, "documents")
        line = F.concat(
            F.lit('{"doc_id": '),
            F.col("doc_id").cast("string"),
            F.lit(', "n_chars": '),
            F.col("n_chars").cast("string"),
            F.lit("}"),
        )
        # truncate the tail off every CORRUPT_EVERY-th line -> invalid JSON
        corrupted = F.when(
            F.col("doc_id") % CORRUPT_EVERY == 0,
            F.substring(line, 1, 11),
        ).otherwise(line)
        docs.select(corrupted.alias("value")).write.text(tmp)

    ST.publish(out, build, validate=ST.has_success)
    return out


@register(
    "q_corrupt_quarantine",
    oracle=f"""
SELECT CAST(sum(CASE WHEN doc_id % {CORRUPT_EVERY} <> 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_good,
       CAST(sum(CASE WHEN doc_id % {CORRUPT_EVERY} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_quarantined,
       CAST(sum(CASE WHEN doc_id % {CORRUPT_EVERY} <> 0 THEN doc_id ELSE 0 END)
            AS BIGINT) AS good_docid_sum,
       CAST(sum(CASE WHEN doc_id % {CORRUPT_EVERY} <> 0 THEN n_chars ELSE 0 END)
            AS BIGINT) AS good_nchars_sum
FROM documents
""",
)
def q_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record quarantine — the ingest-resilience contract a
    production feed needs: PERMISSIVE JSON parsing routes unparseable
    lines into a _corrupt_record column instead of failing the job, and
    the query splits the batch into parsed rows vs quarantined rows
    with integrity sums over the parsed side. The oracle derives the
    expected split from the clean source table (the corruption rule is
    deterministic), so a parser that silently drops or mis-routes rows
    breaks the hash.

    Scale: schema-on-read with an explicit schema (no inference scan) +
    one aggregate; the quarantine column rides the same scan."""
    path = _corrupt_json_fixture(spark, sf_dir)
    parsed = (
        spark.read.schema("doc_id bigint, n_chars bigint, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return parsed.agg(
        F.sum((~bad).cast("bigint")).cast("bigint").alias("n_good"),
        F.sum(bad.cast("bigint")).cast("bigint").alias("n_quarantined"),
        F.sum(F.when(~bad, F.col("doc_id")).otherwise(0))
        .cast("bigint")
        .alias("good_docid_sum"),
        F.sum(F.when(~bad, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("good_nchars_sum"),
    )


# --- parquet schema evolution (mergeSchema read) ---------------------------


def _evolved_parquet_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Two parquet batches with evolved schemas: batch v1 carries
    (doc_id, n_chars); batch v2 (the later writer version) adds a
    `lang` column. The split is doc_id parity — deterministic."""
    out = ST.corpus_path("spark_graft_evolve_v1", sf_dir, "documents")

    def build(tmp: str) -> None:
        docs = io.load_table(spark, sf_dir, "documents")
        v1 = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "n_chars")
        v2 = docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "n_chars", "lang"
        )
        v1.write.parquet(os.path.join(tmp, "b1"))
        v2.write.parquet(os.path.join(tmp, "b2"))

    ST.publish(out, build, validate=lambda p: ST.has_success(p, "b1", "b2"))
    return out


@register(
    "q_schema_evolution",
    oracle="""
SELECT COALESCE(CASE WHEN doc_id % 2 = 1 THEN lang END, '<missing>') AS lang,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
""",
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read — a table whose later files added a
    column must stay queryable across ALL files: mergeSchema unions the
    footers' schemas and back-fills the pre-evolution files with nulls.
    The query groups over the evolved column (nulls surfaced as
    '<missing>') with an integrity sum, and the oracle replays the
    writer-version split from the source table.

    Scale note: mergeSchema is a read-time footer union (one footer per
    file at planning); production tables checkpoint the merged schema
    in a metastore so planning stays O(1), but the on-read semantics
    verified here are identical."""
    out = _evolved_parquet_fixture(spark, sf_dir)
    df = spark.read.option("mergeSchema", True).parquet(
        os.path.join(out, "b1"), os.path.join(out, "b2")
    )
    return df.groupBy(
        F.coalesce(F.col("lang"), F.lit("<missing>")).alias("lang")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


# --- z-order layout: multi-dimensional zone-map pruning ----------------------

Z_FILES = 8
Z_BITS = 24  # covers keys to 16M exactly (2*24 = 48 bits of Morton value)

from ..operators.zorder import z_value_sql as _z_value_sql  # noqa: E402

_Z_SQL = _z_value_sql("o_custkey", "o_orderkey", Z_BITS)


def _zordered_orders_dir(spark: SparkSession, sf_dir: str) -> str:
    from ..operators import zorder as ZO

    out = ST.corpus_path("spark_graft_zorder_v1", sf_dir, "orders")

    def build(tmp: str) -> None:
        o = io.load_table(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderkey"
        )
        ZO.write_zordered(
            o, tmp, "o_custkey", "o_orderkey", n_files=Z_FILES, bits=Z_BITS
        )

    ST.publish(out, build, validate=ST.has_success)
    return out


def _mid_band(lo: int, hi: int) -> tuple[int, int]:
    """The probe predicate band: the middle [25%, 50%] of a key space —
    same probe the 1-D q_compaction_stats uses."""
    return lo + (hi - lo) // 4, lo + (hi - lo) // 2


@register(
    "q_zorder_stats",
    oracle=f"""
WITH z AS (
  SELECT o_custkey, o_orderkey,
         {{zsql}} AS zv
  FROM orders
),
b AS (
  SELECT min(zv) AS zlo, max(zv) AS zhi,
         min(o_custkey) AS alo, max(o_custkey) AS ahi,
         min(o_orderkey) AS blo, max(o_orderkey) AS bhi
  FROM z
),
w AS (
  SELECT zlo, (zhi - zlo) // {Z_FILES} + 1 AS wid,
         alo + (ahi - alo) // 4 AS palo, alo + (ahi - alo) // 2 AS pahi,
         blo + (bhi - blo) // 4 AS pblo, blo + (bhi - blo) // 2 AS pbhi
  FROM b
),
g AS (
  SELECT CAST((z.zv - w.zlo) // w.wid AS INT) AS bucket,
         CAST(min(z.o_custkey) AS BIGINT) AS a_min,
         CAST(max(z.o_custkey) AS BIGINT) AS a_max,
         CAST(min(z.o_orderkey) AS BIGINT) AS b_min,
         CAST(max(z.o_orderkey) AS BIGINT) AS b_max,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM z, w GROUP BY 1
)
SELECT g.bucket, g.a_min, g.a_max, g.b_min, g.b_max, g.n_rows,
       NOT (g.a_max < w.palo OR g.a_min > w.pahi) AS scanned_by_a,
       NOT (g.b_max < w.pblo OR g.b_min > w.pbhi) AS scanned_by_b
FROM g, w
""".format(zsql=_Z_SQL),
)
def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional zone-map evidence for the z-order layout
    (operators/zorder.py): rewrite orders z-clustered on
    (o_custkey, o_orderkey), read each file's min/max FOR BOTH columns
    from parquet FOOTERS only, and mark which files a mid-band probe on
    EITHER dimension would scan. A single-key sort prunes one dimension
    and scans everything for the other; the Morton layout bounds both —
    the `OPTIMIZE ZORDER BY` story, gate-checked: the oracle derives
    identical zone maps from the data, so a hash match proves the
    footer stats equal the data extents on both dimensions
    (tests/test_zorder.py additionally proves the pruning BEATS a
    1-D sort layout). Output is n_files rows — bounded metadata."""
    out = _zordered_orders_dir(spark, sf_dir)
    zones_a = {b: (mn, mx, n) for b, mn, mx, n in CP.partitioned_zone_maps(out, "o_custkey")}
    zones_b = {b: (mn, mx, n) for b, mn, mx, n in CP.partitioned_zone_maps(out, "o_orderkey")}
    o = io.load_table(spark, sf_dir, "orders")
    alo, ahi, blo, bhi = o.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_orderkey"), F.max("o_orderkey"),
    ).first()
    palo, pahi = _mid_band(int(alo), int(ahi))
    pblo, pbhi = _mid_band(int(blo), int(bhi))
    rows = [
        (
            int(b),
            int(zones_a[b][0]), int(zones_a[b][1]),
            int(zones_b[b][0]), int(zones_b[b][1]),
            int(zones_a[b][2]),
            not (zones_a[b][1] < palo or zones_a[b][0] > pahi),
            not (zones_b[b][1] < pblo or zones_b[b][0] > pbhi),
        )
        for b in sorted(zones_a)
    ]
    return spark.createDataFrame(
        rows,
        "bucket int, a_min bigint, a_max bigint, b_min bigint, b_max bigint,"
        " n_rows bigint, scanned_by_a boolean, scanned_by_b boolean",
    )
