"""Bucketed physical design: pre-shuffled tables for co-located joins
(100 TB posture; SURVEY.md §4).

``bucketBy(n, key)`` writes each table pre-hash-partitioned on the join
key; two tables bucketed the same way join with ZERO exchange — the
classic answer to "this fact-fact join shuffles 100 TB every night".
The write pays the shuffle once; every subsequent join (and any
aggregation keyed on the bucket column) reuses the on-disk layout.

Tables land as external parquet data-source tables under the shared
store root (store.py contract: SPARK_GRAFT_STORE_ROOT env override,
content-fingerprinted version key so a refreshed source table gets a
fresh layout, atomic temp-dir+rename publish, validated adoption).
A fresh session re-registers published files via DDL — idempotent,
no rewrite; in production this is a one-time backfill into the
warehouse."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .. import io
from .. import store as ST

BUCKETS = 16


def bucketed_table(spark: SparkSession, sf_dir: str, table: str, key: str) -> DataFrame:
    """Read `table` as a bucketed catalog table, publishing it on first
    use for this source-table version. sortBy(key) inside each bucket
    lets the join skip its sort too (SortMergeJoin over pre-sorted
    buckets)."""
    # _v2: fingerprinted key + atomic publish (FIXTURES.md rule)
    path = ST.corpus_path(
        "spark_graft_bucketed_v2",
        sf_dir,
        table,
        f"_{BUCKETS}",
        name_table=True,
    )
    name = f"bkt_{os.path.basename(path)}"
    if spark.catalog.tableExists(name):
        return spark.table(name)
    n_rows = ST.table_rows(sf_dir, table)
    src = io.load_table(spark, sf_dir, table)

    def build(tmp: str) -> None:
        tmp_name = f"{name}_build_{os.path.basename(tmp).split('-')[-1]}"
        (
            src.write.format("parquet")
            .option("path", tmp)
            .bucketBy(BUCKETS, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(tmp_name)
        )
        # external table: DROP unregisters the name, files stay for the
        # atomic rename
        spark.sql(f"DROP TABLE {tmp_name}")

    ST.publish(
        path,
        build,
        validate=lambda p: ST.has_success(p)
        and ST.parquet_rows(p) == n_rows,
    )
    cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields
    )
    spark.sql(
        f"CREATE TABLE {name} ({cols}) USING PARQUET"
        f" CLUSTERED BY ({key}) SORTED BY ({key})"
        f" INTO {BUCKETS} BUCKETS LOCATION '{path}'"
    )
    return spark.table(name)
