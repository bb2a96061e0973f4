"""SparkSession factory.

One place to encode the engine's execution posture:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast conversion after runtime stats).
- Arrow on (every pandas UDF / applyInPandas crosses the JVM<->Python
  boundary in columnar Arrow batches, not pickled rows).
- UTC session timezone (parquet timestamps must compare bit-identically
  against the DuckDB oracle, which is UTC-naive).
- shuffle partitions sized to the local core count, not the 200 default
  (on a real cluster this is overridden per deployment; AQE coalescing
  makes the static number mostly a ceiling).
- Python workers import this package: their PYTHONPATH carries the
  package's parent directory, so the Arrow-UDF queries work when the
  driver found the package through a ``sys.path`` insert from any cwd.
  A session that already exists when get_spark runs keeps its own
  worker environment (``getOrCreate`` does not apply static confs).

On a 1000-executor cluster the same builder is used with
``master`` / memory settings supplied by the deployment, so keep every
scale-relevant setting overridable via env.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# The directory that holds the package, for the Python workers' import path.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "etl_ai_assistent_spark",
    *,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession."""
    cpus = default_parallelism()
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    mem = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "8g")

    # AQE picks the FINAL partition count by coalescing down from this
    # ceiling using runtime sizes. Shuffle WIDTH must scale with data:
    # at the 60M-row trend fixture, q_rag_fusion's posting shuffle
    # spilled through 32 static partitions (240 s) and ran exactly
    # linear at 256 (79 s) — while at local test scale a 256-wide
    # ceiling only taxes small queries with map-side split overhead
    # (q_pq_adc_topk 0.14 s → 0.28 s). So the DEFAULT tracks the local
    # shuffle count (no behavior change at test scale) and deployments
    # / scale runs raise it with the data — tools/scale_trend.py's
    # sf10 runner sets 256 the way a cluster submit would.
    initial_parts = int(
        os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", str(shuffle))
    )
    builder = (
        SparkSession.builder.master(
            os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
        )
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(initial_parts),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # documents/chunks text rows are fat; keep Arrow batches bounded
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # keep bucketed scans bucketed: the auto-disable rule only looks
        # for downstream interesting partitions, so it would drop
        # bucket PRUNING on `key IN (...)` serving scans (the trigram
        # posting store reads whole-file-skip via SelectedBucketsCount
        # only when the scan stays bucketed). Cost: a bucketed scan
        # parallelizes at #buckets instead of splitting files — fine
        # for index-serving tables sized by their bucket count.
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
