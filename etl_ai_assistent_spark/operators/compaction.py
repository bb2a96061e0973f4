"""Sorted file compaction — the lakehouse table-maintenance operator.

A 100 TB table accumulates small, unordered files (streaming ingest,
per-batch appends). Compaction rewrites it as N range-partitioned,
key-sorted files whose parquet
footer min/max statistics have DISJOINT key ranges — so any engine's
zone-map / row-group skipping turns a key-range predicate into a
subset-of-files scan instead of a full-table scan.

Spark-first: fixed-width key buckets + one hash exchange keep the whole
rewrite distributed (no global sort barrier); the file count is the
explicit scale knob (files ~ table_bytes / target_file_size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def compact_fixed_width(df: DataFrame, path: str, key: str, n_files: int) -> None:
    """Rewrite `df` as key-clustered parquet files over EXPLICIT
    fixed-width key-range buckets (bucket = (key - min) div width)
    rather than repartitionByRange's sampled boundaries: the file →
    key-range mapping is a pure function of the data, so another engine
    can replay it exactly (the property the driver's oracle gate needs).

    Layout: one hash repartition on the bucket id co-locates each
    bucket in one task, and partitionBy splits task output by bucket
    value — exactly one file per non-empty bucket. The min/max scan is
    a 2-scalar aggregate (statistics-cheap on parquet)."""
    lo, hi = df.agg(F.min(key), F.max(key)).first()
    if lo is None or hi is None:
        raise ValueError(
            f"compact_fixed_width: input has no non-null {key!r} rows — "
            "nothing to bucket (empty DataFrame or all-null key)"
        )
    width = (int(hi) - int(lo)) // n_files + 1
    (
        df.withColumn(
            "bucket", F.expr(f"CAST(({key} - {int(lo)}) DIV {width} AS INT)")
        )
        .repartition(n_files, "bucket")
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def partitioned_zone_maps(path: str, key: str) -> list[tuple[int, int, int, int]]:
    """(bucket, zone_min, zone_max, n_rows) per bucket directory of a
    compact_fixed_width layout, read from parquet FOOTERS only — the
    zone map a stats-aware reader consults. Bounded by the file count
    (n_files), never the data. A bucket whose every row group lacks
    footer min/max statistics is SKIPPED (a stats-less file has no
    zone-map entry and can never be pruned) rather than emitted with
    None bounds."""
    import os

    import pyarrow.parquet as pq

    out = []
    for entry in sorted(os.listdir(path)):
        if not entry.startswith("bucket="):
            continue
        bucket = int(entry.split("=", 1)[1])
        lo = hi = None
        n = 0
        bdir = os.path.join(path, entry)
        for name in sorted(os.listdir(bdir)):
            if not name.endswith(".parquet"):
                continue
            pf = pq.ParquetFile(os.path.join(bdir, name))
            idx = [f.name for f in pf.schema_arrow].index(key)
            n += pf.metadata.num_rows
            for rg in range(pf.metadata.num_row_groups):
                st = pf.metadata.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    continue
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        if lo is None or hi is None:
            continue  # stats-less bucket: no zone-map entry (never prunable)
        out.append((bucket, lo, hi, n))
    return out
