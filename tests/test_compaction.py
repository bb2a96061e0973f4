"""Evidence for fixed-width compaction: disjoint per-bucket key ranges in
the parquet footers, and a key-range predicate pruning to a strict subset
of files via those stats (the zone-map skipping the rewrite buys)."""

from __future__ import annotations

from etl_ai_assistent_spark import io
from etl_ai_assistent_spark.operators.compaction import (
    compact_fixed_width,
    partitioned_zone_maps,
)

N_FILES = 8


def _overlapping(zones, lo, hi):
    """The skip decision a stats-aware reader applies: buckets whose
    [min, max] intersects [lo, hi]."""
    return [b for b, mn, mx, _ in zones if not (mx < lo or mn > hi)]


def test_compact_fixed_width_one_file_per_bucket(spark, sf_small, tmp_path):
    """Explicit fixed-width buckets, exactly one file per non-empty
    bucket, zone maps equal to data extents, and a half-bucket probe
    prunes to one file."""
    orders = io.load_table(spark, sf_small, "orders")
    out = str(tmp_path / "orders_fixed")
    compact_fixed_width(orders, out, key="o_orderkey", n_files=N_FILES)

    zones = partitioned_zone_maps(out, "o_orderkey")
    assert 0 < len(zones) <= N_FILES
    # disjoint, bucket-ordered extents
    ordered = sorted(zones)
    for (_, _, prev_hi, _), (_, nxt_lo, _, _) in zip(ordered, ordered[1:]):
        assert prev_hi < nxt_lo
    # lossless: per-bucket footer row counts sum to the table
    assert sum(n for *_, n in zones) == orders.count()
    # zone extents equal true data extents per bucket width
    lo = orders.agg({"o_orderkey": "min"}).first()[0]
    hi = orders.agg({"o_orderkey": "max"}).first()[0]
    width = (hi - lo) // N_FILES + 1
    for bucket, zmin, zmax, _ in zones:
        assert (zmin - lo) // width == bucket
        assert (zmax - lo) // width == bucket
    # a half-bucket probe prunes to exactly one file
    assert len(_overlapping(zones, lo, lo + width // 2)) == 1


def test_zone_map_helpers_tolerate_missing_stats(tmp_path):
    """ADVICE round-4: a stats-less bucket must not crash the zone-map
    reader; it gets no zone-map entry, so it is never pruned."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    for bucket, stats in ((0, False), (1, True)):
        d = tmp_path / f"bucket={bucket}"
        os.makedirs(d)
        pq.write_table(
            pa.table({"k": [10 * bucket + 1, 10 * bucket + 3]}),
            str(d / "f.parquet"),
            write_statistics=stats,
        )
    assert partitioned_zone_maps(str(tmp_path), "k") == [(1, 11, 13, 2)]
