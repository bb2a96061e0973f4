"""Snapshot retention / vacuum — the garbage-collection half of
copy-on-write snapshot maintenance (q_stream_cdc_merge writes immutable
snap_v{n} versions; without retention a 100 TB table's history grows
one full snapshot per commit, so vacuuming to the last N versions IS
the difference between bounded and unbounded storage).

Deliberately split in two:
- retention_plan() is PURE METADATA — versions, row counts from parquet
  FOOTERS only, keep/drop verdicts. This is what q_snapshot_retention
  gate-checks (row counts per version are a deterministic function of
  the change batches, so a DuckDB oracle replays them from the source
  table).
- vacuum() applies a plan by deleting dropped version directories —
  the destructive step, exercised only on throwaway copies in
  tests/test_retention.py, never on shared fixtures.

Time travel stays available for every kept version: a reader pins
snap_v{n}. Only _SUCCESS-committed versions participate (a crash-torn
directory is rewritten by its batch replay, not vacuumed mid-flight).
"""

from __future__ import annotations

import os
import shutil

PREFIX = "snap_v"


def snapshot_versions(root: str) -> list[tuple[int, int]]:
    """(version, n_rows) per committed snapshot under `root`, ascending.
    Row counts come from parquet footers only — O(files) metadata, no
    data pages."""
    import pyarrow.parquet as pq

    out = []
    for d in os.listdir(root):
        if not d.startswith(PREFIX):
            continue
        path = os.path.join(root, d)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            continue  # uncommitted/torn: owned by its replaying batch
        # recursive walk: MoR compaction (operators/mor.compact) writes
        # bucket=N/ subdirectories (partitionBy layout), so a flat
        # listdir would silently count 0 rows for compacted snapshots
        n = sum(
            pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
            for dirpath, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
        out.append((int(d[len(PREFIX):]), n))
    return sorted(out)


def retention_plan(
    versions: list[tuple[int, int]], keep_last: int
) -> list[tuple[int, int, bool]]:
    """(version, n_rows, kept): keep the newest `keep_last` committed
    versions, drop the rest. keep_last >= 1 — the live snapshot is
    never vacuumable."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1: {keep_last}")
    if not versions:
        return []
    cutoff = versions[-1][0] - keep_last
    return [(v, n, v > cutoff) for v, n in versions]


def vacuum(root: str, keep_last: int) -> list[int]:
    """Delete dropped version directories; returns the deleted version
    numbers. Destructive — run on owned state only."""
    plan = retention_plan(snapshot_versions(root), keep_last)
    deleted = []
    for version, _, kept in plan:
        if not kept:
            shutil.rmtree(os.path.join(root, f"{PREFIX}{version}"))
            deleted.append(version)
    return deleted
