"""Spark-side determinism sweep: execute every registered Spark query
TWICE (fresh plan each run) and hash-compare the canonicalized results.

The DuckDB twin is tools/oracle_stability.py; this closes the other
half of the README's double-run claim as a committed, reproducible tool
(ADVICE r8). Run-to-run instability on the Spark side would mean a
query's result depends on partitioning/scheduling (e.g. a float fold
order, a non-unique sort feeding row_number, first()/any_value over
unordered input) — exactly the class of bug that makes a 1000-executor
run differ from local[32]. Each run builds the plan from scratch
(clearCache between), so cached blocks can't mask lineage
nondeterminism.

Usage: python tools/spark_stability.py [sf_dir]   (default sf0.01)
Must not run concurrently with another Spark session on this host.
"""

from __future__ import annotations

import hashlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sys.path.insert(0, REPO)
    from etl_ai_assistent_spark.parity import _canon
    from etl_ai_assistent_spark.registry import queries
    from etl_ai_assistent_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("spark-stability")
    qs = queries()
    unstable, errors = [], []
    for name in sorted(qs):
        try:
            hashes = []
            for _ in range(2):
                pdf = _canon(qs[name](spark, sf).toPandas())
                hashes.append(
                    hashlib.md5(
                        pdf.to_csv(index=False).encode()
                    ).hexdigest()
                )
                spark.catalog.clearCache()
            ok = hashes[0] == hashes[1]
            print(f"[{'OK' if ok else 'UNSTABLE'}] {name}", flush=True)
            if not ok:
                unstable.append(name)
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            print(f"[ERR] {name}: {exc}", flush=True)
            errors.append(name)
    print(
        f"\n{len(qs) - len(unstable) - len(errors)} stable, "
        f"{len(unstable)} unstable {unstable}, "
        f"{len(errors)} errored {errors}",
        flush=True,
    )
    spark.stop()
    if unstable or errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
