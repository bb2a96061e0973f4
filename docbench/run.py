"""Run one docflow benchmark workload for one seed and print its metrics.

    python3 docbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with the keys `correct`, `attempted`,
`failed` and `metrics`. With `--trace 0` the metrics are the end-to-end
metrics of BENCHMARK.json, with `--trace 1` its per-layer metrics. The
exit code is 0 only when every output check passed.

Everything the run writes lives under `.docbench_work/` in the checkout
and is removed when the run ends.
"""

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

DRIVER_MEMORY = "2g"


def _env(work: Path) -> None:
    """Hermetic engine settings: every path under the run's work dir,
    workers importing the engine from the checkout, and 2 GB of driver
    heap, which the workloads fit in on a 15 GB host shared with other
    jobs (the engine's own bench asks for 64 GB)."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    (work / "tmp").mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=str(work / "local"),
        # every JVM, the launcher included: no /tmp/hsperfdata, temp files in work
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        TMPDIR=str(work / "tmp"),
    )


def start_session(work: Path):
    from etl_ai_assistent_spark.session import get_spark

    return get_spark(
        "docbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )


def warm_workers(spark) -> None:
    """Start the Python worker pool with one Arrow UDF task per core."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def _warm(s: pd.Series) -> pd.Series:
        return s * 1.0

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 20_000, numPartitions=n).select(_warm(F.col("id").cast("double"))).write.format(
        "noop").mode("overwrite").save()


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    daemon and its workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def new_application(spark, work: Path, store_root: Path):
    """Stop the current Spark application (if any) and start another in
    the same JVM, serving stores from `store_root`."""
    if spark is not None:
        spark.stop()
    os.environ["SPARK_GRAFT_STORE_ROOT"] = str(store_root)
    return start_session(work)


def set_up(wl, work: Path, traced: bool):
    """Start the session and set the workload up on a fresh store root.
    Returns the session, the set-up time and the set-up layer metrics."""
    from docbench import trace as T

    tracer = T.Tracer(traced)
    t0 = time.perf_counter()
    spark = new_application(None, work, work / "store")
    try:
        t1 = time.perf_counter()
        if wl.uses_python_workers:
            warm_workers(spark)
        t2 = time.perf_counter()
        wl.setup(spark, tracer)
        setup_s = time.perf_counter() - t0
    except BaseException:
        stop_session(spark)
        raise
    tracer.counters.update({"session.start_s": t1 - t0, "session.worker_warm_s": t2 - t1})
    return spark, setup_s, tracer.counters


def medians(rows: list[dict[str, float]]) -> dict[str, float]:
    """Per key, the median over `rows`; a row without the key counts 0."""
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}


def run_passes(spark, wl, seconds: float, traced: bool):
    from docbench import trace as T

    results = []
    t0 = time.perf_counter()
    while not results or time.perf_counter() - t0 < seconds:
        tracer = T.Tracer(traced)
        res = wl.run_pass(spark, tracer)
        if traced:
            n, mb = T.pinned_cache(spark)
            res.layers.update({"cache.pinned_rdds": n, "cache.pinned_mb": mb})
        results.append(res)
    return results, time.perf_counter() - t0


def percentile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-th percentile: a mean of all order
    statistics weighted by a Beta(p(n+1), (1-p)(n+1)) density. In the
    small samples of one run it is steadier than a single order statistic,
    and it does not jump from one request path's latency band to the next
    when the percentile falls in the gap between them."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=np.float64))
    n, p = len(x), q / 100
    if n == 1:
        return float(x[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = (np.arange(100_000) + 0.5) / 100_000  # midpoints: the density may be infinite at 0 or 1
    cdf = np.concatenate([[0.0], np.cumsum(t ** (a - 1) * (1 - t) ** (b - 1))])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, np.linspace(0, 1, len(cdf)), cdf))
    return float(weights @ x)


def run(workload: str, seed: int, seconds: float, traced: bool, work: Path) -> dict:
    from docbench import trace as T
    from docbench.workloads import WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wl = WORKLOADS[workload]()
    wl.generate(seed, str(work))  # not part of set-up time

    spark, setup_s, setup_layers = set_up(wl, work, traced)
    once = T.Tracer(traced)  # layers measured once per run
    try:
        T.reset_peak_rss(os.getpid())
        if traced:
            plain, _ = run_passes(spark, wl, seconds / 2, False)
            results, elapsed = run_passes(spark, wl, seconds / 2, True)
        else:
            plain = []
            results, elapsed = run_passes(spark, wl, seconds, False)
        peak_rss = T.peak_rss_bytes(os.getpid())
        check = wl.check(spark, plain + results)
        if traced and hasattr(wl, "once_layers"):
            attempted, failed = wl.once_layers(spark, once)
            check.attempted += attempted
            check.failed += failed
        if traced and hasattr(wl, "adopt"):
            # a second application adopts the stores the set-up built
            spark = new_application(spark, work, work / "store")
            wl.adopt(spark, once)
    finally:
        stop_session(spark)

    pass_s = statistics.median(r.seconds for r in results)
    if traced:
        layers = medians([r.layers for r in results])
        layers.update(setup_layers)
        layers.update(once.counters)
        layers.update(check.layers)
        layers.update({
            "trace.pass_s": pass_s,
            "trace.untraced_pass_s": statistics.median(r.seconds for r in plain),
        })
        # latency per request kind, from the untraced passes
        by_kind: dict[str, list[float]] = {}
        for r in plain:
            for kind, ms in zip(r.kinds, r.latencies_ms):
                by_kind.setdefault(kind, []).append(ms)
        layers.update({f"{kind}.p50_ms": percentile(ms, 50) for kind, ms in by_kind.items()})
        layers["trace.overhead_s"] = layers["trace.pass_s"] - layers["trace.untraced_pass_s"]
        declared = spec["per_layer"]
        values = {m["name"]: float(layers.get(m["name"], 0.0)) for m in declared}
    else:
        lat = [x for r in results for x in r.latencies_ms]
        values = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "ops_per_s": sum(r.ops for r in results) / elapsed,
            "op_p50_ms": percentile(lat, 50),
            "op_p90_ms": percentile(lat, 90),
            "peak_rss_mb": peak_rss / 2**20,
            "recall": check.recall,
        }
        declared = spec["end_to_end"]
    return {
        "correct": check.failed == 0,
        "attempted": check.attempted,
        "failed": check.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "etl_ai_assistent_spark" / "__init__.py").is_file():
        print(f"docbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from docbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"docbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.chdir(ROOT)
    work = ROOT / ".docbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _env(work)
    # Spark and its JVM may write to stdout; keep it for the result line
    result_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        sys.stdout.flush()
        shutil.rmtree(work, ignore_errors=True)
    with os.fdopen(result_fd, "w") as out:
        out.write(json.dumps(result) + "\n")
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
