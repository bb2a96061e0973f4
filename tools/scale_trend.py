"""Scale-trend evidence: time headline queries at sf0.01 / sf0.1 / sf1.

The 100×-scale claims rest on plan shape (tests/test_plans.py) and
measured candidate ratios (tests/test_scale_evidence.py); this tool adds
the missing third leg (r7 verdict #3): MEASURED time-vs-sf slopes. It
builds an sf1-equivalent dataset by replicating the sf0.1 tables 10×
with per-replica key offsets (DuckDB, one-time, a fixture under the
store root with a marker file), then times a family-spanning subset of the headline
queries at all three scales and writes SCALE_TREND.json, committed
beside the bench artifact BENCH_LOCAL.json.

Replication preserves per-entity cardinality (orders per customer,
events per user, text per doc): every key column gets +rep·STRIDE, so
joins stay within-replica and group sizes don't inflate. Fixed dims
(region/nation) are shared across replicas, exactly like TPC-H scaling.

Exclusions (documented, not silent): near-dup/semantic-dedup queries
are NOT in the trend set — replica texts/vectors are exact copies, so
near-dup candidate density inflates QUADRATICALLY with replication (10
identical copies = 45 extra true pairs each), which measures the
fixture's pathology, not the plan. Their scale evidence is the measured
candidate-fraction tests. q_curation_pipeline embeds semdedup; same
exclusion.

Usage: python tools/scale_trend.py   (writes SCALE_TREND.json; ~10 min)
Must not run concurrently with another Spark session on this host.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_ai_assistent_spark.store import store_root  # noqa: E402

SRC = "/root/testdata/sf0.1"
SCALE_ROOT = os.path.join(store_root(), "spark_graft_scale")
FIXTURE = os.path.join(SCALE_ROOT, "sf1_v1")
FIXTURE10 = os.path.join(SCALE_ROOT, "sf10_v1")
REPS = 10
STRIDE = 10_000_000  # > every key's max at sf0.1 (100 reps stay < 1e9)

# (table, [key columns to offset per replica])
TABLES = [
    ("region", []),
    ("nation", []),
    ("customer", ["c_custkey"]),
    ("supplier", ["s_suppkey"]),
    ("part", ["p_partkey"]),
    ("orders", ["o_orderkey", "o_custkey"]),
    ("lineitem", ["l_orderkey", "l_partkey", "l_suppkey"]),
    ("events", ["event_id", "user_id"]),
    ("documents", ["doc_id"]),
    ("embeddings", ["vec_id"]),
]

# Named-cause findings for trend ratios, written into SCALE_TREND.json
# on every rewrite so the evidence travels with the numbers (r9 ADVICE:
# carried-forward points and classified causes must be visible).
FINDINGS = {
    "shuffle_width": (
        "decade-1 points ran at the local default shuffle width (32,"
        " AQE-coalesced); decade-2 (sf10) points ran with"
        " initialPartitionNum=256 the way a cluster submit scales"
        " shuffle width with data — at 32 static partitions the sf10"
        " posting shuffles SPILL (q_rag_fusion 240 s vs 91 s recorded;"
        " 79 s min observed), which is a local-harness width artifact,"
        " not a plan shape issue"
    ),
    "q_rag_fusion_decade2": (
        "the r9 12.92x decade-2 ratio was NAMED by the r10 sf10"
        " profile: 73.7 s of the 91 s timed run was the PER-APP posting"
        " index build (corpus tokenize+hash+count) while the sf1 point"
        " served CacheManager-warm — an index-cold vs index-warm pair,"
        " not plan superlinearity. r10 moved the posting table to the"
        " on-disk store (queries/rag.doc_tf_table, audited by"
        " q_posting_index_build); both decades now serve off the store"
        " and the build cost lives in INDEX_COLD"
    ),
    "posting_store_bucket_key": (
        "the first posting-store cut bucketed by tok_h so BM25's"
        " document-frequency pass would run exchange-free — but tok_h"
        " is Zipf-skewed and low-cardinality, and exchange-free also"
        " means AQE-skew-split-free: the pass ran as 16 skew-stuck"
        " tasks (q_bm25_retrieval 1.6 s sf0.1 -> 24.5 s sf1, 15x for"
        " 10x; q_rag_fusion 194 s sf10). Re-bucketed by uniform"
        " high-cardinality doc_id (store _v2): bm25 24.5 -> 6.6 s at"
        " sf1. Rule: pick bucket keys by the key's DISTRIBUTION, not"
        " by which aggregation one wants exchange-free"
    ),
    "kcore_edge_carry_experiment": (
        "carrying the pruned edge set forward between k-core rounds"
        " (persist per round, each round joining the previous round's"
        " surviving subgraph) measured 7.3 s -> 26 s COLD at sf0.1 -"
        " per-round persist materialization beats the shrinking-input"
        " win at this graph size, so the full-sym re-join with a"
        " broadcast alive side stays (decade-2 ratio 0.85, already"
        " sub-linear: round count dominates, not edge volume). Rule:"
        " a theoretically-smaller input does not pay for a new"
        " materialization boundary unless the shrink is large"
    ),
    "relational_decade2_drift_r11": (
        "r10 verdict #7 asked for a named cause for q_pricing_summary"
        " 7.25 / q_revenue_by_nation 6.27 / q_exact_dedup 6.32 decade-2"
        " ratios drifting up vs their r9 recordings (~2-4). The r11"
        " isolated re-measure NAMED it: hypervisor co-tenant"
        " interference on the round's host, not plan shape. Evidence:"
        " (a) during storms the same sf10 decimal aggregations ran 15-"
        "20x slower (q_pricing_summary 134 s vs 8.7 s recorded r10)"
        " with 85-99% KERNEL time, 13.7% steal time, and 430-500 ms"
        " young GC pauses (jstat: 10x normal), while the decimal-free"
        " q_exact_dedup reproduced its r10 number (5.8 vs 4.3 s);"
        " (b) in a quiet window minutes later the identical sf1 plans"
        " ran q_pricing_summary 2.93 s / q_revenue_by_nation 1.91 s /"
        " q_exact_dedup 0.99 s — consistent with the r9/r10 era;"
        " (c) the storm punishes allocation-heavy paths hardest"
        " (high-precision DECIMAL sums compile to BigDecimal once the"
        " sum precision exceeds 18 digits; long-arithmetic twins of"
        " the same aggregation measured 2.5x faster warm and degrade"
        " far less under the storm). Cross-round decade-2 ratio"
        " comparisons are therefore host-noise-bounded for"
        " decimal-heavy queries; the committed points carry whatever"
        " the host gave with this finding as context"
    ),
    "decimal_agg_eliminated_r12": (
        "r12 CLOSED the relational_decade2_drift story with a root"
        " cause and a fix, superseding the pure-host-noise reading:"
        " controlled A/B at sf10 in back-to-back windows measured the"
        " decimal chain (sum over decimal(22-32,·) products) at"
        " 112-365 s with 87-91% KERNEL time while the IDENTICAL double"
        " sums ran 0.7-0.9 s and an exact bigint-unit twin ran 5-8 s —"
        " i.e. the >18-digit-precision decimal aggregation path ITSELF"
        " generates the allocation/GC churn that amplifies scheduler"
        " noise 30-70x; quiet windows only shrink, never remove, the"
        " penalty. q_pricing_summary and q_revenue_by_nation now use"
        " _exact_unit_sums (bigint unit partial sums per (group,"
        " partition) — overflow-bounded by partition SIZE, so safe at"
        " any corpus scale — folded exactly via a bucket-count-sized"
        " decimal(38,0) sum), verified bit-identical to the decimal"
        " path and to the DuckDB oracle at sf0.001-0.1 and sf1/sf10."
        " Measured: q_pricing_summary sf10 67.3-72.6 s (quiet, both"
        " r11 and r12 windows) -> 2.95 s; decade-2 ratio 52.3 -> 1.40."
        " q_revenue_by_nation sf10 21.0 s is UNCHANGED by the rewrite:"
        " its cost is the 6-way join exchange, scaling ~linearly"
        " (ratio 9.4 against a fixed-overhead-inflated sf1 point)."
        " Rule: never carry >18-digit decimal through a hot aggregate;"
        " sum exact integer units per partition and widen once"
    ),
    "d3_build_parallelism": (
        "the sf100 trigram store build ran as only 10 tasks on 32"
        " cores: the 1000-replica fixture is ONE ~450 MB parquet file"
        " and scan parallelism is bounded by its input splits"
        " (maxPartitionBytes), so the once-per-corpus tokenization"
        " underused the host ~3x. Production corpora are many files"
        " and do not hit this; if a single-file corpus ever matters,"
        " the build side needs an explicit post-scan repartition —"
        " left unchanged here because touching the store WRITER bumps"
        " the layout version and forces fleet-wide rebuilds for a"
        " fixture-only effect"
    ),
    "q_token_stats_decade2": (
        "the r9 12.13x decade-2 ratio did not reproduce under the r10"
        " isolated profile: scan-only is footer-trivial at both"
        " decades, the regexp map dominates (bpe-regex 0.77 s sf1 ->"
        " 6.66 s sf10, 8.6x), full query 1.74 s -> 15.2 s = 8.8x —"
        " LINEAR. The recorded 12.13x was host contention on a pure"
        " codegen map scan (no shuffle to spill); re-measured points"
        " below supersede it"
    ),
}

# Family-spanning, replication-honest trend set (see module docstring
# for what's excluded and why).
TREND = [
    "q_pricing_summary",  # full-scan hash agg
    "q_revenue_by_nation",  # star join, dim broadcasts
    "q_top_orders_per_customer",  # per-group top-k window
    "q_sessionize",  # event-time gap windows per user
    "q_asof_purchase_signup",  # as-of join
    "q_exact_dedup",  # hash-keyed exact dedup
    "q_token_stats",  # text profiling scan
    "q_bm25_retrieval",  # posting-list retrieval, constant probe set
    "q_rag_fusion",  # hybrid ranker fusion off the shared index
    "q_trigram_search",  # materialized posting-index serving
    "q_trigram_multi_search",  # batched multi-needle serving off the same store
    "q_sequence_pack",  # token-window packing
    "q_kcore_prune",  # iterated bounded-round graph pruning
    "q_rag_rerank",  # two-stage cascade off the shared posting index
    "q_ivf_topk",  # IVF ANN serving (nprobe cell pruning; run 1 builds)
    "q_pq_adc_topk",  # PQ ADC serving (run 1 trains the codebooks)
    # r10 additions: the LSM segment merge over the posting store (the
    # compaction read path — delta cohort is 1/10 of docs at every
    # replication, tok_h output domain is vocabulary-constant) and the
    # stream-static feature-store lookup (profile store joined per
    # micro-batch; state is event_type-bounded)
    "q_posting_delta_merge",
    "q_stream_profile_lookup",
    # r10: streaming ANN serving off the stored codes (4 triggers of
    # per-batch ADC; the store build is the ladder's, not this query's)
    "q_stream_ann_lookup",
    # r10: DSIR selection (vocab-sized LM tables, two token shuffles —
    # replication-honest: the cohort split is proportional at any scale)
    "q_importance_resample",
]

SF_DIRS = {
    "0.01": "/root/testdata/sf0.01",
    "0.1": SRC,
    "1.0": FIXTURE,
}

# The second decade up (sf10-equivalent, 100 replicas — 60M lineitem /
# 10M events / 500k docs / 200k vectors): a scan/retrieval/serving
# subset, timed with --sf10 after the base trend exists. Two measured
# decades is the strongest locally-collectable answer to "would this
# plan survive 100×".
TREND10 = [
    "q_pricing_summary",
    "q_revenue_by_nation",
    "q_sessionize",
    "q_exact_dedup",
    "q_token_stats",
    "q_bm25_retrieval",
    "q_trigram_search",
    # r10 (verdict #7): the batched-needle twin — both trigram serving
    # queries get store-served decade-2 points
    "q_trigram_multi_search",
    "q_sequence_pack",
    "q_ivf_topk",
    "q_pq_adc_topk",
    # r9 (r8 verdict #4): the retrieval/join/graph five that stopped at
    # decade 1 — fusion/rerank off the shared posting index, per-group
    # top-k window, as-of join, iterated k-core pruning
    "q_rag_fusion",
    "q_rag_rerank",
    "q_top_orders_per_customer",
    "q_asof_purchase_signup",
    "q_kcore_prune",
    # r10: the serving-store additions get decade-2 points from day one
    "q_posting_delta_merge",
    "q_stream_profile_lookup",
    "q_stream_ann_lookup",
    "q_importance_resample",
]


def build_fixture(
    dst_dir: str = FIXTURE, reps: int = REPS, tables=None
) -> None:
    marker = os.path.join(dst_dir, "_SUCCESS")
    if os.path.exists(marker):
        return
    import duckdb

    os.makedirs(dst_dir, exist_ok=True)
    con = duckdb.connect()
    for table, keys in tables if tables is not None else TABLES:
        src = os.path.join(SRC, f"{table}.parquet")
        dst = os.path.join(dst_dir, f"{table}.parquet")
        if not keys:  # fixed-size dims: shared across replicas
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}'))"
                f" TO '{dst}' (FORMAT PARQUET)"
            )
            continue
        rel = con.sql(f"SELECT * FROM read_parquet('{src}') LIMIT 0")
        cols = ", ".join(
            f"(t.{c} + r.rep * {STRIDE})::BIGINT AS {c}" if c in keys else f"t.{c}"
            for c in rel.columns
        )
        con.execute(
            f"COPY (SELECT {cols}"
            f" FROM read_parquet('{src}') t"
            f" CROSS JOIN (SELECT unnest(range({reps})) AS rep) r)"
            f" TO '{dst}' (FORMAT PARQUET)"
        )
    con.close()
    open(marker, "w").write("ok\n")


def run_sf10(only: list[str] | None = None) -> None:
    """Append the 100×-of-sf0.1 point to an existing SCALE_TREND.json.
    `only` restricts to a subset of TREND10 (e.g. newly added queries)
    so existing measured points aren't re-timed."""
    path = os.path.join(REPO, "SCALE_TREND.json")
    with open(path) as f:
        trend = json.load(f)
    build_fixture(FIXTURE10, reps=100)

    from etl_ai_assistent_spark.registry import queries
    from etl_ai_assistent_spark.session import get_spark

    # shuffle width scales with the data, as a cluster submit would:
    # 256 initial partitions keeps the 60M-row posting/join shuffles
    # from spilling through the local 32-wide default (measured:
    # q_rag_fusion 240 s → 79 s, restoring exact linearity)
    spark = get_spark(
        "scale-trend-sf10",
        driver_memory="64g",
        extra_conf={
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256"
        },
    )
    # same warmup as bench.py: JVM + parquet footers + python workers,
    # so the first trend query doesn't absorb session spin-up
    spark.read.parquet(os.path.join(FIXTURE10, "region.parquet")).count()
    qs = queries()
    runs = int(os.environ.get("SPARK_GRAFT_TREND_RUNS", "2"))
    for name in only if only else TREND10:
        row = trend["queries"].setdefault(name, {})
        ts = []
        for _ in range(runs):
            t0 = time.perf_counter()
            qs[name](spark, FIXTURE10).write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(time.perf_counter() - t0)
        row["10.0"] = round(min(ts), 3)
        if "1.0" in row:
            row["ratio_10x_decade2"] = round(
                row["10.0"] / max(row["1.0"], 1e-9), 2
            )
        # freshly measured at the current code — clear any carry-over
        # staleness stamp main() may have set (ADVICE r9)
        row.pop("decade2_carried_forward", None)
        spark.catalog.clearCache()
        print(name, row, flush=True)
    trend["sf_rows_lineitem"]["10.0"] = 60_000_000
    trend["findings"] = FINDINGS
    with open(path, "w") as f:
        json.dump(trend, f, indent=1)
    print("appended sf10 points to SCALE_TREND.json", flush=True)
    spark.stop()


FIXTURE100 = os.path.join(SCALE_ROOT, "sf100_v1")

# The THIRD decade (sf100-equivalent: 1000 replicas of sf0.1 — 2M
# vectors / 5M documents; the 600M-lineitem scale point, r10 verdict
# #8). Only the serving ladder runs here — the headline scale claim is
# that SERVING stays flat while data grows, and three decades of
# store-served evidence is the strongest local answer. The fixture is
# PARTIAL by design: these queries touch only the two corpus tables,
# and replicating the relational facts 1000× would cost ~20 GB of the store
# root for no additional evidence.
TREND100 = [
    "q_pq_adc_topk",  # PQ ADC serving off the stored codes
    "q_trigram_search",  # posting-index serving off the trigram store
    "q_stream_ann_lookup",  # streaming ANN serving off the stored codes
]
TABLES100 = [("documents", ["doc_id"]), ("embeddings", ["vec_id"])]


def run_sf100(only: list[str] | None = None) -> None:
    """Append the 1000×-of-sf0.1 serving point to SCALE_TREND.json.
    Run 1 of each query pays the once-per-corpus store build (ANN
    codebooks/codes, trigram postings) — recorded separately as
    `cold_100.0` so the build-vs-serve split at this scale is evidence
    too; the timed point is the warm store-served run."""
    path = os.path.join(REPO, "SCALE_TREND.json")
    with open(path) as f:
        trend = json.load(f)
    build_fixture(FIXTURE100, reps=1000, tables=TABLES100)

    from etl_ai_assistent_spark.registry import queries
    from etl_ai_assistent_spark.session import get_spark

    spark = get_spark(
        "scale-trend-sf100",
        driver_memory="64g",
        extra_conf={
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256"
        },
    )
    spark.read.parquet(os.path.join(FIXTURE100, "documents.parquet")).count()
    qs = queries()
    runs = int(os.environ.get("SPARK_GRAFT_TREND_RUNS", "2"))
    for name in only if only else TREND100:
        row = trend["queries"].setdefault(name, {})
        ts = []
        for i in range(runs + 1):  # +1: run 0 pays the store build
            t0 = time.perf_counter()
            qs[name](spark, FIXTURE100).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            if i == 0:
                row["cold_100.0"] = round(dt, 3)
            else:
                ts.append(dt)
        row["100.0"] = round(min(ts), 3)
        if "10.0" in row:
            row["ratio_10x_decade3"] = round(
                row["100.0"] / max(row["10.0"], 1e-9), 2
            )
        spark.catalog.clearCache()
        print(name, row, flush=True)
    trend.setdefault("sf_rows_lineitem", {})["100.0"] = 600_000_000
    trend["d3_fixture"] = (
        "partial by design: 1000 replicas of documents+embeddings only"
        " (2M vectors / 5M docs, the sf100-equivalent corpus); the"
        " serving queries measured at this decade touch no other table"
    )
    trend["findings"] = FINDINGS
    with open(path, "w") as f:
        json.dump(trend, f, indent=1)
    print("appended sf100 points to SCALE_TREND.json", flush=True)
    spark.stop()


def main(only: list[str] | None = None) -> None:
    build_fixture()

    from etl_ai_assistent_spark.registry import queries
    from etl_ai_assistent_spark.session import get_spark

    spark = get_spark("scale-trend", driver_memory="64g")
    # schema sanity: the DuckDB-written fixture must read back with the
    # ORIGINAL Spark schema (TIMESTAMP_NTZ etc.) or timings measure a
    # different query
    for table, _ in TABLES:
        a = spark.read.parquet(os.path.join(SRC, f"{table}.parquet")).schema
        b = spark.read.parquet(os.path.join(FIXTURE, f"{table}.parquet")).schema
        assert [
            (f.name, f.dataType.simpleString()) for f in a
        ] == [
            (f.name, f.dataType.simpleString()) for f in b
        ], f"{table}: fixture schema drifted: {a} vs {b}"

    qs = queries()
    runs = int(os.environ.get("SPARK_GRAFT_TREND_RUNS", "2"))
    # keep previously measured decade-2 points: re-running decade 1
    # must not silently drop the sf10 evidence
    prior: dict[str, dict] = {}
    trend_path = os.path.join(REPO, "SCALE_TREND.json")
    if os.path.exists(trend_path):
        with open(trend_path) as f:
            prior = json.load(f).get("queries", {})
    # --only re-measures a subset (e.g. after a plan rewrite) without
    # re-timing — or dropping — the rest; untouched queries carry over
    result: dict[str, dict] = {n: dict(r) for n, r in prior.items()} if only else {}
    for name in only if only else TREND:
        row: dict[str, float] = {}
        for sf_label, sf_dir in SF_DIRS.items():
            ts = []
            for _ in range(runs):
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                ts.append(time.perf_counter() - t0)
            row[sf_label] = round(min(ts), 3)
            spark.catalog.clearCache()
        # the headline ratio: 10× rows from sf0.1 → sf1. Linear plans
        # land ≤ ~10–12 (fixed per-query overhead amortizes away);
        # anything well above has a named cause or is a regression.
        row["ratio_10x"] = round(row["1.0"] / max(row["0.1"], 1e-9), 2)
        row["ratio_mid"] = round(row["0.1"] / max(row["0.01"], 1e-9), 2)
        old = prior.get(name, {})
        if "10.0" in old:
            # decade-2 points are expensive (run_sf10) and re-used
            # across decade-1 refreshes — stamp the carry-over so a
            # reader can tell the sf10 timing may predate the current
            # code (ADVICE r9; run_sf10 clears the flag on re-measure)
            row["10.0"] = old["10.0"]
            row["ratio_10x_decade2"] = round(
                row["10.0"] / max(row["1.0"], 1e-9), 2
            )
            row["decade2_carried_forward"] = True
        result[name] = row
        print(name, row, flush=True)

    out = {
        "built_from": SRC,
        "replicas": REPS,
        "runs_per_point": runs,
        "findings": FINDINGS,
        "sf_rows_lineitem": (
            {"0.01": 60_000, "0.1": 600_000, "1.0": 6_000_000, "10.0": 60_000_000}
            if any("10.0" in r for r in result.values())
            else {"0.01": 60_000, "0.1": 600_000, "1.0": 6_000_000}
        ),
        "excluded": (
            "near-dup/semdedup/curation: replica texts are exact copies —"
            " candidate density inflates quadratically with replication"
            " (fixture pathology, not plan shape); their scale evidence is"
            " tests/test_scale_evidence.py's measured candidate fractions"
        ),
        "queries": result,
    }
    with open(os.path.join(REPO, "SCALE_TREND.json"), "w") as f:
        json.dump(out, f, indent=1)
    print("wrote SCALE_TREND.json", flush=True)
    spark.stop()


if __name__ == "__main__":
    only = None
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1].split(",")
    if "--sf100" in sys.argv:
        run_sf100(only)
    elif "--sf10" in sys.argv:
        run_sf10(only)
    else:
        main(only)
