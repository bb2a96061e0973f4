"""Scale-trend evidence: time headline queries at sf0.01 / sf0.1 / sf1.

The 100×-scale claims rest on plan shape (tests/test_plans.py) and
measured candidate ratios (tests/test_scale_evidence.py); this tool adds
the missing third leg (r7 verdict #3): MEASURED time-vs-sf slopes. It
builds an sf1-equivalent dataset by replicating the sf0.1 tables 10×
with per-replica key offsets (DuckDB, one-time, a fixture under the
store root with a marker file), then times a family-spanning subset of the headline
queries at all three scales and writes SCALE_TREND.json, committed
beside the bench artifact BENCH_LOCAL.json. bench.measure times every
point: the min of RUNS runs, the first as `cold_<sf>`, and per sf label
the runs' [min, mean, max], storm flags and the traced run's `layers`.

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

Usage: python tools/scale_trend.py [--sf10 | --sf100] [--only q_a,q_b,...]
(decade 1, ~10 min, unless a flag names a higher one). Rows and sf
labels a run does not time carry over in SCALE_TREND.json.
Must not run concurrently with another Spark session on this host.
"""

from __future__ import annotations

import functools
import json
import os
import sys
from typing import NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from etl_ai_assistent_spark.store import store_root  # noqa: E402

SRC = "/root/testdata/sf0.1"
SF001 = os.path.join(os.path.dirname(SRC), "sf0.01")
SCALE_ROOT = os.path.join(store_root(), "spark_graft_scale")
FIXTURE = os.path.join(SCALE_ROOT, "sf1_v1")
FIXTURE10 = os.path.join(SCALE_ROOT, "sf10_v1")
FIXTURE100 = os.path.join(SCALE_ROOT, "sf100_v1")
REPS = 10
RUNS = 3  # bench.py's default run count
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

# ratio key -> (numerator, denominator) sf labels. Linear plans land at
# ≤ ~10–12 for 10× rows (fixed per-query overhead amortizes away);
# anything well above has a named cause in FINDINGS or is a regression.
RATIOS = {
    "ratio_mid": ("0.1", "0.01"),
    "ratio_10x": ("1.0", "0.1"),
    "ratio_10x_decade2": ("10.0", "1.0"),
    "ratio_10x_decade3": ("100.0", "10.0"),
}

# bench.measure's per-query sections a row keeps, each keyed by sf label
SECTIONS = ("runs_min_mean_max", "runs_actual", "layers", "storm_telemetry",
            "storm_residual", "errors")

EXCLUDED = (
    "near-dup/semdedup/curation: replica texts are exact copies —"
    " candidate density inflates quadratically with replication"
    " (fixture pathology, not plan shape); their scale evidence is"
    " tests/test_scale_evidence.py's measured candidate fractions"
)


class Decade(NamedTuple):
    points: dict[str, str]  # sf label -> data dir; the last is the fixture
    replicas: int  # copies of the sf0.1 tables in the fixture
    tables: list[tuple[str, list[str]]]
    queries: list[str]
    shuffle: str | None  # AQE initialPartitionNum (FINDINGS shuffle_width)


# --sf10 and --sf100 time their fixture alone; its ratio is taken
# against the decade below's committed point.
DECADES = {
    1: Decade({"0.01": SF001, "0.1": SRC, "1.0": FIXTURE}, REPS, TABLES, TREND, None),
    2: Decade({"10.0": FIXTURE10}, 100, TABLES, TREND10, "256"),
    3: Decade({"100.0": FIXTURE100}, 1000, TABLES100, TREND100, "256"),
}


def build_fixture(d: Decade) -> None:
    """Replicate the sf0.1 tables d.replicas× into the decade's fixture
    dir, once (marker file)."""
    dst_dir = list(d.points.values())[-1]
    marker = os.path.join(dst_dir, "_SUCCESS")
    if os.path.exists(marker):
        return
    import duckdb

    os.makedirs(dst_dir, exist_ok=True)
    con = duckdb.connect()
    for table, keys in d.tables:
        src = os.path.join(SRC, f"{table}.parquet")
        dst = os.path.join(dst_dir, f"{table}.parquet")
        reps = d.replicas if keys else 1  # fixed-size dims: shared across replicas
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


def _record(row: dict, label: str, m: dict, name: str) -> None:
    """Store `name`'s point at `label` from bench.measure's result `m`:
    the min under the label, the first run under cold_<label>, and each
    of SECTIONS keyed by label. A failed query keeps only its error."""
    for key, section in ((label, "queries"), (f"cold_{label}", "cold")):
        row.pop(key, None)
        if name in m[section]:
            row[key] = m[section][name]
    for section in SECTIONS:
        by_label = row.pop(section, {})
        by_label.pop(label, None)
        if name in m[section]:
            by_label[label] = m[section][name]
        if by_label:
            row[section] = by_label


def run(decade: int, only: list[str] | None = None) -> None:
    """Time the decade's queries (or `only`) at each of its sf labels
    and merge the points into SCALE_TREND.json."""
    d = DECADES[decade]
    build_fixture(d)

    from etl_ai_assistent_spark.registry import queries
    from etl_ai_assistent_spark.session import get_spark

    # bench.py's stage retention, so the traced run's window fits
    spark = get_spark("scale-trend", driver_memory="64g",
                      extra_conf={"spark.ui.retainedStages": "2000"})
    if d.shuffle:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", d.shuffle)
    # schema sanity: the DuckDB-written fixture must read back with the
    # ORIGINAL Spark schema (TIMESTAMP_NTZ etc.) or timings measure a
    # different query
    fixture = list(d.points.values())[-1]
    for table, _ in d.tables:
        a, b = (
            [(f.name, f.dataType.simpleString())
             for f in spark.read.parquet(os.path.join(p, f"{table}.parquet")).schema]
            for p in (SRC, fixture)
        )
        assert a == b, f"{table}: fixture schema drifted: {a} vs {b}"
    # warm the JVM and parquet footers: the first point skips spin-up
    spark.read.parquet(os.path.join(fixture, "documents.parquet")).count()

    path = os.path.join(REPO, "SCALE_TREND.json")
    trend: dict = {}
    if os.path.exists(path):
        with open(path) as f:
            trend = json.load(f)
    rows = trend.setdefault("queries", {})
    qs = queries()
    names = only or d.queries
    for n in names:
        row = rows.setdefault(n, {})
        for label, sf_dir in d.points.items():
            m = bench.measure(spark, {n: functools.partial(qs[n], spark, sf_dir)}, RUNS)
            _record(row, label, m, n)
        for ratio, (num, den) in RATIOS.items():
            row.pop(ratio, None)
            if num in row and den in row:
                row[ratio] = round(row[num] / max(row[den], 1e-9), 2)
        # a decade-2 point kept across a decade-1 re-time may predate
        # the current code; re-timing decade 2 clears the stamp
        if "1.0" in d.points and "10.0" in row:
            row["decade2_carried_forward"] = True
        if "10.0" in d.points:
            row.pop("decade2_carried_forward", None)
        print(n, {k: v for k, v in row.items() if k not in SECTIONS}, flush=True)
    # lineitem rows per timed scale (the label names the scale: the
    # partial sf100 fixture holds no lineitem)
    labels = [label for dec in DECADES.values() for label in dec.points]
    trend.update(
        built_from=SRC, replicas=REPS, runs_per_point=RUNS, findings=FINDINGS,
        sf_rows_lineitem={
            label: round(float(label) * 6_000_000)
            for label in labels if any(label in r for r in rows.values())
        },
        excluded=EXCLUDED,
    )
    with open(path, "w") as f:
        json.dump(trend, f, indent=1)
    print("wrote SCALE_TREND.json", flush=True)
    spark.stop()


if __name__ == "__main__":
    only = None
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1].split(",")
    run(3 if "--sf100" in sys.argv else 2 if "--sf10" in sys.argv else 1, only)
