"""Property-based laws for the snapshot-maintenance family, checked
against an independent pure-Python reference model on randomized CDC
workloads (hypothesis). The example counts are small — every example
runs real Spark jobs — but the generators cover the corners the fixture
batches never hit: repeated keys across batches, group moves, deletes
of missing keys, upsert fallthroughs, null measure-like values.

Laws:
  merge:        merge_apply == model apply          (any one-batch feed)
  mor:          resolve(base, log) == fold(merge)   (any multi-batch log)
  diff:         merge(v0, diff(v0, v1)) == v1       (any two snapshots)
  incremental:  maintain(agg, ch) == agg(merge)     (any one-batch feed)
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_ai_assistent_spark.operators import mor as MOR
from etl_ai_assistent_spark.operators.incremental import incremental_group_sums
from etl_ai_assistent_spark.operators.merge import merge_apply, snapshot_diff

KEYS = st.integers(min_value=0, max_value=9)
GROUPS = st.sampled_from(["g0", "g1", "g2"])
VALS = st.integers(min_value=-50, max_value=50)

# base snapshot: unique keys
BASE = st.dictionaries(KEYS, st.tuples(GROUPS, VALS), max_size=8)


def _batch(draw):
    """One CDC batch: at most one change per key (the merge precondition)."""
    d = draw(
        st.dictionaries(
            KEYS, st.tuples(st.sampled_from("IUD"), GROUPS, VALS), max_size=6
        )
    )
    return [(k, op, g, v) for k, (op, g, v) in d.items()]


@st.composite
def batches(draw, max_batches=3):
    return [_batch(draw) for _ in range(draw(st.integers(1, max_batches)))]


def _model_apply(snapshot: dict, batch: list) -> dict:
    out = dict(snapshot)
    for k, op, g, v in batch:
        if op == "D":
            out.pop(k, None)
        else:  # I, or U (upsert fallthrough when missing)
            out[k] = (g, v)
    return out


def _df_snapshot(spark, snap: dict):
    rows = [(k, g, v) for k, (g, v) in snap.items()] or None
    return spark.createDataFrame(rows or [], "k int, g string, v int")


def _df_batch(spark, batch: list):
    return spark.createDataFrame(
        batch or [], "k int, op string, g string, v int"
    ).select("k", "op", "g", "v")


def _as_set(df):
    return {tuple(r) for r in df.collect()}


_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(base=BASE, log=batches())
@_SETTINGS
def test_merge_fold_and_mor_resolve_match_model(spark, base, log):
    base_df = _df_snapshot(spark, base)
    expect = dict(base)
    cow = base_df
    log_df = None
    for seq, batch in enumerate(log, start=1):
        expect = _model_apply(expect, batch)
        b_df = _df_batch(spark, batch)
        cow = merge_apply(cow, b_df, key="k")
        stamped = MOR.stamp_batch(b_df, seq)
        log_df = stamped if log_df is None else log_df.unionByName(stamped)

    want = {(k, g, v) for k, (g, v) in expect.items()}
    assert _as_set(cow) == want
    assert _as_set(MOR.resolve(base_df, log_df, key="k")) == want


@given(v0=BASE, v1=BASE)
@_SETTINGS
def test_diff_then_merge_reconstructs_any_snapshot(spark, v0, v1):
    d0, d1 = _df_snapshot(spark, v0), _df_snapshot(spark, v1)
    ch = snapshot_diff(d0, d1, key="k")
    rebuilt = merge_apply(d0, ch, key="k")
    assert _as_set(rebuilt) == {(k, g, v) for k, (g, v) in v1.items()}
    # and the diff is minimal: identical keys emit no change row
    same = {k for k in v0 if v0.get(k) == v1.get(k)}
    assert not same & {r["k"] for r in ch.collect()}


@given(base=BASE, log=batches(max_batches=1))
@_SETTINGS
def test_incremental_agg_matches_recompute(spark, base, log):
    batch = log[0]
    base_df = _df_snapshot(spark, base)
    agg = base_df.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("sum_measure"),
    )
    maintained = incremental_group_sums(
        agg, base_df, _df_batch(spark, batch), key="k", group_col="g",
        measure_col="v",
    )
    merged = _model_apply(dict(base), batch)
    expect: dict = {}
    for _, (g, v) in merged.items():
        n, s = expect.get(g, (0, 0))
        expect[g] = (n + 1, s + v)
    assert _as_set(maintained) == {(g, n, s) for g, (n, s) in expect.items()}


# --- layout/retention family laws (r6 verdict #8) ---------------------------
#
#   mor+vacuum: resolve after any interleaved compact+vacuum == model fold
#   zorder:     scanned-file union is lossless for random bands, and the
#               z-layout dominates a 1-D sort on second-dimension bands


@given(base=BASE, log=batches(max_batches=4), data=st.data())
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_mor_compaction_interleaved_vacuum_preserves_reads(
    spark, tmp_path, base, log, data
):
    """Compacting the MoR log into a new snapshot version at a random
    point, then vacuuming history to a random keep_last, must not
    change what a reader sees: the final resolved view still equals the
    pure-Python fold of every batch over the original base, the live
    snapshot is never vacuumed, and footer row counts match the view."""
    import os
    import tempfile

    from etl_ai_assistent_spark.operators import retention as RET

    root = tempfile.mkdtemp(dir=str(tmp_path))
    _df_snapshot(spark, base).write.mode("overwrite").parquet(
        os.path.join(root, "snap_v0")
    )
    current = spark.read.parquet(os.path.join(root, "snap_v0")).select(
        "k", "g", "v"
    )
    compact_at = data.draw(
        st.integers(min_value=1, max_value=len(log)), label="compact_at"
    )
    keep_last = data.draw(st.integers(min_value=1, max_value=2), label="keep_last")

    expect = dict(base)
    log_df = None
    for seq, batch in enumerate(log, start=1):
        expect = _model_apply(expect, batch)
        stamped = MOR.stamp_batch(_df_batch(spark, batch), seq)
        log_df = stamped if log_df is None else log_df.unionByName(stamped)
        if seq == compact_at:
            resolved_n = MOR.resolve(current, log_df, key="k").count()
            if resolved_n == 0:
                continue  # an empty table is not compactable (by design)
            snap = os.path.join(root, f"snap_v{seq}")
            MOR.compact(current, log_df, key="k", out_path=snap)
            current = spark.read.parquet(snap).select("k", "g", "v")
            log_df = None
            deleted = RET.vacuum(root, keep_last)
            versions = RET.snapshot_versions(root)
            # the live snapshot survives any keep_last >= 1
            assert seq not in deleted
            assert versions and versions[-1][0] == seq
            # recursive footer counts see through the bucket= layout
            assert versions[-1][1] == resolved_n
            # exactly the newest keep_last committed versions remain
            assert len(versions) <= keep_last

    final = MOR.resolve(current, log_df, key="k") if log_df is not None else current
    assert _as_set(final) == {(k, g, v) for k, (g, v) in expect.items()}


_Z_SIDE = 1024  # 10-bit coordinate domain
_Z_FILES = 16
_Z_CACHE: dict = {}


def _z_layouts(spark, tmp_path):
    """Build both layouts ONCE per test run (hypothesis then draws only
    band predicates — pure footer-metadata work per example): 4096
    seeded-uniform points written (a) sorted by a single encoded key,
    (b) z-ordered on (a, b); per-file row sets read back once so the
    lossless-scan law is checked in plain Python per example."""
    if _Z_CACHE:
        return _Z_CACHE
    import os
    import random

    import duckdb

    from etl_ai_assistent_spark.operators import zorder as ZO
    from etl_ai_assistent_spark.operators.compaction import (
        compact_fixed_width,
        partitioned_zone_maps,
    )

    rnd = random.Random(7)
    pts = [
        (rnd.randrange(_Z_SIDE), rnd.randrange(_Z_SIDE)) for _ in range(4096)
    ]
    df = spark.createDataFrame(pts, "a bigint, b bigint")
    sorted_dir = str(tmp_path / "sorted_a")
    z_dir = str(tmp_path / "zorder")
    compact_fixed_width(
        df.withColumn("ab", F.col("a") * _Z_SIDE + F.col("b")),
        sorted_dir,
        key="ab",
        n_files=_Z_FILES,
    )
    ZO.write_zordered(df, z_dir, "a", "b", n_files=_Z_FILES, bits=10)

    def rows_by_bucket(root):
        out = {}
        for d in os.listdir(root):
            if not d.startswith("bucket="):
                continue
            bkt = int(d.split("=", 1)[1])
            rel = duckdb.sql(
                f"SELECT a, b FROM read_parquet('{root}/{d}/*.parquet')"
            ).fetchall()
            out[bkt] = [(int(a), int(b)) for a, b in rel]
        return out

    _Z_CACHE.update(
        pts=pts,
        files={"sorted": rows_by_bucket(sorted_dir), "z": rows_by_bucket(z_dir)},
        zones={
            (layout, dim): partitioned_zone_maps(root, dim)
            for layout, root in (("sorted", sorted_dir), ("z", z_dir))
            for dim in ("a", "b")
        },
    )
    return _Z_CACHE


@given(data=st.data())
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_zorder_pruning_lossless_and_dominates_1d_sort(spark, tmp_path, data):
    """For ANY band predicate on either dimension: (1) reading only the
    zone-map-scanned files returns every matching row — pruning is
    lossless on both layouts; (2) on second-dimension (b) bands the
    z-order layout scans at most as many files as the 1-D sort — which,
    on uniform data, scans everything — and strictly prunes; (3) on
    first-dimension (a) bands the z-layout still prunes. The example-
    based half of this evidence lives in test_zorder.py on a grid; here
    the distribution is random and the band adversarial (hypothesis)."""
    L = _z_layouts(spark, tmp_path)
    lo = data.draw(st.integers(0, _Z_SIDE - _Z_SIDE // 8), label="lo")
    hi = lo + data.draw(
        st.integers(_Z_SIDE // 8, _Z_SIDE // 4), label="width"
    )
    scanned_counts = {}
    for layout in ("sorted", "z"):
        for di, dim in enumerate(("a", "b")):
            zones = L["zones"][(layout, dim)]
            scanned = [
                bkt for bkt, mn, mx, _ in zones if not (mx < lo or mn > hi)
            ]
            scanned_counts[(layout, dim)] = len(scanned)
            got = {
                pt
                for bkt in scanned
                for pt in L["files"][layout][bkt]
                if lo <= pt[di] <= hi
            }
            want = {pt for pt in L["pts"] if lo <= pt[di] <= hi}
            assert got == want
    n_files = len(L["files"]["z"])
    # (2) dominance on the b band + strict pruning for the z layout
    assert scanned_counts[("z", "b")] <= scanned_counts[("sorted", "b")]
    assert scanned_counts[("z", "b")] < n_files
    # (3) the z layout also prunes a-bands (the 1-D sort's home turf)
    assert scanned_counts[("z", "a")] < n_files


# --- join-view delta law (operators/incremental.delta_join) ----------------

_ROW_A = st.tuples(st.integers(0, 3), st.integers(0, 2))  # (key, payload_a)
_ROW_B = st.tuples(st.integers(0, 3), st.integers(0, 2))  # (key, payload_b)
_W = st.integers(min_value=-2, max_value=2).filter(lambda w: w != 0)


def _zjoin_model(a: dict, b: dict) -> dict:
    """Pure-Python Z-relation join: weights multiply, zeros drop."""
    out: dict = {}
    for (ka, pa), wa in a.items():
        for (kb, pb), wb in b.items():
            if ka == kb:
                row = (ka, pa, pb)
                out[row] = out.get(row, 0) + wa * wb
    return {r: w for r, w in out.items() if w != 0}


def _zapply_model(rel: dict, delta: dict) -> dict:
    out = dict(rel)
    for r, w in delta.items():
        out[r] = out.get(r, 0) + w
    return {r: w for r, w in out.items() if w != 0}


@given(
    a=st.sets(_ROW_A, max_size=6),
    b=st.sets(_ROW_B, max_size=6),
    da=st.dictionaries(_ROW_A, _W, max_size=4),
    db=st.dictionaries(_ROW_B, _W, max_size=4),
)
@_SETTINGS
def test_delta_join_bilinearity(spark, a, b, da, db):
    """The IVM identity behind q_delta_join_view, on arbitrary
    Z-relations: applying delta_join's signed delta to the old join
    view equals re-joining the post-change sides — including retracts
    of rows that were never present (negative weights must flow through
    the algebra, not be clamped)."""
    from etl_ai_assistent_spark.operators.incremental import (
        apply_delta,
        delta_join,
    )

    a_df = spark.createDataFrame(
        [(k, p) for k, p in a] or [], "k int, pa int"
    )
    b_df = spark.createDataFrame(
        [(k, p) for k, p in b] or [], "k int, pb int"
    )
    da_df = spark.createDataFrame(
        [(k, p, w) for (k, p), w in da.items()] or [],
        "k int, pa int, _w bigint",
    )
    db_df = spark.createDataFrame(
        [(k, p, w) for (k, p), w in db.items()] or [],
        "k int, pb int, _w bigint",
    )
    view0 = (
        a_df.join(b_df, "k")
        .groupBy("k", "pa", "pb")
        .agg(F.count("*").cast("bigint").alias("_w"))
    )
    dv = delta_join(a_df, da_df, b_df, db_df, key="k")
    got = {
        (r["k"], r["pa"], r["pb"]): r["_w"]
        for r in apply_delta(view0, dv).collect()
    }

    a_z = {r: 1 for r in a}
    b_z = {r: 1 for r in b}
    want = _zjoin_model(_zapply_model(a_z, da), _zapply_model(b_z, db))
    assert got == want


# --- reciprocal rank fusion: rank-only fusion matches the pure model --------

# per probe: a subset of docs each ranker saw, as a permutation order
_DOCS = st.lists(
    st.integers(min_value=0, max_value=14), unique=True, min_size=0, max_size=6
)


@given(docs_a=_DOCS, docs_b=_DOCS)
@_SETTINGS
def test_rrf_fusion_matches_model_and_ignores_scores(spark, docs_a, docs_b):
    """rrf_fuse == the pure-Python RRF model on arbitrary rankings,
    and (the law that makes RRF what it is) the result is a function
    of RANKS ONLY — any score column a ranker carries never enters."""
    from etl_ai_assistent_spark.queries.rag import RRF_K, RRF_SCALE, rrf_fuse

    a_rows = [(0, d, r + 1) for r, d in enumerate(docs_a)]
    b_rows = [(0, d, r + 1) for r, d in enumerate(docs_b)]
    a = spark.createDataFrame(
        a_rows or [], "probe_id bigint, doc_id bigint, a_rank int"
    )
    b = spark.createDataFrame(
        b_rows or [], "probe_id bigint, doc_id bigint, b_rank int"
    )
    got = {
        (r["doc_id"], r["rank"], r["fused_score"])
        for r in rrf_fuse(a, b).collect()
    }

    ra = {d: r + 1 for r, d in enumerate(docs_a)}
    rb = {d: r + 1 for r, d in enumerate(docs_b)}
    fused = {
        d: (RRF_SCALE // (RRF_K + ra[d]) if d in ra else 0)
        + (RRF_SCALE // (RRF_K + rb[d]) if d in rb else 0)
        for d in set(ra) | set(rb)
    }
    order = sorted(fused, key=lambda d: (-fused[d], d))
    want = {(d, i + 1, fused[d]) for i, d in enumerate(order)}
    assert got == want


# --- cross-document spans: planted spans are found, unique text is clean ----

@given(
    lens=st.lists(st.integers(min_value=8, max_value=20), min_size=3, max_size=6),
    plant_at=st.integers(min_value=0, max_value=5),
    data=st.data(),
)
@_SETTINGS
def test_shared_span_stats_finds_planted_spans_only(spark, lens, plant_at, data):
    """Documents built from per-document-unique vocabularies share no
    span by construction; planting one 8-token span verbatim into two
    of them makes exactly those two report n_shared >= 1 with
    max_partners == 2, and everyone else stays at zero."""
    from etl_ai_assistent_spark.operators.dedup import shared_span_stats

    k = 8
    i, j = sorted(
        data.draw(
            st.lists(
                st.integers(0, len(lens) - 1), min_size=2, max_size=2, unique=True
            )
        )
    )
    plant = " ".join(f"planted{t}" for t in range(k))
    rows = []
    for d, n in enumerate(lens):
        toks = [f"d{d}w{t}" for t in range(n)]
        if d in (i, j):
            pos = min(plant_at, len(toks))
            toks = toks[:pos] + plant.split() + toks[pos:]
        rows.append((d, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in shared_span_stats(docs, k).collect()}

    for d in range(len(lens)):
        if d in (i, j):
            assert got[d]["n_shared"] >= 1, got[d]
            assert got[d]["max_partners"] == 2, got[d]
            assert 0 < got[d]["shared_ppm"] <= 1_000_000
        else:
            assert got[d]["n_shared"] == 0 and got[d]["max_partners"] == 0


# --- prefix-filter joins: lossless on arbitrary corpora ----------------------

# documents over a tiny vocabulary so random corpora collide heavily
# (shared shingles everywhere — the regime where a broken prefix bound
# would actually drop pairs)
_VOCAB = [f"w{i}" for i in range(6)]
_RANDOM_DOC = st.lists(
    st.sampled_from(_VOCAB), min_size=0, max_size=12
).map(" ".join)
_RANDOM_CORPUS = st.lists(_RANDOM_DOC, min_size=2, max_size=10)
_TAU = st.sampled_from([(1, 2), (2, 3), (7, 10), (9, 10)])


def _sh3(text: str) -> frozenset:
    toks = text.lower().split()
    return frozenset(
        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
    )


@given(corpus=_RANDOM_CORPUS, tau=_TAU)
@_SETTINGS
def test_jaccard_prefix_join_lossless_on_random_corpora(spark, corpus, tau):
    """EVERY pair with shingle Jaccard >= tau is returned, for random
    high-collision corpora and several thresholds — the published
    AllPairs bound executed as a law, with the brute-force quadratic
    as the model."""
    from itertools import combinations

    from etl_ai_assistent_spark.operators.dedup import jaccard_prefix_pairs

    num, den = tau
    rows = list(enumerate(corpus))
    docs = spark.createDataFrame(rows, "id bigint, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jacc_ppm"]
        for r in jaccard_prefix_pairs(docs, num, den).collect()
    }
    sh = {i: _sh3(t) for i, t in rows if _sh3(t)}
    want = {}
    for (ia, sa), (ib, sb) in combinations(sorted(sh.items()), 2):
        inter, union = len(sa & sb), len(sa | sb)
        if inter * den >= num * union:
            want[(ia, ib)] = 1_000_000 * inter // union
    assert got == want
