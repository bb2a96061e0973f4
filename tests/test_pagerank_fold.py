"""Fold-form exactness for the dimension-bounded graph recurrences:
pagerank_fold and label_propagation_fold must agree bit-for-bit, on
every (node, value) pair, with pure-Python replicas of the integer
recurrences, for any graph within the folds' documented precondition
(edge endpoints ⊆ nodes — the closure contract both query callers
satisfy by construction: nation-key FKs on both endpoints).

Random graphs are generated with a FIXED seed (deterministic tests),
several shapes: dense, sparse, with isolated nodes, with dangling
nodes (no out-edges), self-loops, and single-direction edges (for
pagerank; LPA callers always pass symmetric edge sets but the operator
contract only needs directed rows)."""

from __future__ import annotations

import random
from collections import Counter

from pyspark.sql import functions as F

from etl_ai_assistent_spark.operators.labelprop import label_propagation_fold
from etl_ai_assistent_spark.operators.pagerank import (
    D_DEN,
    D_NUM,
    FOLD_MAX_EDGES,
    SCALE,
    pagerank_fold,
)


def _graph(spark, n_nodes: int, edges: list[tuple[int, int]]):
    nodes = spark.range(0, n_nodes).select(F.col("id").alias("node"))
    if edges:
        e = spark.createDataFrame(edges, "src bigint, dst bigint")
    else:
        e = spark.range(0).select(
            F.col("id").alias("src"), F.col("id").alias("dst")
        )
    return e, nodes


def _rand_edges(rng, n_nodes: int, n_edges: int) -> list[tuple[int, int]]:
    seen = set()
    while len(seen) < n_edges:
        seen.add((rng.randrange(n_nodes), rng.randrange(n_nodes)))
    return sorted(seen)


def _pagerank_replica(n_nodes, edges, iterations):
    """The integer ppb PageRank recurrence: r0 = SCALE div n; each round
    r'(v) = (15·SCALE) div (100·n) + (D_NUM · Σ_{(s, v)} r(s) div
    out_deg(s)) div D_DEN."""
    n = n_nodes
    base = (15 * SCALE) // (100 * n)
    deg = Counter(s for s, _ in edges)
    r = {v: SCALE // n for v in range(n)}
    for _ in range(iterations):
        contrib = Counter()
        for s, d in edges:
            contrib[d] += r[s] // deg[s]
        r = {v: base + (D_NUM * contrib[v]) // D_DEN for v in range(n)}
    return sorted(r.items())


def _lpa_replica(n_nodes, edges, iterations):
    """Synchronous LPA: each node takes its in-neighbors' most frequent
    round-(t-1) label, ties to the smallest; no in-edges keeps it."""
    lb = {v: v for v in range(n_nodes)}
    for _ in range(iterations):
        new = {}
        for v in range(n_nodes):
            votes = Counter(lb[s] for s, d in edges if d == v)
            new[v] = min(votes, key=lambda L: (-votes[L], L)) if votes else v
        lb = new
    return sorted(lb.items())


def test_pagerank_fold_matches_int_random_graphs(spark):
    rng = random.Random(20260818)
    for n_nodes, n_edges in [(6, 12), (12, 40), (25, 200), (10, 3)]:
        pairs = _rand_edges(rng, n_nodes, n_edges)
        edges, nodes = _graph(spark, n_nodes, pairs)
        a = _pagerank_replica(n_nodes, pairs, 4)
        b = sorted(map(tuple, pagerank_fold(edges, nodes, 4).collect()))
        assert a == b, f"pagerank fold/replica divergence at n={n_nodes}"


def test_pagerank_fold_isolated_and_dangling(spark):
    # node 4 isolated (no edges at all); node 3 dangling (in-edges only;
    # its own mass leaks); self-loop on 0
    pairs = [(0, 0), (0, 1), (1, 2), (2, 3), (1, 3)]
    edges, nodes = _graph(spark, 5, pairs)
    a = _pagerank_replica(5, pairs, 5)
    b = sorted(map(tuple, pagerank_fold(edges, nodes, 5).collect()))
    assert a == b


def _sym(pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    return sorted({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})


def test_lpa_fold_matches_replica_random_graphs(spark):
    rng = random.Random(20260818)
    for n_nodes, n_pairs in [(8, 10), (14, 30), (25, 120)]:
        pairs = [
            (a, b)
            for a, b in _rand_edges(rng, n_nodes, n_pairs)
            if a != b
        ]
        edges, nodes = _graph(spark, n_nodes, _sym(pairs))
        a = _lpa_replica(n_nodes, _sym(pairs), 3)
        b = sorted(
            map(tuple, label_propagation_fold(edges, nodes, 3).collect())
        )
        assert a == b, f"LPA fold/replica divergence at n={n_nodes}"


def test_lpa_fold_two_cliques_and_isolated(spark):
    clique = lambda ns: [(a, b) for a in ns for b in ns if a < b]  # noqa: E731
    pairs = clique([0, 1, 2, 3]) + clique([10, 11, 12, 13]) + [(3, 10)]
    edges, nodes = _graph(spark, 14, _sym(pairs))
    out = {
        r["node"]: r["label"]
        for r in label_propagation_fold(edges, nodes, 4).collect()
    }
    assert len({out[n] for n in (0, 1, 2, 3)}) == 1
    assert len({out[n] for n in (10, 11, 12, 13)}) == 1
    for n in range(4, 10):  # isolated nodes keep their own label
        assert out[n] == n


def test_lpa_fold_packed_domain_guard_fires(spark):
    """The label < 2^20 guard must raise in the fold form too. (The
    count < 2^40 guard cannot fire in the fold: a vote count is bounded
    by the collected edge array's length, an int32.)"""
    import pytest

    big = 1 << 21
    edges = spark.createDataFrame(
        [(big, 0), (0, big)], "src bigint, dst bigint"
    )
    nodes = spark.createDataFrame([(0,), (big,)], "node bigint")
    with pytest.raises(Exception, match="packed-bigint"):
        label_propagation_fold(edges, nodes, 2).collect()


def _grid_edges(spark, n_edges: int):
    """n_edges distinct (src, dst) rows over 100-wide node ids."""
    return spark.range(n_edges).select(
        (F.col("id") % 100).alias("src"),
        (F.col("id") / 100).cast("bigint").alias("dst"),
    )


def test_folds_reject_edge_sets_over_the_bound(spark):
    import pytest
    from pyspark.errors import SparkRuntimeException

    edges = _grid_edges(spark, FOLD_MAX_EDGES + 1)
    nodes = spark.range(100).select(F.col("id").alias("node"))
    over = f"{FOLD_MAX_EDGES + 1} edges exceed FOLD_MAX_EDGES = {FOLD_MAX_EDGES}"
    with pytest.raises(SparkRuntimeException, match=f"pagerank_fold: {over}"):
        pagerank_fold(edges, nodes, 1).collect()
    with pytest.raises(
        SparkRuntimeException, match=f"label_propagation_fold: {over}"
    ):
        label_propagation_fold(edges, nodes, 1).collect()


def test_pagerank_fold_accepts_edge_set_at_the_bound(spark):
    edges = _grid_edges(spark, FOLD_MAX_EDGES)
    nodes = spark.range(100).select(F.col("id").alias("node"))
    pairs = [(i % 100, i // 100) for i in range(FOLD_MAX_EDGES)]
    a = _pagerank_replica(100, pairs, 1)
    b = sorted(map(tuple, pagerank_fold(edges, nodes, 1).collect()))
    assert a == b
