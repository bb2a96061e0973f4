"""Fixed-point integer PageRank (iterative graph analytics; 100 TB
posture; sibling of operators/components.py connected components).

Classic PageRank is float-heavy and ORDER-SENSITIVE (sums of neighbor
contributions), which a bit-exact cross-engine gate can't tolerate.
This variant runs entirely in 64-bit integer fixed point (ranks in
parts-per-billion of total mass): contributions are ``rank div
out_degree`` and the damping update is ``base + (85 * sum) div 100`` —
every operation is integer, so the result is bit-identical on any
engine and any partitioning/summation order. The truncation each step
loses < 1 ppb per edge — irrelevant at ranking granularity and, unlike
float error, EXACTLY reproducible.

Shape: the operator serves DIMENSION-BOUNDED graphs (node²-bounded
edge sets, e.g. the 25-nation trade graph). It aggregates the graph to
ONE row of arrays and runs every damped round as a row-local integer
expression fold — no per-round shuffle or stage barrier. The edge-set
bound is enforced in the plan (fold_edges).

Dangling nodes (no out-edges) leak their mass — deterministic on both
engines, documented; self-loops are kept as ordinary edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000  # rank unit: ppb of total mass
# Largest edge array the one-row folds accept. The nation graph has at
# most 625 edges; label_propagation_fold counts votes in O(|E|²) per
# node-round on one executor thread, so a larger graph fails loudly in
# the plan instead of hanging a task.
FOLD_MAX_EDGES = 4096
D_NUM, D_DEN = 85, 100  # damping 0.85 as an integer ratio


def fold_edges(edges: DataFrame, op: str) -> DataFrame:
    """The (src, dst) edge set as ONE row: es = array of (s, d) bigint
    structs. The folds' size precondition is enforced in the plan: an
    edge set larger than FOLD_MAX_EDGES fails the job with
    "<op>: <n> edges exceed FOLD_MAX_EDGES" instead of running the
    fold's quadratic inner loops on one executor thread."""
    es = edges.agg(
        F.collect_list(
            F.struct(
                F.col("src").cast("bigint").alias("s"),
                F.col("dst").cast("bigint").alias("d"),
            )
        ).alias("es")
    )
    return es.select(
        F.expr(
            f"IF(size(es) > {FOLD_MAX_EDGES}, raise_error(concat('{op}: ',"
            f" size(es), ' edges exceed FOLD_MAX_EDGES = {FOLD_MAX_EDGES}')),"
            " es)"
        ).alias("es")
    )


def pagerank_fold(
    edges: DataFrame, nodes: DataFrame, iterations: int = 5
) -> DataFrame:
    """(src, dst) distinct edges + (node) vertex set -> (node, rank_ppb)
    after `iterations` damped fixed-point rounds, for DIMENSION-BOUNDED
    graphs: aggregate the graph to ONE row of arrays and run every
    round as a row-local integer expression fold.

    Why: a distributed round shape (edges ⋈ ranks, groupBy(dst) sum)
    pays one shuffle + one-or-two broadcast materializations per round
    — with AQE each is a blocking stage barrier, so a 5-round loop over
    kilobytes of data costs ~15 sequential stage launches of pure
    scheduling latency (measured r13: q_pagerank_nations 3.0 s warm at
    BOTH 8 and 32 cores while the warm run read only 56 KB). The fold
    runs the whole recurrence in one projection over one row: two
    single-row aggregates + one tiny join, ~4 barriers total regardless
    of round count (guide §8: decide with small rows; §2.4: remove
    shuffles outright).

    EXACTNESS (pinned by tests/test_pagerank_fold.py against a
    pure-Python replica of the recurrence on seeded random graphs):
    every operation is 64-bit integer arithmetic —
    - n = size(ns), base = (15·SCALE) div (100·n), r0 = SCALE div n;
    - out_deg(v) = #edges with src = v;
    - contrib(v) = Σ over edges e with e.dst = v of r[e.src] div
      out_deg[e.src]: bigint sums commute, so any collect_list order
      gives the identical total;
    - edges whose src ∉ nodes contribute nothing (element_at(rm, e.s)
      is NULL for such src and the IF's NULL-guard contributes 0).
    No driver action at all: n lives in the plan. At most
    FOLD_MAX_EDGES edges, enforced in the plan (fold_edges)."""
    es = fold_edges(edges, "pagerank_fold")
    ns = nodes.agg(
        F.collect_list(F.col("node").cast("bigint")).alias("ns")
    )
    row = ns.join(F.broadcast(es))
    # out-degree map over the node set; srcs outside `ns` resolve to
    # NULL lookups below and contribute nothing
    row = row.withColumn(
        "dm",
        F.expr(
            "map_from_arrays(ns, transform(ns, v ->"
            " CAST(size(filter(es, e -> e.s = v)) AS BIGINT)))"
        ),
    )
    row = row.withColumn(
        "rk",
        F.expr(
            f"transform(ns, v -> CAST({SCALE} AS BIGINT)"
            " div CAST(size(ns) AS BIGINT))"
        ),
    )
    upd = (
        "transform(ns, v -> CAST("
        f" (15 * CAST({SCALE} AS BIGINT)) div (100 * CAST(size(ns) AS BIGINT))"
        f" + ({D_NUM} * aggregate(es, CAST(0 AS BIGINT), (acc, e) ->"
        "     acc + IF(e.d = v AND element_at(rm, e.s) IS NOT NULL,"
        "              element_at(rm, e.s) div element_at(dm, e.s),"
        f"              CAST(0 AS BIGINT)))) div {D_DEN}"
        " AS BIGINT))"
    )
    for _ in range(iterations):
        row = row.withColumn("rm", F.expr("map_from_arrays(ns, rk)"))
        row = row.withColumn("rk", F.expr(upd))
    return row.select(
        F.explode(F.arrays_zip("ns", "rk")).alias("z")
    ).select(
        F.col("z.ns").alias("node"), F.col("z.rk").alias("rank_ppb")
    )
