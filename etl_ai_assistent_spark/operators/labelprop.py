"""Synchronous label-propagation community detection (LPA), made
deterministic.

Classic LPA is notoriously nondeterministic (random update order,
random tie-breaks). This variant is fully specified so any engine
replays it bit-for-bit — the same determinism discipline as
operators/pagerank.py and operators/kmeans.py:

- SYNCHRONOUS rounds: every node updates from the round-(t-1) labels.
- New label = the most frequent label among NEIGHBORS (the node's own
  label does not vote); ties break on the SMALLEST label.
- A node with no neighbors keeps its label.
- Initial label = node id. Fixed iteration count (fixed-point loops
  would need a convergence collect; the unrolled form keeps the
  oracle replayable — q_kmeans_step's one-step-then-induction
  pattern).

The argmax-with-min-tie-break is the packed-bigint idiom:
p = (MAXC − count) · PACK + label, then min(p) — strictly decreasing
in count, increasing in label, so min(p) picks (max count, min label).

Shape: DIMENSION-BOUNDED graphs (node²-bounded edge sets, e.g. the
25-nation trade graph) are aggregated to ONE row of arrays and every
round runs as a row-local integer expression fold — the pagerank_fold
pattern; lineage stays flat because nothing iterates data-dependently.

Reference parity: graph-family extension beyond the reference's scope
(§2.8); the verified-iteration pattern follows queries/graph.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pagerank import fold_edges

LP_PACK = 1 << 20  # label < LP_PACK; count < LP_MAXC
LP_MAXC = 1 << 40


def label_propagation_fold(
    edges: DataFrame, nodes: DataFrame, iterations: int = 3
) -> DataFrame:
    """edges: (src, dst) DIRECTED rows of an undirected graph (both
    orientations present, no self-loops); nodes: (node). Returns
    (node, label) after `iterations` synchronous rounds, for
    DIMENSION-BOUNDED graphs: aggregate the graph to ONE row of arrays
    and run every round as a row-local integer expression fold (see
    operators/pagerank.pagerank_fold for the why: a distributed round
    is 1-2 blocking AQE stage barriers of pure scheduling latency over
    kilobytes; the fold replaces ~10 sequential barriers with ~4
    regardless of round count — guide §8 / §2.4).

    EXACTNESS (pinned by tests/test_pagerank_fold.py against a
    pure-Python replica of the rounds on seeded random graphs):
    - vote count for (v, L) = #incoming edges e (e.dst = v) whose src
      label is L; counts are order-independent, so collect_list order
      cannot affect values;
    - winner(v) = min over incoming edges of the packed bigint
      (LP_MAXC − cnt)·LP_PACK + label (duplicate labels give duplicate
      packed values; min over edges ≡ min over distinct labels) —
      integer min commutes;
    - a node with no incoming edges keeps its own id
      (array_min(empty) = NULL → coalesce(v)); output keys are exactly
      `nodes`, never edge-only dsts;
    - votes whose src ∉ nodes are dropped (NULL label lookups never
      equal anything and array_min skips NULL packed entries);
    - a label >= 2^20 would silently truncate through `% LP_PACK`, so
      every vote's label lookup goes through an in-plan raise_error
      (r6 ADVICE). A vote count is bounded by the collected edge
      array's length, an int32, so it never reaches LP_MAXC.
    At most FOLD_MAX_EDGES edges, enforced in the plan
    (pagerank.fold_edges): the vote count is O(|E|²) per node-round.
    """
    es = fold_edges(edges, "label_propagation_fold")
    ns = nodes.agg(
        F.collect_list(F.col("node").cast("bigint")).alias("ns")
    )
    row = ns.join(F.broadcast(es))
    row = row.withColumn(
        "lb", F.expr("transform(ns, v -> v)")
    )
    guard = (
        f"IF(element_at(lm, e.s) >= {LP_PACK}, CAST(raise_error("
        "'label_propagation: node id >= 2^20 overflows the packed-bigint"
        " argmax; re-id nodes densely first') AS BIGINT),"
        " element_at(lm, e.s))"
    )
    cnt = (
        "CAST(size(filter(es, e2 -> e2.d = v"
        " AND element_at(lm, e2.s) = element_at(lm, e.s))) AS BIGINT)"
    )
    upd = (
        "transform(ns, v -> coalesce("
        " array_min(transform(filter(es, e -> e.d = v),"
        f"  e -> (CAST({LP_MAXC} AS BIGINT) - {cnt}) * {LP_PACK} + {guard}))"
        f" % {LP_PACK}, v))"
    )
    for _ in range(iterations):
        row = row.withColumn("lm", F.expr("map_from_arrays(ns, lb)"))
        row = row.withColumn("lb", F.expr(upd))
    return row.select(
        F.explode(F.arrays_zip("ns", "lb")).alias("z")
    ).select(
        F.col("z.ns").alias("node"), F.col("z.lb").alias("label")
    )
