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

Scale per round: one edges⋈labels equi-join (labels side is
|nodes|-rows — broadcastable for dimension-sized graphs, shuffled
otherwise) + one partial-agg'd (node, label) count + one packed min
per node. k bounded shuffles total, the Pregel shape without a graph
engine; lineage stays flat because nothing iterates data-dependently.

Reference parity: graph-family extension beyond the reference's scope
(§2.8); the verified-iteration pattern follows queries/graph.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pagerank import fold_edges

LP_PACK = 1 << 20  # label < LP_PACK; count < LP_MAXC
LP_MAXC = 1 << 40


def label_propagation(
    edges: DataFrame, nodes: DataFrame, iterations: int = 3
) -> DataFrame:
    """edges: (src, dst) DIRECTED rows of an undirected graph (both
    orientations present, no self-loops); nodes: (node). Returns
    (node, label) after `iterations` synchronous rounds.

    PRECONDITION (r13 ADVICE): edge endpoints ⊆ nodes. The r13
    winners ∪ isolated round form keys winners by edge dst, so a dst
    outside `nodes` would appear in the output and an edge src outside
    `nodes` would silently lose its vote — the nation-graph caller
    satisfies closure by construction (FK endpoints), and
    label_propagation_fold below is closed over `nodes` by shape."""
    # Packed-bigint domain guards, enforced IN the plan (raise_error,
    # no extra driver action): a label >= LP_PACK or a vote count
    # >= LP_MAXC would silently truncate through `p % LP_PACK` —
    # corrupt results, not an error (r6 ADVICE). The guard runs on
    # every vote row at codegen speed and fails the job loudly instead.
    guarded_label = F.expr(
        f"CASE WHEN label >= {LP_PACK} THEN CAST(raise_error("
        f"'label_propagation: node id >= 2^20 overflows the packed-bigint"
        f" argmax; re-id nodes densely first') AS BIGINT) ELSE label END"
    )
    guarded_cnt = F.expr(
        f"CASE WHEN cnt >= {LP_MAXC}L THEN CAST(raise_error("
        f"'label_propagation: vote count >= 2^40 overflows the"
        f" packed-bigint argmax') AS BIGINT) ELSE cnt END"
    )
    # Single-reference rounds (r13): the r12 loop rebuilt labels as
    # labels LEFT JOIN winners + coalesce — referencing the previous
    # round's labels twice (vote join AND rebuild), which duplicates
    # the whole upstream lineage per reference and grows the analyzed
    # plan exponentially in rounds (118 Exchange nodes at 3 rounds;
    # planning dominated the wall clock — persist() deduplicates
    # execution, not planning). The coalesce fallback only ever fires
    # for ISOLATED nodes: the winner set each round is exactly the
    # nodes with >= 1 incoming edge (the vote join's src side always
    # covers every node), which is constant across rounds, and an
    # isolated node's label never changes from its initial node id. So
    # labels_{i+1} = winners_{i+1} ∪ isolated-initials — a disjoint
    # union computed from CONSTANT inputs, leaving exactly one
    # reference to labels_i per round. Bit-identical to the left-join
    # form; the plan grows linearly with `iterations`.
    labels = nodes.select("node", F.col("node").cast("bigint").alias("label"))
    isolated = (
        nodes.join(
            edges.select(F.col("dst").alias("node")).distinct(),
            "node",
            "left_anti",
        )
        .select("node", F.col("node").cast("bigint").alias("label"))
    )
    for _ in range(iterations):
        votes = (
            edges.join(labels, edges.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count("*").cast("bigint").alias("cnt"))
        )
        packed = votes.groupBy("node").agg(
            F.min(
                (F.lit(LP_MAXC) - guarded_cnt) * F.lit(LP_PACK)
                + guarded_label
            ).alias("p")
        )
        winners = packed.select(
            "node", F.expr(f"p % {LP_PACK}").cast("bigint").alias("label")
        )
        labels = winners.unionByName(isolated)
    return labels


def label_propagation_fold(
    edges: DataFrame, nodes: DataFrame, iterations: int = 3
) -> DataFrame:
    """label_propagation for DIMENSION-BOUNDED graphs (node²-bounded
    edge sets — the 25-nation trade graph): aggregate the graph to ONE
    row of arrays and run every synchronous round as a row-local
    integer expression fold, the pagerank_fold pattern (see
    operators/pagerank.py for the why: each distributed round is 1-2
    blocking AQE stage barriers of pure scheduling latency over
    kilobytes; the fold replaces ~10 sequential barriers with ~4
    regardless of round count — guide §8 / §2.4).

    EXACTNESS vs label_propagation (pinned by
    tests/test_pagerank_fold.py on random graphs):
    - vote count for (v, L) = #incoming edges e (e.dst = v) whose src
      label is L — the same count the distributed groupBy(node, label)
      computes; counts are order-independent, so collect_list order
      cannot affect values;
    - winner(v) = min over incoming edges of the SAME packed bigint
      (LP_MAXC − cnt)·LP_PACK + label (duplicate labels give duplicate
      packed values; min over edges ≡ min over distinct labels) —
      integer min commutes;
    - a node with no incoming edges keeps its own id
      (array_min(empty) = NULL → coalesce(v)), exactly the
      winners ∪ isolated-initials rule — and CLOSED over `nodes` (the
      r12 left-join semantics: output keys = nodes, never edge-only
      dsts), which resolves the r13 ADVICE domain-contract note for
      this form;
    - votes whose src ∉ nodes are dropped (NULL label lookups never
      equal anything and array_min skips NULL packed entries) — the
      distributed form's inner vote join did the same;
    - the label < 2^20 packed-domain guard is the same raise_error,
      applied to every vote's label lookup.
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
