"""Graph-analytics queries (iterative algorithms beyond the dedup
connected components in queries/dedup.py). The verified algorithm is
integer fixed-point PageRank (operators/pagerank.py) over the
nation-level trade graph; the oracle replays the identical integer
recurrence as unrolled CTEs, so every iteration is bit-checked, not
just the final ranking."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import io
from ..operators.pagerank import pagerank_fold
from ..registry import register
from ..substrates import cached_substrates

PR_ITERS = 5


def _trade_dir_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct directed nation trade edge set (src = customer
    nation, dst = supplier nation), as THE shared graph substrate:
    q_pagerank_nations, q_label_propagation, and q_triangle_count all
    start from this IDENTICAL 4-way fact-table projection + distinct.
    r14 (guide §2.4/§6 build-once-serve-many): before, each query's own
    substrate re-ran the lineitem⋈orders⋈customer⋈supplier pass on its
    first call (~2-3 s each at sf0.1, 3× per fresh process, recorded
    under bench cold); now the fact-table pass is paid ONCE and the
    per-query substrates (lpa_sym, tri_edges) derive from these ≤625
    cached rows. Value-identical by construction — the three queries'
    edge CTEs in their oracles are textually the same derivation."""
    li = io.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = io.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = io.load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = io.load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    edges_raw = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .distinct()
    )

    return cached_substrates(
        "trade_dir_edges", spark, sf_dir, lambda: edges_raw
    )


_PR_EDGES = """
edges AS (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
),
nodes AS (SELECT n_nationkey AS node FROM nation),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg FROM edges GROUP BY 1),
r0 AS (
  SELECT node, CAST(1000000000 AS BIGINT) // (SELECT n FROM nn) AS r FROM nodes
)
"""


def _pr_iter_cte(i: int) -> str:
    prev = f"r{i - 1}"
    return f"""
r{i} AS (
  SELECT n.node,
         CAST((15 * CAST(1000000000 AS BIGINT)) // (100 * (SELECT n FROM nn))
              + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS r
  FROM nodes n
  LEFT JOIN (
    SELECT e.dst AS node, CAST(sum(p.r // d.out_deg) AS BIGINT) AS contrib
    FROM edges e
    JOIN {prev} p ON e.src = p.node
    JOIN deg d ON e.src = d.src
    GROUP BY 1
  ) c ON n.node = c.node
)"""


_PR_ORACLE = (
    "WITH "
    + _PR_EDGES
    + ","
    + ",".join(_pr_iter_cte(i) for i in range(1, PR_ITERS + 1))
    + f"""
SELECT nat.n_name, rk.r AS rank_ppb,
       CAST(row_number() OVER (ORDER BY rk.r DESC, nat.n_name) AS INT) AS pos
FROM r{PR_ITERS} rk JOIN nation nat ON rk.node = nat.n_nationkey
"""
)


@register("q_pagerank_nations", oracle=_PR_ORACLE)
def q_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation trade graph (edge src→dst = a customer
    in nation src bought from a supplier in nation dst), 5 damped
    iterations in 64-bit ppb fixed point — bit-identical to the oracle's
    unrolled integer CTEs because every step is integer division and
    integer sums (no float order sensitivity anywhere). The distributed
    work is the 4-way fact-table edge derivation; the rank recurrence
    itself runs row-locally over the node²-bounded edge set
    (operators/pagerank.pagerank_fold — exactness argument and barrier
    accounting there)."""
    nation = io.load_table(spark, sf_dir, "nation")
    # The 4-way fact-table edge derivation is the SHARED cached
    # substrate (_trade_dir_edges — one fact pass per process across
    # the three nation-graph queries). r14: the rank recurrence itself
    # runs as pagerank_fold — the edge set is node²-bounded (≤625 rows
    # for 25 nations at ANY fact-table scale), and the r13 distributed
    # rounds spent their whole warm wall on ~15 sequential AQE stage
    # barriers (driver-measured 3.0 s at both 8 and 32 cores with only
    # 56 KB read — the substrate served; scheduling was the cost). The
    # r13 repartition("src") is gone with the per-round aggregations
    # it existed for.
    edges = _trade_dir_edges(spark, sf_dir)
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    ranks = pagerank_fold(edges, nodes, iterations=PR_ITERS)
    w_pos = F.row_number().over(Window.orderBy(F.desc("rank_ppb"), F.asc("n_name")))
    return (
        ranks.join(nation, ranks.node == nation.n_nationkey)
        .select("n_name", "rank_ppb")
        .withColumn("pos", w_pos.cast("int"))
    )


# --- triangle counting (clustering structure) ------------------------------


@register(
    "q_triangle_count",
    oracle="""
WITH dir_edges AS (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
),
u AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM dir_edges WHERE src <> dst
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM u e1
  JOIN u e2 ON e2.a = e1.b
  JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b
),
member AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM member GROUP BY 1
""",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the undirected nation trade graph —
    the clustering-structure primitive (community density, spam/bot
    subgraph detection). Edges are DEGREE-ORDERED (operators/triangles:
    orient each edge toward its higher-(degree, id) endpoint) so each
    triangle is enumerated exactly once as a rank-ordered wedge plus the
    closing-edge check — the compact-forward formulation whose wedge
    work stays bounded on power-law graphs where id-order would make
    low-id hubs enumerate O(deg²) candidates
    (tests/test_triangles.py proves the drop on a synthetic skewed
    graph). The per-node counts are
    orientation-invariant, so the id-ordered DuckDB oracle still
    verifies values exactly."""
    # r14: the 4-way fact-table derivation comes from the SHARED cached
    # substrate (_trade_dir_edges) — one fact pass per process across
    # the three nation-graph queries; u/oriented below derive from its
    # ≤625 cached rows.
    dir_edges = _trade_dir_edges(spark, sf_dir)
    from ..operators import triangles as TR

    # u feeds the degree aggregate, both wedge sides, and the
    # closing-edge check; persisting it computes the derivation ONCE
    # instead of once per alias. The edge set itself is node²-bounded
    # (≤300 rows for 25 nations) — trivially cacheable at any
    # fact-table scale. Both persists ride the bounded per-sf cache
    # (r11 verdict #2: bare per-call persists leaked two pinned
    # entries per bench run).
    def _build():
        u = (
            dir_edges.filter(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .distinct()
        )
        # the oriented set feeds three scans (both wedge sides +
        # closing edges) — persist it too, or each reference re-runs
        # the degree aggregate and its two joins
        return u, TR.orient_by_degree(u)

    _u, oriented = cached_substrates("tri_edges", spark, sf_dir, _build)
    return TR.per_node_counts(TR.triangles(oriented))


# --- label-propagation communities ------------------------------------------

LP_ITERS = 3


def _lp_iter_cte(i: int) -> str:
    from ..operators.labelprop import LP_MAXC, LP_PACK

    prev = f"lbl{i - 1}"
    return f"""
lbl{i} AS (
  SELECT l.node,
         CAST(COALESCE(w.new_label, l.label) AS BIGINT) AS label
  FROM {prev} l
  LEFT JOIN (
    SELECT node, CAST(p % {LP_PACK} AS BIGINT) AS new_label
    FROM (
      SELECT v.node,
             min(({LP_MAXC} - v.cnt) * {LP_PACK} + v.label) AS p
      FROM (
        SELECT e.dst AS node, p.label, CAST(count(*) AS BIGINT) AS cnt
        FROM sym e JOIN {prev} p ON e.src = p.node
        GROUP BY 1, 2
      ) v
      GROUP BY v.node
    )
  ) w ON w.node = l.node
)"""


_LP_ORACLE = (
    """
WITH dir_edges AS (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
),
u AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM dir_edges WHERE src <> dst
),
sym AS (
  SELECT a AS src, b AS dst FROM u
  UNION ALL
  SELECT b AS src, a AS dst FROM u
),
nodes AS (SELECT n_nationkey AS node FROM nation),
lbl0 AS (SELECT node, CAST(node AS BIGINT) AS label FROM nodes),"""
    + ",".join(_lp_iter_cte(i) for i in range(1, LP_ITERS + 1))
    + f"""
SELECT nat.n_name, lb.label AS community,
       CAST(count(*) OVER (PARTITION BY lb.label) AS BIGINT) AS community_size
FROM lbl{LP_ITERS} lb JOIN nation nat ON lb.node = nat.n_nationkey
"""
)


@register("q_label_propagation", oracle=_LP_ORACLE)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by deterministic synchronous label
    propagation (operators/labelprop.py) over the undirected nation
    trade graph: {LP_ITERS} rounds of every node adopting its
    neighbors' most frequent label (ties to the smallest), then
    community sizes via a window. The packed-bigint argmax makes each
    round engine-exact, so the oracle unrolls the rounds as CTEs —
    the q_pagerank_nations verification pattern applied to LPA.

    Scale: the distributed work is the 4-way fact-table edge
    derivation; the vote rounds themselves run row-locally over the
    node²-bounded symmetric edge set
    (operators/labelprop.label_propagation_fold — exactness argument
    there)."""
    from ..operators.labelprop import label_propagation_fold

    nation = io.load_table(spark, sf_dir, "nation")
    # r14: the 4-way fact-table derivation comes from the SHARED cached
    # substrate (_trade_dir_edges); u/sym derive from its ≤625 cached
    # rows, so only the first nation-graph query in a process pays the
    # fact pass.
    dir_edges = _trade_dir_edges(spark, sf_dir)
    u = (
        dir_edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    sym_raw = u.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        u.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    # The 4-way fact-table edge derivation persists through the bounded
    # per-sf substrate cache (r11 verdict #2) so warm runs read the
    # ≤600-row symmetric edge set from memory. r14: the vote rounds run
    # as label_propagation_fold (see operators/labelprop.py and the
    # pagerank_fold rationale) — node²-bounded graph, so the whole
    # recurrence is one row-local expression instead of ~10 sequential
    # AQE stage barriers. The r13 repartition("dst") is gone with the
    # per-round aggregations it existed for — it was also the named
    # suspect in the r13 verdict's unresolved 32-core 16.9 s anomaly
    # (adjudication in OPTIMIZATION_r14.md).
    sym = cached_substrates("lpa_sym", spark, sf_dir, lambda: sym_raw)
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    labels = label_propagation_fold(sym, nodes, iterations=LP_ITERS)
    w = Window.partitionBy("label")
    return (
        labels.join(nation, labels.node == nation.n_nationkey)
        .select(
            "n_name",
            F.col("label").alias("community"),
            F.count("*").over(w).cast("bigint").alias("community_size"),
        )
    )


# --- iterated degree pruning (bounded-round k-core) --------------------------

KC_PART_LIMIT = 200  # bipartite projection slice (bounds per-part fan-in)
KC_NUM, KC_DEN = 5, 8  # threshold k = (5/8) * average degree
KC_ITERS = 3


def _kc_iter_cte(i: int) -> str:
    prev = f"alive{i - 1}"
    return f"""
alive{i} AS (
  SELECT dg.node FROM (
    SELECT s.node AS node, count(*) AS d
    FROM sym e
    JOIN {prev} s ON e.src = s.node
    JOIN {prev} t ON e.dst = t.node
    GROUP BY 1
  ) dg, kk WHERE dg.d >= kk.k
)"""


_KC_ORACLE = (
    f"""
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_partkey < {KC_PART_LIMIT}
),
u AS (
  SELECT DISTINCT a.c AS a, b.c AS b
  FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c
),
sym AS (SELECT a AS src, b AS dst FROM u UNION ALL SELECT b, a FROM u),
nodes AS (SELECT DISTINCT src AS node FROM sym),
kk AS (
  SELECT CAST((2 * (SELECT count(*) FROM u) * {KC_NUM})
              // ((SELECT count(*) FROM nodes) * {KC_DEN}) AS BIGINT) AS k
),
alive0 AS (SELECT node FROM nodes),"""
    + ",".join(_kc_iter_cte(i) for i in range(1, KC_ITERS + 1))
    + f"""
SELECT dg.node AS custkey, CAST(dg.d AS BIGINT) AS core_degree
FROM (
  SELECT s.node AS node, count(*) AS d
  FROM sym e
  JOIN alive{KC_ITERS} s ON e.src = s.node
  JOIN alive{KC_ITERS} t ON e.dst = t.node
  GROUP BY 1
) dg
"""
)


@register("q_kcore_prune", oracle=_KC_ORACLE)
def q_kcore_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-subgraph extraction by ITERATED DEGREE PRUNING — the
    bounded-round k-core: project the customer–part bipartite graph
    onto customers (co-purchasers of the same part are adjacent), set
    k = {KC_NUM}/{KC_DEN} of the average degree (data-derived, so the
    threshold tracks the graph across scale factors), then {KC_ITERS}
    synchronous rounds of dropping every node whose degree within the
    surviving subgraph fell below k. Each round is a strict superset of
    the true k-core and the sequence is monotone decreasing, so fixed-R
    output is well-defined whether or not the fixpoint was reached —
    the LP_ITERS determinism pattern applied to core decomposition.
    Returns the surviving nodes with their final in-subgraph degree.

    Scale: the bipartite projection is a per-part self-join (fan-in
    bounded by the part slice here; a production run caps or salts hot
    parts first). Per round: two alive-set equi-joins (the alive set
    only shrinks — broadcastable long before the edge set is) + one
    partial-agg'd degree count. k bounded shuffles, no collect, no
    driver-side loop state."""
    li = io.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    orders = io.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cp = (
        li.filter(F.col("l_partkey") < KC_PART_LIMIT)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = cp.alias("a"), cp.alias("b")

    # u feeds sym AND the edge-count side of k; every pruning round
    # joins against sym. Both persists ride the bounded per-sf cache
    # (r11 verdict #2: the bare per-call persists pinned two new
    # entries per bench run and were never released).
    def _build():
        u = (
            a.join(
                b,
                (F.col("a.p") == F.col("b.p")) & (F.col("a.c") < F.col("b.c")),
            )
            .select(F.col("a.c").alias("a"), F.col("b.c").alias("b"))
            .distinct()
        )
        # sym cached PRE-PARTITIONED on src, the per-round aggregation
        # key: each pruning round broadcast-joins the (shrinking) alive
        # set on dst and counts degrees by src — with the cache hash-
        # partitioned on src the count aggregates in place, so a round
        # adds ZERO exchanges (guide §2.4; the one shuffle is paid at
        # the substrate build)
        sym = (
            u.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionAll(u.select(F.col("b").alias("src"), F.col("a").alias("dst")))
            .repartition("src")
        )
        return u, sym

    u, sym = cached_substrates("kcore_edges", spark, sf_dir, _build)
    nodes = sym.select(F.col("src").alias("node")).distinct()
    kdf = (
        u.agg(F.count("*").cast("bigint").alias("n_edges"))
        .crossJoin(
            F.broadcast(nodes.agg(F.count("*").cast("bigint").alias("n_nodes")))
        )
        .select(
            F.expr(f"(2 * n_edges * {KC_NUM}) div (n_nodes * {KC_DEN})")
            .cast("bigint")
            .alias("k")
        )
    )
    from ..operators.kcore import degree_prune

    return degree_prune(sym, nodes, kdf, KC_ITERS).select(
        F.col("node").alias("custkey"), F.col("d").alias("core_degree")
    )
