"""Connected components over near-duplicate pair graphs (SURVEY.md §7
Step 4: 'dedup's connected components' — one of the few engine-owned
algorithms).

Near-dup detectors emit PAIRS; deduplication needs GROUPS (a transitive
closure: if A~B and B~C, one cluster {A,B,C}, one keeper). This is
iterative min-label propagation — the standard large-graph CC algorithm
(GraphFrames does the same under the hood) expressed as DataFrame joins
the driver loops over until fixpoint:

    label(v) <- min(label(v), min over neighbors u of label(u))

Each iteration is one equi-join + one aggregation on the edge list
(shuffle on vertex id); iterations needed = graph diameter (near-dup
clusters are shallow — copies of copies — so typically 2-4). Each
round's state is a lineage barrier (substrates.per_call), so the plan
stays flat as rounds grow, and the next registered call releases every
round's blocks. Convergence is detected by counting changed labels (a
cheap aggregate), not by comparing full snapshots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..substrates import per_call


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(node, component) for every node in `pairs`, component = min node
    id reachable through the pair graph. Deterministic.

    Each round ends at a lineage barrier: labels is referenced by both
    the neighbor join and its own rebuild, so a persist() chain kept the
    ANALYZED plan growing per round even though execution was
    deduplicated. The convergence collect materializes the round's
    storage-backed checkpoint, so the next round (and the final result)
    read cached blocks. The result follows substrates.py's
    NO-RETENTION CONTRACT."""
    edges = per_call(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct(),
        barrier=True,
    )
    labels = per_call(
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node")),
        barrier=True,
    )
    for _ in range(20):  # a cap; near-dup clusters converge in 2-4 rounds
        neighbor_min = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = per_call(
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (
                    F.coalesce("nbr_min", F.col("component"))
                    < F.col("component")
                ).cast("int").alias("changed"),
            ),
            barrier=True,
        )
        changed = new_labels.agg(F.sum("changed")).collect()[0][0] or 0
        labels = new_labels.drop("changed")
        if changed == 0:
            break
    return labels
