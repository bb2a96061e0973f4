"""Integer-lattice Lloyd's k-means over embedding columns.

Distributed k-means is the semantic-clustering primitive of a training
-data pipeline (topic balancing, cluster-based dedup/sampling). Floats
make cross-engine verification impossible — partial-aggregation order
changes float sums — so this operator runs ENTIRELY on an integer
lattice: vectors quantize to bigints (floor(x·1000) + offset, the offset
keeping sums non-negative so floor-div == trunc-div on every engine),
distances are exact integer L2², and centroid updates are exact integer
sums with floor division. Every iteration is therefore bit-deterministic
on any partitioning — the property that lets a DuckDB oracle replay an
iteration (queries/clustering.py) and lets results reproduce across
cluster sizes.

Scale shape per iteration: assignment = a K-row broadcast against the
vector scan followed by one partial-agg'd min per vector (shuffle of N
packed bigints); update = one partial-agg'd (cluster, dim) sum (shuffle
bounded by K·dim rows after map-side combine). Centroids (K·dim ints)
are collected to the driver between iterations — K-bounded, the same
bounded-scalar pattern as operators/components.py's convergence check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V

Q_SCALE = 1000
Q_OFFSET = 1000  # keeps quantized coords non-negative (|x| < 1 in testdata)
PACK = 16  # cluster-id packing base; requires k <= PACK


def quantize(vec_col) -> "F.Column":
    """ARRAY<BIGINT> lattice coordinates of a float vector. The cast to
    DOUBLE before scaling makes the arithmetic identical IEEE ops on
    Spark and DuckDB (float32 inputs widen exactly)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        c,
        lambda x: (F.floor(x.cast("double") * Q_SCALE) + Q_OFFSET).cast("bigint"),
    )


def assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the K centroid rows across
    the vector scan, pack (dist, cid) into one bigint (dist·PACK + cid —
    min() then breaks distance ties on the lower cid, deterministically),
    and take the min per vector with map-side partial aggregation.

    vectors: (vec_id, qv ARRAY<BIGINT>); centroids: (cid, cv).
    Returns (vec_id, cluster, dist)."""
    packed = V.dist2("qv", "cv") * PACK + F.col("cid")
    return (
        vectors.crossJoin(F.broadcast(centroids))
        .select("vec_id", packed.alias("p"))
        .groupBy("vec_id")
        .agg(F.min("p").alias("p"))
        .select(
            "vec_id",
            F.expr(f"p % {PACK}").cast("bigint").alias("cluster"),
            F.expr(f"p div {PACK}").cast("bigint").alias("dist"),
        )
    )


def update(vectors: DataFrame, assignment: DataFrame) -> DataFrame:
    """New centroids: exact integer mean (floor) per cluster and
    dimension. One explode to (cluster, dim, val) and one partial-agg'd
    groupBy; the collect_list is reassembled in dim order (sort_array on
    (dim, val) structs — deterministic)."""
    dims = assignment.join(vectors, "vec_id").select(
        "cluster", F.posexplode("qv").alias("dim", "val")
    )
    sums = dims.groupBy("cluster", "dim").agg(
        F.sum("val").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    return (
        sums.groupBy("cluster")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("dim", F.expr("s div n").alias("m")))
            ).alias("dm")
        )
        .select(
            F.col("cluster").alias("cid"),
            F.transform("dm", lambda s: s["m"]).alias("cv"),
        )
    )


def init_centroids(vectors: DataFrame, k: int) -> DataFrame:
    """Deterministic init: the k lowest vec_ids (k-means++ would need a
    seeded RNG; id-ordered init keeps every engine's replay identical)."""
    return (
        vectors.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"))
    )


def lloyd(
    vectors: DataFrame, k: int = 8, iters: int = 5
) -> tuple[DataFrame, DataFrame]:
    """Full Lloyd's loop: iters rounds of assign → update. Centroid ids
    are re-numbered 0..k-1 by the first assignment. Between rounds the
    K·dim centroid ints are collected and re-broadcast (bounded driver
    traffic, flat lineage — the iterative-algorithm pattern shared with
    operators/pagerank.py). Returns (assignment, centroids)."""
    if k > PACK:
        raise ValueError(f"k={k} exceeds packing base {PACK}")
    spark = vectors.sparkSession
    cents = init_centroids(vectors, k)
    # re-key init centroids to 0..k-1 so packing stays dense
    rows = cents.collect()
    cents = spark.createDataFrame(
        [(i, r["cv"]) for i, r in enumerate(sorted(rows, key=lambda r: r["cid"]))],
        "cid bigint, cv array<bigint>",
    )
    a = None
    for _ in range(iters):
        a = assign(vectors, cents)
        new_rows = update(vectors, a).collect()  # K rows — bounded
        cents = spark.createDataFrame(
            [(int(r["cid"]), list(r["cv"])) for r in sorted(new_rows, key=lambda r: r["cid"])],
            "cid bigint, cv array<bigint>",
        )
    return assign(vectors, cents), cents
