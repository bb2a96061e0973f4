"""Deterministic LPA law not covered by the fold-exactness tests in
tests/test_pagerank_fold.py: the result does not depend on how the edge
set is partitioned (collect_list order)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_ai_assistent_spark.operators.labelprop import label_propagation_fold


def _sym(spark, undirected_pairs):
    rows = [(a, b) for a, b in undirected_pairs] + [
        (b, a) for a, b in undirected_pairs
    ]
    return spark.createDataFrame(rows, "src bigint, dst bigint")


def test_partition_invariance(spark):
    edges = _sym(spark, [(0, 1), (1, 2), (2, 0), (5, 6), (2, 5), (3, 4)])
    nodes = spark.range(0, 7).select(F.col("id").alias("node"))
    runs = [
        sorted(map(tuple, label_propagation_fold(e, nodes, 3).collect()))
        for e in (edges.repartition(1), edges.repartition(13), edges.orderBy(F.desc("src")))
    ]
    assert runs[0] == runs[1] == runs[2]
