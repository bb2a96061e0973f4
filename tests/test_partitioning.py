"""Partition-layout evidence: dynamic partition pruning (DPP) fires on
the partitioned event store, and the S5 QA-JSON source reads with its
explicit schema."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from etl_ai_assistent_spark import io, schemas


def test_dynamic_partition_pruning(spark, sf_small, tmp_path):
    """Writing the fact table partitioned by its hot join/filter key
    (SURVEY.md §4 physical-design decision) lets a dim-side filter prune
    fact partitions at runtime: the scan's plan carries a dynamicpruning
    expression instead of reading all partitions."""
    path = str(tmp_path / "events_by_type")
    io.write_parquet(
        io.load_events(spark, sf_small),
        path,
        partition_by=("event_type",),
    )
    fact = spark.read.parquet(path)
    dim = (
        io.load_events(spark, sf_small)
        .select("event_type")
        .distinct()
        .withColumn("keep", F.col("event_type").isin("purchase", "signup"))
        .filter("keep")
    )
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    joined = fact.join(dim, "event_type").groupBy("event_type").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    assert joined.count() == 2


def test_qa_dataset_source_schema(spark, tmp_path):
    """S5 (make_ragas_dataset.py:61-69): QA JSON loads with the explicit
    StructType, contexts as array<string>."""
    data = [
        {
            "question": "q1",
            "answer": "a1",
            "ground_truth": "g1",
            "contexts": ["c1", "c2"],
        },
        {"question": "q2", "answer": "a2", "ground_truth": "g2", "contexts": []},
    ]
    p = tmp_path / "qa.json"
    p.write_text(json.dumps(data))
    df = io.read_json_dataset(spark, str(p))
    assert df.schema == schemas.QA_DATASET
    rows = {r["question"]: r for r in df.collect()}
    assert rows["q1"]["contexts"] == ["c1", "c2"]
    assert rows["q2"]["answer"] == "a2"


def test_schema_evolution_merge(spark, tmp_path):
    """Long-lived stores evolve: files written before a column existed
    must coexist with newer files. mergeSchema unions the schemas; old
    rows read NULL for the new column (and a filter on it prunes them)."""
    path = str(tmp_path / "store")
    spark.createDataFrame(
        [(1, "a")], "id long, text string"
    ).write.mode("append").parquet(path)
    spark.createDataFrame(
        [(2, "b", "en")], "id long, text string, lang string"
    ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", True).parquet(path)
    assert set(merged.columns) == {"id", "text", "lang"}
    rows = {r["id"]: r["lang"] for r in merged.collect()}
    assert rows == {1: None, 2: "en"}
    assert merged.filter("lang = 'en'").count() == 1


def test_ivf_store_partition_pruning(spark, sf_small, tmp_path):
    """The IVF claim (operators/similarity.ivf_topk docstring): with the
    embedding store written partitioned by cluster id, probing nprobe
    clusters becomes partition pruning — the scan reads only those
    partitions' files."""
    from etl_ai_assistent_spark import io

    emb = io.load_table(spark, sf_small, "embeddings")
    store = str(tmp_path / "emb_by_label")
    io.write_parquet(emb, store, partition_by=("label",))
    stored = spark.read.parquet(store)
    probed = stored.filter(F.col("label").isin(3, 7))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "label" in plan
    n_all = emb.count()
    n_probed = probed.count()
    assert 0 < n_probed < n_all
    # exact same rows as filtering the unpartitioned table
    assert n_probed == emb.filter(F.col("label").isin(3, 7)).count()


def test_bucketed_join_no_exchange(spark, sf_small):
    """Both sides bucketed+sorted on the join key: the join and the
    bucket-keyed aggregation must run with ZERO shuffle exchanges (and
    no explicit sort for the SMJ — buckets are pre-sorted). Broadcast is
    disabled so the plan can't dodge the claim."""
    from etl_ai_assistent_spark.queries.scale import q_bucketed_join

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        agg = q_bucketed_join(spark, sf_small)
        agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
