"""The end-to-end curation pipeline as ONE verified query.

q_curation_pipeline composes the engine's curation stages — quality
gate, exact dedup, semantic near-dup — into a per-document DISPOSITION
(an audit bitmask of every drop reason across every stage) plus the
training-shard assignment for the surviving corpus. This is the "a
user of the reference switches to this repo and runs their whole
pipeline as one query" demonstration: each stage is individually
driver-gated elsewhere (q_quality_gate, q_dedup_survivors,
q_semdedup, q_token_shards); here their COMPOSITION is gated too, by
splicing the stages' registered oracle SQL into one CTE chain — the
oracle is literally built from the already-verified per-stage oracles,
so a pipeline-level mismatch isolates to the composition logic.

Stage semantics (parallel-filter composition): every stage evaluates
on the FULL corpus and the verdicts intersect — audit-friendly (a
document dropped by three stages shows all three bits) and
deterministic (no order-dependent greedy cascades). Exact-dup drops
every non-keeper of a normalized-text group (bit 32); semantic
near-dup drops ids with a lower-id cluster-mate above the cosine
threshold (bit 64, q_semdedup's parallel rule); bits 1-16 are the
quality gate's.

Scale: the stages are the same plans as their standalone queries (two
doc-keyed partial-agg shuffles + broadcast probes for the gate, one
light keyed shuffle for exact dedup, cluster-bounded pairs for
semdedup); the composition adds only doc-keyed equi-joins of
report-sized tables and the windowed shard pack over survivors.

This module must be imported AFTER curation/dedup/clustering in
registry._QUERY_MODULES — it reads their registered oracles at import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import io
from ..functions import md5_bucket
from ..functions import text as TX
from ..operators import dedup as D
from ..registry import ORACLES, register
from .curation import SHARD_BUCKETS, SHARD_TOKENS, _SHARD_BUCKET

R_EXACT_DUP = 32
R_SEM_DUP = 64


_PIPELINE_ORACLE = f"""
WITH gate AS ({ORACLES["q_quality_gate"].strip()}),
sem AS (SELECT DISTINCT id_drop FROM ({ORACLES["q_semdedup"].strip()})),
norm_groups AS (
  SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS k,
         min(doc_id) AS keeper
  FROM documents GROUP BY 1
),
disp AS (
  SELECT d.doc_id,
         CAST(g.reasons
              + CASE WHEN d.doc_id <> ng.keeper THEN {R_EXACT_DUP} ELSE 0 END
              + CASE WHEN s.id_drop IS NOT NULL THEN {R_SEM_DUP} ELSE 0 END
           AS BIGINT) AS reasons
  FROM documents d
  JOIN gate g ON g.doc_id = d.doc_id
  JOIN norm_groups ng
    ON ng.k = md5(regexp_replace(trim(lower(d.text)), '\\s+', ' ', 'g'))
  LEFT JOIN sem s ON s.id_drop = d.doc_id
),
keep_sized AS (
  SELECT doc_id, {_SHARD_BUCKET} AS bucket, len({TX.TOKENS_SQL}) AS n_tokens
  FROM (SELECT d.doc_id, d.text FROM documents d
        JOIN disp ON disp.doc_id = d.doc_id AND disp.reasons = 0)
),
packed AS (
  SELECT doc_id, bucket, n_tokens,
         COALESCE(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS tokens_before
  FROM keep_sized
),
shards AS (
  SELECT doc_id,
         CAST(bucket * 100000 + tokens_before // {SHARD_TOKENS} AS BIGINT)
           AS shard_id
  FROM packed
)
SELECT disp.doc_id, disp.reasons, disp.reasons = 0 AS keep, s.shard_id
FROM disp LEFT JOIN shards s ON s.doc_id = disp.doc_id
"""


@register("q_curation_pipeline", oracle=_PIPELINE_ORACLE)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See the module docstring: per-document curation disposition
    (quality-gate bits 1-16, exact-dup bit {R_EXACT_DUP}, semantic
    near-dup bit {R_SEM_DUP}) and the shard assignment for keepers
    (NULL for dropped documents). The Spark side reuses the standalone
    stage implementations verbatim — the pipeline IS their
    composition, not a re-implementation."""
    from .curation import q_quality_gate
    from .dedup import q_semdedup

    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    gate = q_quality_gate(spark, sf_dir).select("doc_id", "reasons")
    sem = (
        q_semdedup(spark, sf_dir)
        .select(F.col("id_drop").alias("doc_id"))
        .distinct()
        .withColumn("semdup", F.lit(True))
    )
    groups = D.exact_dedup(docs).select("text_key", "keeper_id")
    keyed = docs.withColumn("text_key", D.normalized_text_key("text"))
    disp = (
        keyed.join(gate, "doc_id")
        .join(groups, "text_key")
        .join(sem, "doc_id", "left")
        .select(
            "doc_id",
            "text",
            (
                F.col("reasons")
                + F.when(
                    F.col("doc_id") != F.col("keeper_id"), R_EXACT_DUP
                ).otherwise(0)
                + F.when(F.col("semdup"), R_SEM_DUP).otherwise(0)
            )
            .cast("bigint")
            .alias("reasons"),
        )
    )
    # r13 SINGLE PASS: the r12 version derived `shards` from
    # disp.filter(keep) and then joined it back onto disp — referencing
    # the entire gate+semdedup+dedup composition subtree TWICE, so the
    # whole upstream pipeline executed twice per call (and the plan
    # carried two copies). Instead, compute the shard window over ALL
    # rows with non-keepers contributing zero width: the running sum of
    # when(keep, n_tokens) over (bucket, doc_id-order) equals the
    # keeper-only running sum at every keeper row (interleaved
    # non-keepers add 0), and non-keepers' shard_id is masked to NULL —
    # exactly the LEFT-JOIN semantics, one pass, zero self-joins.
    # when() short-circuits per row, so dropped documents are never
    # tokenized (same work as the filtered form).
    bucket = (
        md5_bucket(F.col("doc_id").cast("string"), salt="shard|") % SHARD_BUCKETS
    )
    keep = F.col("reasons") == 0
    sized = disp.select(
        "doc_id",
        "reasons",
        bucket.alias("bucket"),
        F.when(
            keep, TX.token_count(F.lower(F.col("text")))
        ).otherwise(0).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        sized.withColumn(
            "tokens_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .select(
            "doc_id",
            "reasons",
            (F.col("reasons") == 0).alias("keep"),
            F.when(
                F.col("reasons") == 0,
                (
                    F.col("bucket") * 100000
                    + F.expr(f"tokens_before div {SHARD_TOKENS}")
                ).cast("bigint"),
            ).alias("shard_id"),
        )
    )
