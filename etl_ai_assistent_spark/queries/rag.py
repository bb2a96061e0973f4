"""The retrieval-evaluation loop (reference §3.3: make_ragas_dataset.py /
make_ragas_test.py) — deterministic, LLM-free, and oracle-checked.

The reference's correctness story is end-to-end RAG quality judged by an
external LLM (RAGAS metrics over a 6-item golden set; BASELINE.md). That
is not reproducible in a hermetic engine, so the engine's analogue keeps
the *shape* — corpus → embed → top-k retrieve → per-probe metrics →
aggregate scores (the score.json sink, K6) — with every stochastic part
made deterministic:

- probes are derived from the corpus itself (a mid-document token span;
  the generated-testset idea of make_ragas_test.py:95-132, determinized);
- retrieval is sparse TF cosine over an INVERTED INDEX: explode tokens →
  32-bit token hash → TF weights → equi-join probe×doc on the exact
  token hash → grouped dot products. The join key is token-resolution
  (not a coarse bucket), so a probe term only meets its posting list —
  candidate volume is Σ posting lengths, not |probes|×|docs|. The tiny
  probe TF side is broadcast explicitly. On a real-text corpus a
  document-frequency cut (drop df > ~20% stopword-grade terms from both
  vectors, both engines) bounds the longest posting list; the synthetic
  testdata vocabulary is 31 tokens with ~80% df each, so a fixed cut
  degenerates retrieval there — instead TF-IDF (q_tfidf_retrieval)
  carries the continuous version of that down-weighting.

Metric parity: cosines are rounded to 6 dp on both engines before
ranking, and ranking ties break on doc_id — so ranks are deterministic
integers, and hit@5 / MRR match exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from .. import store as ST
from ..functions import md5_bucket, md5_bucket_sql
from ..functions import text as TX
from ..registry import register
from ..substrates import cached_substrates

N_PROBES = 150
TOP_K = 5

# Shared SQL scaffold: the corpus's inverted-index TF table (exact
# 32-bit token hash key), the posting table every oracle below reads.
_DOC_TF_CTES = f"""
doc_tok AS (
  SELECT doc_id, unnest({TX.TOKENS_SQL}) AS tok
  FROM (SELECT doc_id, text FROM documents)
),
doc_tf AS (
  SELECT doc_id, {md5_bucket_sql('tok')} AS tok_h,
         count(*) AS c
  FROM doc_tok GROUP BY 1, 2
)"""

# On top of it: the probes' TF table, posting-list equi-join dot
# products, rounded cosine, deterministic rank.
_SCORED_CTES = f"""{_DOC_TF_CTES},
doc_norm AS (
  SELECT doc_id, sqrt(sum(CAST(c * c AS DOUBLE))) AS nrm FROM doc_tf GROUP BY 1
),
probe_tok AS (
  SELECT doc_id AS probe_id, unnest(tok[3:12]) AS tok
  FROM (SELECT doc_id, {TX.TOKENS_SQL} AS tok FROM documents WHERE doc_id < {N_PROBES})
),
probe_tf AS (
  SELECT probe_id, {md5_bucket_sql('tok')} AS tok_h,
         count(*) AS c
  FROM probe_tok GROUP BY 1, 2
),
probe_norm AS (
  SELECT probe_id, sqrt(sum(CAST(c * c AS DOUBLE))) AS nrm FROM probe_tf GROUP BY 1
),
dots AS (
  SELECT p.probe_id, d.doc_id, sum(CAST(p.c * d.c AS DOUBLE)) AS dot
  FROM probe_tf p JOIN doc_tf d ON p.tok_h = d.tok_h
  GROUP BY 1, 2
),
scored AS (
  SELECT t.probe_id, t.doc_id,
         round(t.dot / (pn.nrm * dn.nrm), 6) AS cos,
         row_number() OVER (PARTITION BY t.probe_id
                            ORDER BY round(t.dot / (pn.nrm * dn.nrm), 6) DESC,
                                     t.doc_id) AS rank
  FROM dots t
  JOIN probe_norm pn ON pn.probe_id = t.probe_id
  JOIN doc_norm dn ON dn.doc_id = t.doc_id
)
"""


def _tf_all(df: DataFrame, id_out: str, tok_expr) -> DataFrame:
    """Sparse TF at token resolution: (id, tok_h, count), tok_h the
    exact 32-bit md5-prefix token hash (the inverted-index join key).
    Exact in doubles later on because every partial product is a small
    integer."""
    return (
        df.select(F.col("doc_id").alias(id_out), F.explode(tok_expr).alias("tok"))
        .groupBy(id_out, md5_bucket(F.col("tok")).alias("tok_h"))
        .agg(F.count("*").alias("c"))
    )


def _norm(df: DataFrame, key: str) -> DataFrame:
    return df.groupBy(key).agg(
        F.sqrt(F.sum((F.col("c") * F.col("c")).cast("double"))).alias("nrm")
    )


# On-disk TF posting store (r10, the trigram-store shape applied to
# the retrieval substrate): the corpus tokenize+explode+count build —
# the shared input of BM25, TF-cosine, rerank, fusion, hard negatives —
# was the last per-app session-persisted index. It is now a parquet
# artifact bucketed+sorted by DOC_ID under the shared store contract
# (fingerprinted corpus key, atomic publish, validated adoption);
# fresh apps re-register the files via bucketed-table DDL and pay
# adoption, not re-tokenization.
#
# Bucket-key lesson (measured): the first cut bucketed by tok_h to
# make BM25's document-frequency pass exchange-free — but tok_h is a
# Zipf-skewed, LOW-cardinality key on this corpus, so the "free"
# aggregation ran as 16 skew-stuck tasks with no AQE rescue
# (exchange-free also means AQE-skew-split-free): q_bm25_retrieval
# went 1.6 s (sf0.1) → 24.5 s (sf1), 15× for 10× data. doc_id is
# uniform and high-cardinality: the per-document norm/length pass is
# the one that goes exchange-free, tok_h-keyed work shuffles through
# AQE (which handles skew), and the probe join broadcasts its small
# side so the index never shuffled anyway. Bucket keys must be chosen
# by the key's DISTRIBUTION, not by which pass one wants free.
POSTING_BUCKETS = 32


# _v2: bucket key switched tok_h → doc_id (writer change, FIXTURES rule)
POSTING_FAMILY = "spark_graft_posting_store_v2"


def posting_store_root() -> str:
    return os.path.join(ST.store_root(), POSTING_FAMILY)


def _publish_bucketed_tf(
    spark: SparkSession, path: str, build_tf
) -> DataFrame:
    """Publish a (doc_id, tok_h, c) posting table bucketed+sorted by
    doc_id under the store contract and serve it as a bucketed catalog
    table (store.publish_bucketed). `build_tf` is a thunk returning the
    DataFrame to materialize."""
    return ST.publish_bucketed(
        spark,
        path,
        "doc_tf",
        lambda: build_tf().repartition(POSTING_BUCKETS, F.col("doc_id")),
        "doc_id BIGINT, tok_h BIGINT, c BIGINT",
        "doc_id",
        POSTING_BUCKETS,
        lambda p: ST.has_success(p) and ST.parquet_rows(p) > 0,
    )


def posting_store_path(sf_dir: str) -> str:
    """Where the posting store of `sf_dir`'s corpus is published."""
    return ST.corpus_path(
        POSTING_FAMILY, sf_dir, "documents", f"_{POSTING_BUCKETS}"
    )


def doc_tf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, tok_h, c) posting table as a STORAGE artifact,
    built once per corpus version (store contract: see FIXTURES.md)."""
    path = posting_store_path(sf_dir)

    def build_tf() -> DataFrame:
        docs = io.load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        return _tf_all(docs, "doc_id", TX.tokens(F.lower(F.col("text"))))

    return _publish_bucketed_tf(spark, path, build_tf)


@register(
    "q_posting_delta_merge",
    oracle=f"""
WITH {_DOC_TF_CTES},
seg AS (
  SELECT tok_h, c,
         CASE WHEN doc_id % 10 = 7 THEN 1 ELSE 0 END AS is_delta
  FROM doc_tf
)
SELECT tok_h,
       CAST(sum(1 - is_delta) AS BIGINT) AS df_base,
       CAST(sum(is_delta) AS BIGINT) AS df_delta,
       CAST(count(*) AS BIGINT) AS df_total,
       CAST(sum(c) AS BIGINT) AS c_total
FROM seg
GROUP BY tok_h
ORDER BY df_total DESC, tok_h
LIMIT 100
""",
)
def q_posting_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance — the LSM read path over the
    posting store: the serving view is STORED BASE SEGMENT ⊎ FRESH
    DELTA, merged per term in-plan. Base = the published on-disk
    posting table minus an append cohort (doc_id % 10 == 7); delta =
    that cohort tokenized fresh, exactly what an append batch pays.
    The per-term merge (document frequency and collection TF combined
    across segments) is the algebra a compactor runs — at 100 TB you
    tokenize the gigabytes that ARRIVED, never the corpus, and the
    merge is a groupBy on the bounded term domain. The DuckDB oracle
    recomputes the merged statistics from the full corpus, so a base
    segment served stale, a delta mis-tokenized, or a merge that
    double-counts all fail the gate. Reference shape: Qdrant's upsert
    path (scripts/services/qdrant_service.py:24-42) — incremental adds
    against a persistent collection, here with the merge made explicit.

    Plan: base is a pruned scan of the bucketed store (filter pushed to
    the parquet scan); delta tokenizes ~1/10 of the corpus; the union
    shuffles once on tok_h with map-side partial aggregation; top-100
    is TakeOrderedAndProject. No corpus-sized sort, no cartesian."""
    base = (
        doc_tf_table(spark, sf_dir)
        .filter(F.col("doc_id") % 10 != 7)
        .withColumn("is_delta", F.lit(0))
    )
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    delta = _tf_all(
        docs.filter(F.col("doc_id") % 10 == 7),
        "doc_id",
        TX.tokens(F.lower(F.col("text"))),
    ).withColumn("is_delta", F.lit(1))
    merged = base.unionByName(delta)
    return (
        merged.groupBy("tok_h")
        .agg(
            F.sum(1 - F.col("is_delta")).cast("bigint").alias("df_base"),
            F.sum("is_delta").cast("bigint").alias("df_delta"),
            F.count("*").cast("bigint").alias("df_total"),
            F.sum("c").cast("bigint").alias("c_total"),
        )
        .orderBy(F.desc("df_total"), F.asc("tok_h"))
        .limit(100)
    )


def _doc_probe_tf(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Inverted-index TF tables for corpus and probes, keyed on the
    exact token hash.

    doc_tf serves from the ON-DISK posting store (doc_tf_table) and is
    additionally persisted: the index is the shared substrate of every
    retrieval query here — q_rag_rerank and q_bm25_retrieval each
    consume it in 2-4 join branches. Before the store, each fresh app
    re-tokenized the corpus to rebuild it (the dominant cold cost of
    the retrieval family at sf10); now the build is once per corpus
    version and apps adopt the files. The persist rides the bounded
    per-sf cache in substrates.py (r11 verdict #2: the old per-call
    persist pinned one new cache entry per retrieval query per bench
    run, never released — the prime suspect for q_rag_rerank's
    in-bench 72 s vs 4-5 s isolated). The probe side stays in-plan: it
    is N_PROBES documents, scan-pruned by the doc_id predicate."""

    doc_tf = cached_substrates(
        "rag_doc_tf", spark, sf_dir, lambda: doc_tf_table(spark, sf_dir)
    )
    return doc_tf, _probe_tf(spark, sf_dir)


def _probe_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(probe_id, tok_h, c) of the N_PROBES probes: tokens 3..12 of each
    of the first N_PROBES documents."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = TX.tokens(F.lower(F.col("text")))
    return _tf_all(
        docs.filter(F.col("doc_id") < N_PROBES), "probe_id", F.slice(toks, 3, 10)
    )


@register(
    "q_posting_index_build",
    oracle=f"""
WITH {_DOC_TF_CTES}
SELECT CAST(count(*) AS BIGINT) AS n_postings,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT tok_h) AS BIGINT) AS n_terms,
       CAST(sum(c) AS BIGINT) AS c_sum,
       CAST(sum(c * ((tok_h + doc_id) % 1000003)) AS BIGINT) AS tf_wsum
FROM doc_tf
""",
)
def q_posting_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-index MAINTENANCE as a first-class query (the
    q_trigram_index_build / q_ann_index_build pattern, applied to the
    TF posting store every lexical ranker shares): build — or adopt —
    the on-disk (doc_id, tok_h, c) table for this corpus version and
    emit its audit stats, including a position-weighted TF checksum.
    The aggregation reads the STORED bucketed table while the DuckDB
    oracle re-tokenizes the corpus — a stale, truncated, or
    mis-hashed store fails the gate. Bench runs this before the
    retrieval family (INDEX_COLD) so serving numbers measure ranking,
    not tokenization."""
    return _posting_audit(doc_tf_table(spark, sf_dir))


def _posting_audit(posting: DataFrame) -> DataFrame:
    """The posting-table audit statistics (shared by the full build
    and the compaction commit — both must reconcile against a full
    corpus re-tokenization): counts, distincts, and a position-weighted
    TF checksum that catches a row served from the wrong (doc, term)."""
    return posting.agg(
        F.count("*").cast("bigint").alias("n_postings"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.countDistinct("tok_h").cast("bigint").alias("n_terms"),
        F.sum("c").cast("bigint").alias("c_sum"),
        F.sum(
            F.col("c")
            * ((F.col("tok_h") + F.col("doc_id")) % F.lit(1000003))
        )
        .cast("bigint")
        .alias("tf_wsum"),
    )


# --- LSM WRITE path: compaction commits base ⊎ delta as a new base ----------
#
# q_posting_delta_merge proved the READ-side algebra (serve from stored
# base ∪ fresh delta); this is the missing commit step (r10 verdict
# "next" #1a): a compactor that folds the append cohort's delta into a
# NEW PUBLISHED base segment under the store contract. The append
# cohort is the same doc_id % 10 == 7 slice the read path uses, so the
# pair documents one consistent ingest story: deltas serve immediately
# via the merge view, and compaction periodically rewrites them into
# the base so read amplification stays bounded.

COMPACT_MOD, COMPACT_REM = 10, 7  # the append cohort: doc_id % 10 == 7


def posting_base_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRE-APPEND base segment: the posting table over the corpus
    minus the append cohort — the artifact that existed before the
    cohort arrived. Published under its own fingerprint-keyed
    directory (the cohort spec rides the key, so it can never be
    confused with the full-corpus table)."""
    path = ST.corpus_path(
        POSTING_FAMILY,
        sf_dir,
        "documents",
        f"_{POSTING_BUCKETS}_base{COMPACT_MOD}x{COMPACT_REM}",
    )

    def build_tf() -> DataFrame:
        docs = (
            io.load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % COMPACT_MOD != COMPACT_REM)
            .select("doc_id", "text")
        )
        return _tf_all(docs, "doc_id", TX.tokens(F.lower(F.col("text"))))

    return _publish_bucketed_tf(spark, path, build_tf)


def compact_posting_build_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compaction PLAN: stored base segment ∪ the delta cohort
    tokenized fresh. doc_ids are disjoint across segments, so the fold
    is a pure union — per-term statistics merge at read (the
    q_posting_delta_merge algebra); what compaction buys is ONE base
    segment again. The only tokenizer in this plan is the delta's
    explode: the base rides a bucketed parquet scan, so commit cost is
    O(|base| IO + |delta| tokenize) — the gigabytes that ARRIVED are
    the only text processed, which is the LSM contract at 100 TB.
    Exposed as a named plan so tests can assert that shape."""
    base = posting_base_table(spark, sf_dir)
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    delta = _tf_all(
        docs.filter(F.col("doc_id") % COMPACT_MOD == COMPACT_REM),
        "doc_id",
        TX.tokens(F.lower(F.col("text"))),
    )
    return base.unionByName(delta)


@register(
    "q_posting_compact",
    oracle=f"""
WITH {_DOC_TF_CTES}
SELECT CAST(count(*) AS BIGINT) AS n_postings,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT tok_h) AS BIGINT) AS n_terms,
       CAST(sum(c) AS BIGINT) AS c_sum,
       CAST(sum(c * ((tok_h + doc_id) % 1000003)) AS BIGINT) AS tf_wsum
FROM doc_tf
""",
)
def q_posting_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-maintenance COMMIT: fold the append cohort's delta into
    the stored base segment and PUBLISH the result as a new base
    posting table under the store contract — fingerprint key of the
    grown corpus, atomic temp-dir rename, validated adoption — then
    audit the published artifact. The DuckDB oracle re-tokenizes the
    ENTIRE merged corpus, so a compaction that drops the delta, serves
    a stale base, or double-counts an overlapping doc fails the gate;
    the audit reading the DISK files (not the build plan) means a torn
    publish fails it too. Only the delta is ever tokenized (the base
    folds in as a bucketed parquet scan — see compact_posting_build_tf);
    at 100 TB this is Qdrant's incremental-upsert shape
    (scripts/services/qdrant_service.py:24-42) with the merge made an
    explicit, auditable artifact commit. Periodic leveled compaction
    bounds the base-rewrite amplification; the read path between
    commits is q_posting_delta_merge."""
    path = ST.corpus_path(
        POSTING_FAMILY, sf_dir, "documents", f"_{POSTING_BUCKETS}_compacted"
    )
    compacted = _publish_bucketed_tf(
        spark, path, lambda: compact_posting_build_tf(spark, sf_dir)
    )
    return _posting_audit(compacted)


def _scored(
    spark: SparkSession,
    sf_dir: str,
    tf_pair: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    doc_tf, probe_tf = tf_pair if tf_pair is not None else _doc_probe_tf(spark, sf_dir)

    # r13: the per-document norm table is a corpus-level index artifact
    # (one agg over the cached posting index) consumed by five
    # retrieval queries — cache it beside doc_tf instead of re-running
    # the aggregation per call
    doc_norm = cached_substrates(
        "rag_doc_norm", spark, sf_dir, lambda: _norm(doc_tf, "doc_id")
    )
    probe_norm = _norm(probe_tf, "probe_id").withColumnRenamed("nrm", "pnrm")

    # Probe TF is bounded by N_PROBES × span length — broadcast it so the
    # posting-list join never shuffles the corpus-sized index side.
    dots = (
        F.broadcast(probe_tf.withColumnRenamed("c", "pc"))
        .join(doc_tf.withColumnRenamed("c", "dc"), "tok_h")
        .groupBy("probe_id", "doc_id")
        .agg(F.sum((F.col("pc") * F.col("dc")).cast("double")).alias("dot"))
    )
    cos = F.round(F.col("dot") / (F.col("pnrm") * F.col("nrm")), 6)
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("doc_id"))
    return (
        dots.join(F.broadcast(probe_norm), "probe_id")
        .join(doc_norm, "doc_id")
        .select("probe_id", "doc_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
    )


@register(
    "q_rag_retrieval",
    oracle=f"""
WITH {_SCORED_CTES}
SELECT probe_id, CAST(rank AS INT) AS rank, doc_id, cos
FROM scored WHERE rank <= {TOP_K}
""",
)
def q_rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 sparse TF retrieval for every derived probe — the reference
    retrieval query (test.out.py:14-19) run as an all-probes batch. Dot
    products come from a posting-list equi-join on the exact token hash
    (broadcast probe side), never a dense cross join; ranking is
    row_number + filter per probe."""
    s = _scored(spark, sf_dir)
    return s.filter(F.col("rank") <= TOP_K).select(
        "probe_id", F.col("rank").cast("int"), "doc_id", "cos"
    )


# TF-IDF variant: same inverted index, weights scaled by a
# SMOOTHED RATIONAL idf, idf_t = (N + 1) / (df_t + 1) with df_t = number
# of docs containing token t. Rational rather than the textbook
# log((N+1)/(df+1)): IEEE division is correctly rounded and therefore
# bit-identical across engines, while ln() may differ by an ulp between
# libm builds — and an ulp under the rank rounding is a flaky oracle.
# Same monotone document-frequency penalty, deterministic parity.
_TFIDF_CTES = f"""
{_SCORED_CTES},
n_docs AS (SELECT count(*) AS n FROM documents),
df AS (
  SELECT tok_h, CAST(count(*) AS DOUBLE) AS dfb FROM doc_tf GROUP BY tok_h
),
doc_w AS (
  SELECT t.doc_id, t.tok_h,
         CAST(t.c AS DOUBLE) * ((n.n + 1.0) / (d.dfb + 1.0)) AS w
  FROM doc_tf t, n_docs n
  JOIN df d ON d.tok_h = t.tok_h
),
doc_wnorm AS (
  SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM doc_w GROUP BY 1
),
probe_w AS (
  SELECT t.probe_id, t.tok_h,
         CAST(t.c AS DOUBLE) * ((n.n + 1.0) / (d.dfb + 1.0)) AS w
  FROM probe_tf t, n_docs n
  JOIN df d ON d.tok_h = t.tok_h
),
probe_wnorm AS (
  SELECT probe_id, sqrt(sum(w * w)) AS nrm FROM probe_w GROUP BY 1
),
wdots AS (
  SELECT p.probe_id, d.doc_id, sum(p.w * d.w) AS dot
  FROM probe_w p JOIN doc_w d ON p.tok_h = d.tok_h
  GROUP BY 1, 2
),
wscored AS (
  SELECT t.probe_id, t.doc_id,
         round(t.dot / (pn.nrm * dn.nrm), 6) AS cos,
         row_number() OVER (PARTITION BY t.probe_id
                            ORDER BY round(t.dot / (pn.nrm * dn.nrm), 6) DESC,
                                     t.doc_id) AS rank
  FROM wdots t
  JOIN probe_wnorm pn ON pn.probe_id = t.probe_id
  JOIN doc_wnorm dn ON dn.doc_id = t.doc_id
)
"""


@register(
    "q_tfidf_retrieval",
    oracle=f"""
WITH {_TFIDF_CTES}
SELECT probe_id, CAST(rank AS INT) AS rank, doc_id, cos
FROM wscored WHERE rank <= {TOP_K}
""",
)
def q_tfidf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 retrieval with TF-IDF weighting: the inverted-index TF
    tables from q_rag_retrieval joined against a per-token
    document-frequency table (one extra aggregate over the index —
    vocabulary-sized, sublinear in corpus, joined on the same tok_h
    key), then the same posting-list equi-join dot products with the
    probe side broadcast. The idf is also the continuous stopword
    down-weighting that replaces a hard df cut on this corpus (31-token
    vocabulary, ~80% df — see module docstring). Rational smoothed idf
    (see _TFIDF_CTES) for cross-engine bit-parity."""
    doc_tf, probe_tf = _doc_probe_tf(spark, sf_dir)

    # r13: the idf table, the WEIGHTED corpus postings, and the per-doc
    # norms are pure functions of the corpus — TF-IDF INDEX artifacts,
    # not per-serve work. The r12 plan recomputed doc_w (a doc_tf ⋈
    # df_tbl join) twice per call (dots branch + norm branch) and
    # df_tbl twice inside that; routing all three through the bounded
    # per-sf substrate cache leaves the serve path as one broadcast
    # probe join + groupBy + top-k window. Same expressions, same
    # left-to-right float folds — cached values are bit-identical.
    def _build_tfidf_index():
        n_row = F.broadcast(
            io.load_table(spark, sf_dir, "documents").agg(
                (F.count("*") + F.lit(1)).cast("double").alias("n1")
            )
        )
        idf_tbl = (
            doc_tf.groupBy("tok_h")
            .agg(F.count("*").cast("double").alias("dfb"))
            .crossJoin(n_row)
            .select(
                "tok_h",
                (F.col("n1") / (F.col("dfb") + F.lit(1.0))).alias("idf"),
            )
        )
        doc_w = doc_tf.join(idf_tbl, "tok_h").select(
            "doc_id",
            "tok_h",
            (F.col("c").cast("double") * F.col("idf")).alias("w"),
        )
        doc_norm = doc_w.groupBy("doc_id").agg(
            F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
        )
        return idf_tbl, doc_w, doc_norm

    idf_tbl, doc_w, doc_norm = cached_substrates(
        "tfidf_index", spark, sf_dir, _build_tfidf_index
    )
    probe_w = probe_tf.join(idf_tbl, "tok_h").select(
        "probe_id",
        "tok_h",
        (F.col("c").cast("double") * F.col("idf")).alias("w"),
    )
    probe_norm = probe_w.groupBy("probe_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("pnrm")
    )
    dots = (
        F.broadcast(probe_w.withColumnRenamed("w", "pw"))
        .join(doc_w.withColumnRenamed("w", "dw"), "tok_h")
        .groupBy("probe_id", "doc_id")
        .agg(F.sum(F.col("pw") * F.col("dw")).alias("dot"))
    )
    cos = F.round(F.col("dot") / (F.col("pnrm") * F.col("nrm")), 6)
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("doc_id"))
    ranked = (
        dots.join(F.broadcast(probe_norm), "probe_id")
        .join(doc_norm, "doc_id")
        .select("probe_id", "doc_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
    )
    return ranked.filter(F.col("rank") <= TOP_K).select(
        "probe_id", F.col("rank").cast("int"), "doc_id", "cos"
    )


@register(
    "q_rag_eval",
    oracle=f"""
WITH {_SCORED_CTES},
gold AS (
  SELECT probe_id, rank AS gold_rank FROM scored WHERE doc_id = probe_id
)
SELECT count(*) AS n_probes,
       CAST(sum(CASE WHEN gold_rank <= {TOP_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST(sum(CASE WHEN gold_rank <= {TOP_K} THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS hit_rate,
       round(avg(1.0 / gold_rank), 6) AS mrr
FROM gold
""",
)
def q_rag_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The evaluation aggregate (reference §3.3 / K6 score sink):
    per-probe gold rank (does the probe's source document come back?)
    reduced to hit@5 and MRR. The engine's deterministic stand-in for
    the RAGAS score.json — same dataflow, no LLM judge."""
    s = _scored(spark, sf_dir)
    gold = s.filter(F.col("doc_id") == F.col("probe_id")).select(
        "probe_id", F.col("rank").alias("gold_rank")
    )
    hit = (F.col("gold_rank") <= TOP_K).cast("int")
    return gold.agg(
        F.count("*").alias("n_probes"),
        F.sum(hit).cast("bigint").alias("n_hits"),
        (F.sum(hit).cast("double") / F.count("*")).alias("hit_rate"),
        F.round(F.avg(F.lit(1.0) / F.col("gold_rank")), 6).alias("mrr"),
    )


RERANK_CAND = 20
RERANK_K = 5


@register(
    "q_rag_rerank",
    oracle=f"""
WITH {_SCORED_CTES},
cands AS (SELECT probe_id, doc_id, cos AS cos1 FROM scored WHERE rank <= {RERANK_CAND}),
pair_dots AS (
  SELECT c.probe_id, c.doc_id, sum(CAST(p.c * d.c AS DOUBLE)) AS dot2
  FROM cands c
  JOIN doc_tf p ON p.doc_id = c.probe_id
  JOIN doc_tf d ON d.doc_id = c.doc_id AND d.tok_h = p.tok_h
  GROUP BY 1, 2
),
rer AS (
  SELECT c.probe_id, c.doc_id, c.cos1,
         round(COALESCE(pd.dot2, CAST(0 AS DOUBLE)) / (pn.nrm * dn.nrm), 6) AS cos2
  FROM cands c
  LEFT JOIN pair_dots pd ON pd.probe_id = c.probe_id AND pd.doc_id = c.doc_id
  JOIN doc_norm pn ON pn.doc_id = c.probe_id
  JOIN doc_norm dn ON dn.doc_id = c.doc_id
),
rr AS (
  SELECT probe_id, doc_id, cos1, cos2,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cos2 DESC, doc_id) AS rank2
  FROM rer
)
SELECT probe_id, CAST(rank2 AS INT) AS rank2, doc_id, cos2, cos1
FROM rr WHERE rank2 <= {RERANK_K}
""",
)
def q_rag_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascade retrieval (the production RAG shape): the cheap sparse
    probe-span stage recalls top-{RERANK_CAND} candidates, then an
    expensive second stage — full-document TF cosine — rescores ONLY
    those candidate pairs and keeps top-{RERANK_K}. The rerank join
    touches |probes|x{RERANK_CAND} pairs, never the corpus: that bound
    is the whole economics of cascades at 100 TB (stage-2 cost is
    per-candidate, not per-document). Candidate pairs sharing no
    common token keep cos2 = 0 via the left join (both engines).
    All partial products are small-integer doubles, so every sum is
    exact and the two-stage ranking is bit-deterministic."""
    # Build the inverted index ONCE and share it between stage 1 and
    # stage 2: identical subplans let Spark reuse the index-build
    # exchange instead of re-scanning and re-hashing the corpus.
    doc_tf, probe_tf = _doc_probe_tf(spark, sf_dir)
    cands = (
        _scored(spark, sf_dir, tf_pair=(doc_tf, probe_tf))
        .filter(F.col("rank") <= RERANK_CAND)
        .select("probe_id", "doc_id", F.col("cos").alias("cos1"))
    )
    doc_norm = _norm(doc_tf, "doc_id")
    pair_dots = (
        cands.select("probe_id", "doc_id")
        .join(
            doc_tf.withColumnRenamed("doc_id", "probe_id").withColumnRenamed(
                "c", "pc"
            ),
            "probe_id",
        )
        .join(doc_tf.withColumnRenamed("c", "dc"), ["doc_id", "tok_h"])
        .groupBy("probe_id", "doc_id")
        .agg(F.sum((F.col("pc") * F.col("dc")).cast("double")).alias("dot2"))
    )
    rer = (
        cands.join(pair_dots, ["probe_id", "doc_id"], "left")
        .join(
            doc_norm.withColumnRenamed("doc_id", "probe_id").withColumnRenamed(
                "nrm", "pnrm"
            ),
            "probe_id",
        )
        .join(doc_norm, "doc_id")
        .select(
            "probe_id",
            "doc_id",
            "cos1",
            F.round(
                F.coalesce(F.col("dot2"), F.lit(0.0))
                / (F.col("pnrm") * F.col("nrm")),
                6,
            ).alias("cos2"),
        )
    )
    w2 = Window.partitionBy("probe_id").orderBy(F.desc("cos2"), F.asc("doc_id"))
    return (
        rer.withColumn("rank2", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank2") <= RERANK_K)
        .select("probe_id", "rank2", "doc_id", "cos2", "cos1")
    )


# --- BM25 over the inverted index --------------------------------------------
#
# Okapi BM25 with k1 = 6/5 and b = 3/4 kept RATIONAL so every term score
# is one integer division (exact, engine-independent):
#
#   score(t,d) = qtf * idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
#
# multiply numerator and denominator by 20*avgdl and substitute the
# smoothed rational idf (N+1)/(df+1):
#
#   score_scaled = floor( S * (N+1) * 44 * qtf * tf * avgdl
#                         / ((df+1) * (20*tf*avgdl + 6*avgdl + 18*dl)) )
#
# with S = 1e6. All factors are positive BIGINTs (floor == trunc on both
# engines); the per-(probe,doc) score is an exact SUM of term integers,
# so ranking is bit-deterministic.
#
# Everything but qtf is a function of the corpus version, so it is
# published once per corpus as the BM25 IMPACT STORE: one row per
# posting, (tok_h, doc_id, num, den) with
#
#   num = S * (N+1) * 44 * tf * avgdl
#   den = (df+1) * (20*tf*avgdl + 6*avgdl + 18*dl)
#
# and a request's term score is (qtf * num) div den — the same integer
# product regrouped before the one division, so scores and ranks are
# bit-identical to the expanded formula the oracles compute.
#
# Magnitude bound: qtf * num = S·(N+1)·44·qtf·tf·avgdl must stay below
# 2^63 ≈ 9.2e18, i.e. (N+1)·qtf·tf·avgdl < 2.1e11 at S = 1e6. At sf0.1
# (N = 5000, avgdl = 54, tf ≤ 14, qtf ≤ 10) it is ~1.7e15. Past the
# bound the BIGINT multiply fails with ARITHMETIC_OVERFLOW (ANSI mode,
# the Spark 4 default): in the store build if num alone overflows, in
# the request if qtf * num does. A score never wraps; at web scale
# rescale S or widen to DECIMAL(38,0).
BM25_SCALE = 1_000_000

# The full BM25 ranking over _SCORED_CTES's TF tables: q_bm25_retrieval
# keeps its top 5, q_rag_fusion and q_hard_negatives read deeper.
_BM25_RANKED_CTES = f"""
dl AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS dl FROM doc_tf GROUP BY 1
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) // count(*) AS BIGINT) AS avgdl
  FROM dl
),
dfr AS (
  SELECT tok_h, CAST(count(*) AS BIGINT) AS dfb FROM doc_tf GROUP BY 1
),
term_scores AS (
  SELECT p.probe_id, d.doc_id,
         CAST(({BM25_SCALE}::BIGINT * (s.n_docs + 1) * 44 * p.c * d.c * s.avgdl)
              // ((f.dfb + 1) * (20 * d.c * s.avgdl + 6 * s.avgdl + 18 * l.dl))
              AS BIGINT) AS ts
  FROM probe_tf p
  JOIN doc_tf d ON d.tok_h = p.tok_h
  JOIN dfr f ON f.tok_h = p.tok_h
  JOIN dl l ON l.doc_id = d.doc_id
  CROSS JOIN stats s
),
bm_ranked AS (
  SELECT probe_id, doc_id, CAST(sum_ts AS BIGINT) AS score_scaled,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY sum_ts DESC, doc_id) AS rank
  FROM (SELECT probe_id, doc_id, CAST(sum(ts) AS BIGINT) AS sum_ts
        FROM term_scores GROUP BY 1, 2)
)"""


@register(
    "q_bm25_retrieval",
    oracle=f"""
WITH {_SCORED_CTES},
{_BM25_RANKED_CTES}
SELECT probe_id, CAST(rank AS INT) AS rank, doc_id, score_scaled
FROM bm_ranked WHERE rank <= {TOP_K}
""",
)
def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 Okapi BM25 retrieval over the token-hash inverted index —
    the standard lexical ranking function, computed in EXACT integer
    arithmetic (rational k1/b folded into one bigint division per term;
    see the derivation above) so distributed partial-sum order cannot
    perturb ranks. Plan shape: the probe TF side broadcasts onto the
    published impact store, whose rows already carry every corpus
    factor (df, dl, N, avgdl); one join, one sum, one rank window."""
    ranked = _bm25_ranked(spark, sf_dir)
    return ranked.filter(F.col("rank") <= TOP_K).select(
        "probe_id", "rank", "doc_id", "score_scaled"
    )


def _bm25_ranked(
    spark: SparkSession,
    sf_dir: str,
    tf_pair: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """(probe_id, doc_id, score_scaled, rank) — the full BM25 ranking,
    shared by q_bm25_retrieval (top-5), q_rag_fusion (depth-20) and
    q_hard_negatives. Scores come off the corpus's published impact
    store (bm25_impact_view), so a request is the broadcast probe join,
    one integer sum and the rank window. `tf_pair` is (doc_tf,
    probe_tf) as the multi-ranker consumers thread it; only its
    probe_tf is read here, its doc_tf is not (the impact store already
    holds every corpus factor)."""
    probe_tf = tf_pair[1] if tf_pair is not None else _probe_tf(spark, sf_dir)
    view = cached_substrates(
        "bm25_impact", spark, sf_dir, lambda: bm25_impact_view(spark, sf_dir)
    )
    return bm25_rank(probe_tf, spark.table(view))


def bm25_rank(probe_tf: DataFrame, impact: DataFrame) -> DataFrame:
    """Rank every (probe, doc) pair sharing a term: the probe's
    (probe_id, tok_h, c) broadcast onto the impact rows of its terms,
    term scores (qtf * num) div den summed per pair, then row_number by
    (score DESC, doc_id) per probe."""
    term = F.broadcast(probe_tf.withColumnRenamed("c", "qtf")).join(
        impact, "tok_h"
    )
    bm = term.groupBy("probe_id", "doc_id").agg(
        F.sum(F.expr("(qtf * num) div den")).cast("bigint").alias("score_scaled")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("score_scaled"), F.asc("doc_id")
    )
    return bm.withColumn("rank", F.row_number().over(w).cast("int"))


# _v1: (tok_h, doc_id, num, den) in BM25_IMPACT_FILES files
BM25_IMPACT_FAMILY = "spark_graft_bm25_impact_v1"
BM25_IMPACT_SCHEMA = "tok_h BIGINT, doc_id BIGINT, num BIGINT, den BIGINT"
# Files per impact store, hash-split on doc_id, each sorted by tok_h. A
# request's join runs one task per scan split and small files pack into
# about one split per core, so the file count caps its parallelism;
# each file also costs every request a footer read. Measured at
# local[4]: one file range-split on tok_h (a skewed, low-cardinality
# key here, the posting-store lesson above) ran q_bm25_retrieval at
# sf0.1 in one task, 3.2 s against 1.4 s over the posting store's 32
# buckets; 32 bucketed files cost every small retrieve request one task
# per file, and its p90 rose from ~0.7 s to ~0.9 s; 8 files gave 1.5 s
# at sf0.1 and a retrieve p90 within run-to-run spread of one file's.
BM25_IMPACT_FILES = 8


def bm25_impact_view(spark: SparkSession, sf_dir: str) -> str:
    """Publish the BM25 impact store of `sf_dir`'s corpus (store
    contract, keyed like the posting store it is built from) and
    register it as a temp view; returns the view's name. Callers hold
    the name in the substrate cache, so a request resolves the view —
    file listing and schema included — without a footer read or a job
    of its own."""
    doc_tf = doc_tf_table(spark, sf_dir)  # the source: adopted or built first
    n_postings = ST.parquet_rows(posting_store_path(sf_dir))
    path = ST.corpus_path(BM25_IMPACT_FAMILY, sf_dir, "documents")

    def build(tmp: str) -> None:
        dl = doc_tf.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("dl"))
        n_docs, total = dl.agg(F.count("*"), F.sum("dl")).first()
        avgdl = total // n_docs
        df = doc_tf.groupBy("tok_h").agg(F.count("*").cast("bigint").alias("df"))
        (
            doc_tf.join(df, "tok_h")
            .join(dl, "doc_id")
            .select(
                "tok_h",
                "doc_id",
                F.expr(
                    f"{BM25_SCALE}L * {n_docs + 1}L * 44L * c * {avgdl}L"
                ).alias("num"),
                F.expr(
                    f"(df + 1) * (20L * c * {avgdl}L + {6 * avgdl}L + 18L * dl)"
                ).alias("den"),
            )
            .repartition(BM25_IMPACT_FILES, "doc_id")
            .sortWithinPartitions("tok_h", "doc_id")
            .write.parquet(tmp)
        )

    ST.publish(
        path,
        build,
        validate=lambda p: ST.has_success(p) and ST.parquet_rows(p) == n_postings,
    )
    name = f"bm25_impact_{os.path.basename(path)}"
    spark.read.schema(BM25_IMPACT_SCHEMA).parquet(path).createOrReplaceTempView(
        name
    )
    return name


# --- LLM-judged per-row metrics (the RAGAS dataset scorer seam) ------------


@register(
    "q_rag_judged",
    oracle=f"""
WITH {_SCORED_CTES},
topk AS (SELECT probe_id, doc_id FROM scored WHERE rank <= {TOP_K}),
nctx AS (
  SELECT probe_id, CAST(count(*) AS INT) AS n_contexts FROM topk GROUP BY 1
),
ctx_tok AS (
  SELECT DISTINCT probe_id, tok FROM (
    SELECT t.probe_id, unnest({TX.TOKENS_SQL}) AS tok
    FROM topk t JOIN (SELECT doc_id, text FROM documents) d
      ON d.doc_id = t.doc_id
  )
),
ans_tok AS (
  SELECT DISTINCT probe_id, tok FROM (
    SELECT doc_id AS probe_id, unnest({TX.TOKENS_SQL}) AS tok
    FROM (SELECT doc_id, text FROM documents WHERE doc_id < {N_PROBES})
  )
),
q_tok AS (SELECT DISTINCT probe_id, tok FROM probe_tok),
faith AS (
  SELECT a.probe_id,
         (1000000 * CAST(sum(CASE WHEN c.tok IS NOT NULL THEN 1 ELSE 0 END)
                         AS BIGINT)) // CAST(count(*) AS BIGINT)
           AS faithfulness_ppm
  FROM ans_tok a
  LEFT JOIN ctx_tok c ON c.probe_id = a.probe_id AND c.tok = a.tok
  GROUP BY 1
),
rel AS (
  SELECT probe_id,
         (1000000 * CAST(sum(in_q * in_a) AS BIGINT))
           // CAST(count(*) AS BIGINT) AS relevancy_ppm
  FROM (
    SELECT COALESCE(q.probe_id, a.probe_id) AS probe_id,
           CASE WHEN q.tok IS NOT NULL THEN 1 ELSE 0 END AS in_q,
           CASE WHEN a.tok IS NOT NULL THEN 1 ELSE 0 END AS in_a
    FROM q_tok q
    FULL OUTER JOIN ans_tok a
      ON a.probe_id = q.probe_id AND a.tok = q.tok
  ) GROUP BY 1
)
SELECT n.probe_id, n.n_contexts, f.faithfulness_ppm, r.relevancy_ppm
FROM nctx n
JOIN faith f ON f.probe_id = n.probe_id
JOIN rel r ON r.probe_id = n.probe_id
""",
)
def q_rag_judged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row judged metrics over the RAG dataset — the reference's
    make_ragas_dataset.py:78-110 evaluate() loop re-expressed as a
    batched judge seam (operators/judge.py): build the QA frame
    (question = the probe span, answer = the gold document, contexts =
    the retrieved top-{TOP_K} texts), then score every row through an
    Arrow-batched mapInPandas judge client. The hermetic default judge
    is deterministic-lexical (integer ppm), so a DuckDB oracle replays
    the scores exactly; a production adapter swaps in an HTTP LLM judge
    with zero dataflow changes.

    Scale: contexts are |probes|×{TOP_K} rows (the topk side broadcasts
    into the corpus join); scoring is a narrow batched map, no shuffle
    beyond the bounded per-probe collect_list."""
    from ..operators.judge import judge_scores

    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    topk = (
        _scored(spark, sf_dir)
        .filter(F.col("rank") <= TOP_K)
        .select("probe_id", "doc_id")
    )
    ctx = (
        F.broadcast(topk)
        .join(docs, "doc_id")
        .groupBy("probe_id")
        .agg(F.collect_list("text").alias("contexts"))
    )
    toks = TX.tokens(F.lower(F.col("text")))
    probes = docs.filter(F.col("doc_id") < N_PROBES).select(
        F.col("doc_id").alias("probe_id"),
        F.array_join(F.slice(toks, 3, 10), " ").alias("question"),
        F.col("text").alias("answer"),
    )
    qa = probes.join(ctx, "probe_id").select(
        "probe_id", "question", "answer", "contexts"
    )
    return judge_scores(qa)


# --- deterministic testset generation (G7 data path) -----------------------

TESTSET_EVERY = 3  # sample stride over eligible documents


@register(
    "q_testset_generate",
    oracle=f"""
WITH tokd AS (
  SELECT doc_id, {TX.TOKENS_SQL} AS tok, text
  FROM (SELECT doc_id, text FROM documents)
)
SELECT doc_id AS source_doc_id,
       array_to_string(tok[3:12], ' ') AS question,
       text AS ground_truth,
       CAST(len(tok) AS BIGINT) AS n_source_tokens
FROM tokd
WHERE len(tok) >= 12 AND doc_id % {TESTSET_EVERY} = 0
""",
)
def q_testset_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 testset generation, determinized (reference
    make_ragas_test.py:95-132 uses TestsetGenerator.generate_with_
    langchain_docs — an LLM synthesizes questions from document chunks).
    The engine's hermetic twin keeps the full data path: eligible-source
    selection (≥12 tokens, every {TESTSET_EVERY}rd doc), a question
    derived from the document (the mid-document token span, same probe
    family as q_rag_retrieval), the document as ground truth, and
    provenance columns — the QA dataset the RAG evaluator (q_rag_eval /
    q_rag_judged) consumes. Swapping the span-question for an
    LLM-generated one is a judge-seam client away (operators/judge.py);
    the selection, fan-out, and sink shape stay identical.

    Scale: a narrow map + filter over the corpus scan — no shuffle at
    all; sampling is modulo-stride (deterministic) rather than random."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = TX.tokens(F.lower(F.col("text")))
    return (
        docs.withColumn("tok", toks)
        .filter(
            (F.size("tok") >= 12) & (F.col("doc_id") % TESTSET_EVERY == 0)
        )
        .select(
            F.col("doc_id").alias("source_doc_id"),
            F.array_join(F.slice("tok", 3, 10), " ").alias("question"),
            F.col("text").alias("ground_truth"),
            F.size("tok").cast("bigint").alias("n_source_tokens"),
        )
    )


# --- reciprocal rank fusion (hybrid retrieval) ------------------------------

RRF_K = 60          # the standard RRF dampening constant
RRF_DEPTH = 20      # fuse the top-20 from each ranker
RRF_SCALE = 10_000_000  # integer 1/(k+rank): floor(SCALE/(RRF_K+rank))


@register(
    "q_rag_fusion",
    oracle=f"""
WITH {_SCORED_CTES},
{_BM25_RANKED_CTES},
cands AS (
  SELECT coalesce(b.probe_id, c.probe_id) AS probe_id,
         coalesce(b.doc_id, c.doc_id) AS doc_id,
         coalesce(b.rank, 0) AS bm25_rank,
         coalesce(c.rank, 0) AS cos_rank,
         (CASE WHEN b.rank IS NULL THEN 0
               ELSE {RRF_SCALE} // ({RRF_K} + b.rank) END)
         + (CASE WHEN c.rank IS NULL THEN 0
                 ELSE {RRF_SCALE} // ({RRF_K} + c.rank) END) AS fused
  FROM (SELECT * FROM bm_ranked WHERE rank <= {RRF_DEPTH}) b
  FULL OUTER JOIN
       (SELECT probe_id, doc_id, rank FROM scored
        WHERE rank <= {RRF_DEPTH}) c
    ON b.probe_id = c.probe_id AND b.doc_id = c.doc_id
)
SELECT probe_id, CAST(rank AS INT) AS rank, doc_id,
       CAST(fused AS BIGINT) AS fused_score,
       CAST(bm25_rank AS INT) AS bm25_rank,
       CAST(cos_rank AS INT) AS cos_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY probe_id
                               ORDER BY fused DESC, doc_id) AS rank
  FROM cands
)
WHERE rank <= {TOP_K}
""",
)
def q_rag_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank fusion — the standard hybrid-retrieval combiner
    (Cormack et al. 2009, what production search uses to merge lexical
    and vector rankers without score calibration): top-{RRF_DEPTH}
    BM25 and top-{RRF_DEPTH} TF-cosine lists merge per probe on a
    FULL OUTER (probe, doc) join, each presence contributing
    floor({RRF_SCALE}/({RRF_K}+rank)) — rank-only, so the two rankers'
    incomparable score scales never touch — and the fused list
    re-ranks by (fused DESC, doc_id). Integer floor-division keeps the
    fusion bit-identical across engines (the float 1/(k+r) would be,
    too, but the integer form needs no rounding discipline at all).

    Scale: the TF-cosine ranking comes off the persisted posting index
    (_doc_probe_tf), BM25 off the impact store built from that same
    posting store, and both share one probe TF — the fusion itself
    touches only 2·{RRF_DEPTH} rows per probe, so the combiner costs
    nothing against the rankers it merges; rankers can be added by
    union rather than schema change."""
    tf_pair = _doc_probe_tf(spark, sf_dir)  # ONE probe TF for both rankers
    bm = (
        _bm25_ranked(spark, sf_dir, tf_pair=tf_pair)
        .filter(F.col("rank") <= RRF_DEPTH)
        .select("probe_id", "doc_id", F.col("rank").alias("bm25_rank"))
    )
    cos = (
        _scored(spark, sf_dir, tf_pair=tf_pair)
        .filter(F.col("rank") <= RRF_DEPTH)
        .select("probe_id", "doc_id", F.col("rank").alias("cos_rank"))
    )
    return rrf_fuse(bm, cos).filter(F.col("rank") <= TOP_K)


def rrf_fuse(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fuse two per-probe rankings — (probe_id, doc_id, <name>_rank)
    each — by reciprocal rank: floor({RRF_SCALE}/({RRF_K}+rank)) per
    presence, full-outer on (probe, doc), re-ranked by (fused DESC,
    doc_id). Rank columns must be named distinctly (e.g. bm25_rank /
    cos_rank); absent entries contribute 0 and report rank 0.
    Factored out of q_rag_fusion so the rank-only invariance law
    (fusion ignores scores entirely) is testable on arbitrary
    rankings (tests/test_property_laws.py)."""
    ra, rb = a.columns[2], b.columns[2]
    cands = a.join(b, ["probe_id", "doc_id"], "full_outer").select(
        "probe_id",
        "doc_id",
        F.coalesce(ra, F.lit(0)).cast("int").alias(ra),
        F.coalesce(rb, F.lit(0)).cast("int").alias(rb),
        (
            F.when(
                F.col(ra).isNotNull(),
                F.expr(f"{RRF_SCALE} div ({RRF_K} + {ra})"),
            ).otherwise(F.lit(0))
            + F.when(
                F.col(rb).isNotNull(),
                F.expr(f"{RRF_SCALE} div ({RRF_K} + {rb})"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("fused_score"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("fused_score"), F.asc("doc_id")
    )
    return cands.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "probe_id", "rank", "doc_id", "fused_score", ra, rb
    )


# --- hard-negative mining (retriever training data) -------------------------

HN_K = 5  # negatives mined per probe


@register(
    "q_hard_negatives",
    oracle=f"""
WITH {_SCORED_CTES},
{_BM25_RANKED_CTES},
gold AS (
  SELECT probe_id, CAST(min(rank) AS INT) AS gold_rank
  FROM bm_ranked WHERE doc_id = probe_id GROUP BY 1
),
negs AS (
  SELECT probe_id, doc_id, score_scaled,
         row_number() OVER (PARTITION BY probe_id ORDER BY rank) AS neg_rank
  FROM bm_ranked
  WHERE doc_id <> probe_id AND rank <= {HN_K + 1}
)
SELECT n.probe_id, CAST(n.neg_rank AS INT) AS neg_rank, n.doc_id,
       n.score_scaled, g.gold_rank
FROM negs n JOIN gold g ON g.probe_id = n.probe_id
WHERE n.neg_rank <= {HN_K}
""",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the DPR/ANCE training-data op: for each
    probe, the top-{HN_K} BM25-ranked documents that are NOT the gold
    document (here gold = the probe's source doc, since probes are
    token spans sliced from it), plus the gold's own rank as the
    mining-quality signal (a gold ranked deep means the miner is
    harvesting negatives harder than the positive — the label-noise
    regime ANCE filters for).

    Scale: one pass over the shared BM25 ranking (persisted through
    the bounded per-sf cache — it feeds the gold-rank branch and the
    negatives branch, and the old per-call persist leaked one pinned
    entry per bench run, r11 verdict #2), candidates bounded to
    rank <= {HN_K + 1} before the per-probe re-rank, and the gold
    table is |probes| rows riding a broadcast join. Nothing here
    touches the corpus beyond the impact-store join the ranking
    already did."""

    full = cached_substrates(
        "bm25_full_ranking",
        spark,
        sf_dir,
        lambda: _bm25_ranked(spark, sf_dir),
    )
    gold = (
        full.filter(F.col("doc_id") == F.col("probe_id"))
        .groupBy("probe_id")
        .agg(F.min("rank").cast("int").alias("gold_rank"))
    )
    wn = Window.partitionBy("probe_id").orderBy(F.asc("rank"))
    negs = (
        full.filter(
            (F.col("doc_id") != F.col("probe_id"))
            & (F.col("rank") <= HN_K + 1)
        )
        .withColumn("neg_rank", F.row_number().over(wn).cast("int"))
        .filter(F.col("neg_rank") <= HN_K)
    )
    return negs.join(F.broadcast(gold), "probe_id").select(
        "probe_id", "neg_rank", "doc_id", "score_scaled", "gold_rank"
    )
