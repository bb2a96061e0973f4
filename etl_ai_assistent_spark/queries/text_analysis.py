"""Text-analysis queries (north-star LLM-data-pipeline family).

The reference has no text analytics at all (its only text "metric" is
len() counts, docx_etl.py:233-236); this family is the BASELINE.json
extension surface: language-ID, quality scoring, token counting, corpus
profiling. Document fingerprinting lives with its siblings in
queries/dedup.py (q_fingerprint).

Everything is pure built-in expressions (JVM-side, codegen'd — no UDFs
in any of these paths), and every ratio that reaches a result column is
rounded to 6 decimals on both engines so float parity is exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io
from .. import store as ST
from ..functions import md5_bucket, md5_bucket_sql
from ..functions import text as TX
from ..registry import register
from ..substrates import per_call

# DuckDB twin of functions.text.tokens (same as queries/dedup.py)
# BPE-ish subword tokenizer: letter runs | single digits | single
# non-alnum marks. Same regex in Java (Spark) and RE2 (DuckDB) dialects.
BPE_RE = "[a-z]+|[0-9]|[^a-z0-9\\s]"


def _hits_sql(stopwords: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in stopwords)
    return f"len(list_filter(tok, t -> t IN ({inlist})))"


# --- token counting ----------------------------------------------------------

@register(
    "q_token_stats",
    oracle=f"""
SELECT doc_id,
       len(tok) AS n_tokens,
       len(regexp_extract_all(lower(text), '{BPE_RE}')) AS n_bpe_tokens,
       length(text) AS n_chars_measured,
       round(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
             / greatest(len(tok), 1), 6) AS avg_token_len
FROM (SELECT doc_id, text, {TX.TOKENS_SQL} AS tok FROM documents)
""",
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways — whitespace tokens and a BPE-ish regex
    subword count — plus char count and mean token length. All
    regexp/size expressions inside whole-stage codegen; the scan reads
    only (doc_id, text)."""
    docs = io.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", TX.token_count("text").alias("ntk")
    )
    n_tok = F.col("ntk")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_RE), 0)
        ).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_measured"),
        F.round(
            F.length(F.regexp_replace(F.col("text"), r"\s", "")).cast("double")
            / F.greatest(n_tok, F.lit(1)),
            6,
        ).alias("avg_token_len"),
    )


# --- language identification -------------------------------------------------

@register(
    "q_lang_id",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_hits_sql(TX.LANG_STOPWORDS["de"])} AS s_de,
         {_hits_sql(TX.LANG_STOPWORDS["en"])} AS s_en,
         {_hits_sql(TX.LANG_STOPWORDS["es"])} AS s_es,
         {_hits_sql(TX.LANG_STOPWORDS["fr"])} AS s_fr,
         length(text) - length(regexp_replace(text, '[\\x{{4e00}}-\\x{{9fff}}]', '', 'g'))
           AS s_zh
  FROM (SELECT doc_id, lang, text, {TX.TOKENS_SQL} AS tok FROM documents)
)
SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
       substr(greatest(lpad(CAST(s_de AS VARCHAR), 6, '0') || 'de',
                       lpad(CAST(s_en AS VARCHAR), 6, '0') || 'en',
                       lpad(CAST(s_es AS VARCHAR), 6, '0') || 'es',
                       lpad(CAST(s_fr AS VARCHAR), 6, '0') || 'fr',
                       lpad(CAST(s_zh AS VARCHAR), 6, '0') || 'zh'), 7) AS pred_lang,
       CAST(substr(greatest(lpad(CAST(s_de AS VARCHAR), 6, '0') || 'de',
                            lpad(CAST(s_en AS VARCHAR), 6, '0') || 'en',
                            lpad(CAST(s_es AS VARCHAR), 6, '0') || 'es',
                            lpad(CAST(s_fr AS VARCHAR), 6, '0') || 'fr',
                            lpad(CAST(s_zh AS VARCHAR), 6, '0') || 'zh'), 7) = lang
            AS INT) AS is_correct
FROM scored
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language stopword-occurrence scores
    (de/en/es/fr) + CJK char-class evidence (zh); argmax with a
    deterministic tie-break (score, then language code) done by
    formatting each channel as 'zero-padded-score || code' and taking
    greatest() — identical total order on both engines, no struct
    comparison semantics to trust."""
    docs = io.load_table(spark, sf_dir, "documents").select(
        # tokenize once; per-language channels then score the cheap
        # attribute instead of re-splitting the text per language
        "doc_id",
        "lang",
        "text",
        TX.tokens(F.lower(F.col("text"))).alias("tok"),
    )
    scores = {
        f"s_{code}": TX.stopword_hits_in("tok", words)
        for code, words in TX.LANG_STOPWORDS.items()
    }
    scores["s_zh"] = TX.cjk_char_count("text")
    scored = docs.select("doc_id", "lang", *[c.alias(n) for n, c in scores.items()])
    tagged = F.greatest(
        *[
            F.concat(
                F.lpad(F.col(f"s_{code}").cast("string"), 6, "0"), F.lit(code)
            )
            for code in ("de", "en", "es", "fr", "zh")
        ]
    )
    pred = F.substring(tagged, 7, 2)
    return scored.select(
        "doc_id",
        "s_de",
        "s_en",
        "s_es",
        "s_fr",
        "s_zh",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).cast("int").alias("is_correct"),
    )


# --- quality scoring ---------------------------------------------------------

_EN_STOPS = TX.LANG_STOPWORDS["en"]


@register(
    "q_quality_score",
    oracle=f"""
WITH feats AS (
  SELECT doc_id,
         len(tok) AS n_tokens,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
         {_hits_sql(_EN_STOPS)} AS n_stop,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         greatest(length(text), 1) AS n_chars_g
  FROM (SELECT doc_id, text, {TX.TOKENS_SQL} AS tok FROM documents)
),
ppm AS (
  SELECT doc_id, n_tokens,
         CAST(round(n_punct * 1000000.0 / n_chars_g, 0) AS BIGINT) AS pr_ppm,
         CAST(round(n_stop * 1000000.0 / greatest(n_tokens, 1), 0) AS BIGINT) AS sr_ppm,
         CAST(round(n_digit * 1000000.0 / n_chars_g, 0) AS BIGINT) AS dr_ppm
  FROM feats
)
SELECT doc_id, n_tokens,
       CAST(pr_ppm AS DOUBLE) / 1e6 AS punct_ratio,
       CAST(sr_ppm AS DOUBLE) / 1e6 AS stopword_ratio,
       CAST(dr_ppm AS DOUBLE) / 1e6 AS digit_ratio,
       CAST(least(n_tokens, 100) * 40000 + (1000000 - pr_ppm) * 3
            + least(sr_ppm * 5, 1000000) * 3 AS DOUBLE) / 1e7 AS quality,
       CASE WHEN least(n_tokens, 100) * 40000 + (1000000 - pr_ppm) * 3
                 + least(sr_ppm * 5, 1000000) * 3 >= 7000000
            THEN 'keep' ELSE 'review' END AS quality_band
FROM ppm
""",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring from length / punctuation / stopword /
    digit ratios, composed into a bounded [0,1] quality metric and a
    keep/review band — the pretraining-corpus filter shape. All ratios
    and the weighted composite are computed in integer ppm units
    (exact, no float-tie ambiguity across engines); floats appear only
    as a final exact division by a power of ten."""
    docs = io.load_table(spark, sf_dir, "documents").select(
        # one tokenization per row; every ratio channel reads attributes
        "doc_id",
        "text",
        TX.tokens(F.lower(F.col("text"))).alias("tok"),
    )
    n_tok = F.size(F.col("tok"))
    length_g = F.greatest(F.length("text"), F.lit(1))
    n_punct = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), r"[^\w\s]", "")
    )
    n_digit = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), "[0-9]", "")
    )
    ppm = docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(n_punct * 1000000.0 / length_g, 0).cast("bigint").alias("pr_ppm"),
        F.round(
            TX.stopword_hits_in("tok", _EN_STOPS) * 1000000.0
            / F.greatest(n_tok, F.lit(1)),
            0,
        )
        .cast("bigint")
        .alias("sr_ppm"),
        F.round(n_digit * 1000000.0 / length_g, 0).cast("bigint").alias("dr_ppm"),
    )
    quality_e7 = (
        F.least(F.col("n_tokens"), F.lit(100)) * 40000
        + (F.lit(1000000) - F.col("pr_ppm")) * 3
        + F.least(F.col("sr_ppm") * 5, F.lit(1000000)) * 3
    )
    return ppm.select(
        "doc_id",
        "n_tokens",
        (F.col("pr_ppm").cast("double") / 1e6).alias("punct_ratio"),
        (F.col("sr_ppm").cast("double") / 1e6).alias("stopword_ratio"),
        (F.col("dr_ppm").cast("double") / 1e6).alias("digit_ratio"),
        (quality_e7.cast("double") / 1e7).alias("quality"),
        F.when(quality_e7 >= 7000000, F.lit("keep"))
        .otherwise(F.lit("review"))
        .alias("quality_band"),
    )


# --- corpus profiling --------------------------------------------------------

@register(
    "q_corpus_profile",
    oracle=f"""
SELECT lang, source,
       count(*) AS n_docs,
       round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars_meta,
       CAST(sum(CAST(length(text) <> n_chars AS INT)) AS BIGINT)
         AS n_chars_mismatch,
       CAST(sum(len(tok)) AS BIGINT) AS total_tokens,
       CAST(min(len(tok)) AS BIGINT) AS min_tokens,
       CAST(max(len(tok)) AS BIGINT) AS max_tokens
FROM (SELECT lang, source, n_chars, text, {TX.TOKENS_SQL} AS tok FROM documents)
GROUP BY lang, source
""",
)
def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile by (lang, source): doc counts, metadata-vs-measured
    char-length validation, token totals/extremes. One partial-agg
    shuffle of small tuples; avg is rounded (order-sensitive sum) for
    cross-engine parity."""
    docs = io.load_table(spark, sf_dir, "documents")
    n_tok = TX.token_count("text")
    return (
        docs.select(
            "lang",
            "source",
            "n_chars",
            n_tok.alias("n_tok"),
            (F.length("text") != F.col("n_chars")).cast("int").alias("mismatch"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(F.col("n_chars").cast("double")), 6).alias(
                "avg_chars_meta"
            ),
            F.sum("mismatch").cast("bigint").alias("n_chars_mismatch"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.min("n_tok").cast("bigint").alias("min_tokens"),
            F.max("n_tok").cast("bigint").alias("max_tokens"),
        )
    )


# --- dataset splitting / sampling (training-data pipeline staples) -----------

SPLIT_BUCKET = f"{md5_bucket_sql('CAST(doc_id AS VARCHAR)', salt='split|')} % 100"


@register(
    "q_hash_split",
    oracle=f"""
WITH assigned AS (
  SELECT doc_id, lang,
         CASE WHEN {SPLIT_BUCKET} < 80 THEN 'train'
              WHEN {SPLIT_BUCKET} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang, count(*) AS n_docs,
       count(DISTINCT doc_id) AS n_distinct
FROM assigned
GROUP BY split, lang
""",
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by salted md5 bucket
    of the stable id — the training-data split that survives re-runs,
    backfills, and engine changes (never rand()). Output: per-(split,
    lang) counts. A narrow map + one partial-agg shuffle; at 100 TB the
    split column becomes the write partitioning key."""
    docs = io.load_table(spark, sf_dir, "documents")
    bucket = (
        md5_bucket(F.col("doc_id").cast("string"), salt="split|") % 100
    )
    assigned = docs.select(
        "doc_id",
        "lang",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
        .alias("split"),
    )
    return assigned.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("doc_id").alias("n_distinct"),
    )


@register(
    "q_source_sample",
    oracle=f"""
WITH rates AS (
  SELECT source, count(*) AS n_source,
         least(1.0, 25.0 / count(*)) AS rate
  FROM documents GROUP BY source
),
sampled AS (
  SELECT d.doc_id, d.source
  FROM documents d JOIN rates r ON r.source = d.source
  WHERE {md5_bucket_sql('CAST(d.doc_id AS VARCHAR)', salt='sample|')} % 1000000
        < CAST(r.rate * 1000000 AS BIGINT)
)
SELECT source, count(*) AS n_sampled
FROM sampled GROUP BY source
""",
)
def q_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rebalancing sample (mixture shaping for training
    corpora): each source capped at ~25 docs via a deterministic
    hash-rate filter — rate = min(1, 25/|source|), keep iff
    md5-bucket(id) < rate·1e6. Broadcast-joined rates, narrow filter;
    reproducible across runs and engines (no rand(), no sample())."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "source")
    rates = docs.groupBy("source").agg(
        F.least(F.lit(1.0), F.lit(25.0) / F.count("*")).alias("rate")
    )
    bucket = (
        md5_bucket(F.col("doc_id").cast("string"), salt="sample|") % 1000000
    )
    sampled = docs.join(F.broadcast(rates), "source").filter(
        bucket < (F.col("rate") * 1000000).cast("bigint")
    )
    return sampled.groupBy("source").agg(F.count("*").alias("n_sampled"))


SENT_RE = "[^.!?]+[.!?]*"


@register(
    "q_sentence_stats",
    oracle=f"""
WITH sent AS (
  SELECT doc_id,
         list_filter(
           list_transform(regexp_extract_all(text, '{SENT_RE}'), s -> trim(s)),
           s -> length(s) > 0) AS sents
  FROM documents
)
SELECT doc_id,
       CAST(len(sents) AS BIGINT) AS n_sentences,
       CAST(COALESCE(list_max(list_transform(sents, s -> length(s))), 0)
            AS BIGINT) AS max_sentence_chars,
       CAST(COALESCE(list_sum(list_transform(sents, s -> length(s))), 0)
            AS BIGINT) AS total_sentence_chars
FROM sent
""",
)
def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (regex [.!?]-terminated runs, identical
    under Java regex and RE2) with per-document sentence counts and
    length stats — the preprocessing unit between document and chunk
    granularity. Pure codegen'd regexp/array expressions; the sentence
    array is materialized once per row before the length transforms."""
    docs = io.load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(
            F.transform(
                F.regexp_extract_all(F.col("text"), F.lit(SENT_RE), 0),
                F.trim,
            ),
            lambda s: F.length(s) > 0,
        ).alias("sents"),
    )
    lens = F.transform("sents", F.length)
    return docs.select(
        "doc_id",
        F.size("sents").cast("bigint").alias("n_sentences"),
        F.coalesce(F.array_max(lens), F.lit(0))
        .cast("bigint")
        .alias("max_sentence_chars"),
        F.coalesce(
            F.aggregate(lens, F.lit(0).cast("bigint"), lambda a, x: a + x),
            F.lit(0),
        )
        .cast("bigint")
        .alias("total_sentence_chars"),
    )


# --- tokenizer induction: first BPE merge ----------------------------------


@register(
    "q_bpe_pairs",
    oracle=f"""
WITH tok AS (
  SELECT unnest({TX.TOKENS_SQL}) AS tok
  FROM (SELECT text FROM documents)
),
pairs AS (
  SELECT substr(tok, u.i, 2) AS pair
  FROM (SELECT tok FROM tok WHERE length(tok) >= 2) t,
       unnest(generate_series(1, length(t.tok) - 1)) u(i)
)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM pairs GROUP BY 1
ORDER BY n DESC, pair
LIMIT 20
""",
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary induction — the counting step of the first
    BPE merge: corpus-wide frequencies of ADJACENT CHARACTER PAIRS
    inside whitespace tokens, top-20 (ties break on the pair). Full BPE
    iterates exactly this count with a growing symbol table; the single
    step is the oracle-checkable unit (the q_kmeans_step induction
    pattern applied to tokenizer training).

    Scale: explode to (pair) rows and count — one partial-agg'd shuffle
    bounded by the distinct-pair vocabulary (≤ |alphabet|², tiny), then
    TakeOrderedAndProject for the top-20. No UDFs: the pair fan-out is
    sequence + transform + explode, all codegen."""
    docs = io.load_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("tok"))
    pairs = toks.filter(F.length("tok") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


# --- unigram surprisal scoring (integer-exact LM quality proxy) ------------


@register(
    "q_doc_surprisal",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({TX.TOKENS_SQL}) AS tok
  FROM (SELECT doc_id, text FROM documents)
),
df AS (
  SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM tok GROUP BY 1
),
n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tok),
bits AS (
  SELECT t.doc_id,
         CAST(length(bin(n.n_docs // df.df)) - 1 AS BIGINT) AS b
  FROM tok t JOIN df ON df.tok = t.tok, n
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(b) AS BIGINT) AS surprisal_bits
FROM bits GROUP BY 1
""",
)
def q_doc_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram surprisal scoring — the language-model perplexity proxy
    of corpus curation, kept INTEGER-exact: each token occurrence
    contributes floor(log2(N / df)) whole bits of self-information
    (rare tokens carry more), summed per document. floor(log2(x)) is
    bitlength(x)-1 — no floating log anywhere, so the score is
    engine-exact (the float-discipline answer to 'perplexity needs
    ln'). Low-surprisal documents are boilerplate/repetitive; high are
    rare-vocabulary — both tails are curation signals next to
    q_quality_score and q_repetition_stats.

    Scale: one tokenize pass, a (token → df) aggregate (vocabulary-
    bounded), a posting-list equi-join of tokens to df (same shape as
    the q_rag_retrieval index join), and a per-doc sum. The 1-row
    corpus count broadcasts."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # tok feeds three branches (df table, corpus count, posting join)
    tok = docs.select(
        "doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("tok")
    )
    df_tbl = tok.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    # corpus count from the |docs|-row side, not a distinct-agg over the
    # |tokens|-row explosion: doc_id is unique in documents, so counting
    # docs that tokenize non-empty equals countDistinct(doc_id) over tok
    # (the oracle's formulation) at |docs| cost
    n = (
        docs.filter(TX.token_count(F.lower(F.col("text"))) > 0)
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    bits = (
        tok.join(df_tbl, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            (
                F.length(F.bin(F.expr("n_docs div df"))) - F.lit(1)
            )
            .cast("bigint")
            .alias("b"),
        )
    )
    return bits.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum("b").cast("bigint").alias("surprisal_bits"),
    )


# --- bigram surprisal (integer-exact 2-gram LM quality proxy) --------------


@register(
    "q_bigram_surprisal",
    oracle=f"""
WITH arrs AS (
  SELECT doc_id, {TX.TOKENS_SQL} AS arr
  FROM (SELECT doc_id, text FROM documents)
),
big AS (
  SELECT doc_id, u.bg
  FROM (SELECT doc_id, list_transform(
            generate_series(1, len(arr) - 1),
            i -> arr[i] || ' ' || arr[i + 1]) AS bgs
        FROM arrs WHERE len(arr) >= 2) t,
       unnest(t.bgs) u(bg)
),
c12 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM big GROUP BY 1),
c1 AS (
  SELECT split_part(bg, ' ', 1) AS w1, CAST(count(*) AS BIGINT) AS c1
  FROM big GROUP BY 1
),
bits AS (
  SELECT b.doc_id,
         CAST(length(bin(c1.c1 // c12.c12)) - 1 AS BIGINT) AS bb
  FROM big b
  JOIN c12 ON c12.bg = b.bg
  JOIN c1 ON c1.w1 = split_part(b.bg, ' ', 1)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(bb) AS BIGINT) AS surprisal_bits
FROM bits GROUP BY 1
""",
)
def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal per document — q_doc_surprisal's 2-gram
    sibling: each bigram occurrence contributes
    floor(log2(c(w1·)/c(w1,w2))) whole bits, the integer-exact MLE of
    -log2 P(w2|w1) (prefix counts, no smoothing needed: every observed
    bigram has c12 >= 1 and c1 >= c12, so the ratio is a positive
    integer and bitlength-1 is engine-exact). Low bits = predictable,
    templated text; high = rare transitions — the standard fluency
    axis of LM-based curation, with zero floating logs.

    Scale: bigram fan-out is sequence+transform+explode (codegen, no
    UDF); the (bigram → c12) and (prefix → c1) aggregates are bounded
    by the OBSERVED bigram vocabulary, far below |tokens|²; scoring is
    two posting-list equi-joins (the q_rag_retrieval shape) and a
    per-doc sum. The exploded bigram table feeds three branches; each
    re-derives it with one narrow map over the scan."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    arrs = docs.select(
        "doc_id", TX.tokens(F.lower(F.col("text"))).alias("arr")
    ).filter(F.size("arr") >= 2)
    big = arrs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(arr) - 1),"
                " i -> concat(arr[i - 1], ' ', arr[i]))"
            )
        ).alias("bg"),
    )
    c12 = big.groupBy("bg").agg(F.count("*").cast("bigint").alias("c12"))
    c1 = (
        big.select(F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").cast("bigint").alias("c1"))
    )
    scored = (
        big.join(c12, "bg")
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .join(c1, "w1")
        .select(
            "doc_id",
            (F.length(F.bin(F.expr("c1 div c12"))) - F.lit(1))
            .cast("bigint")
            .alias("bb"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.sum("bb").cast("bigint").alias("surprisal_bits"),
    )


# --- PMI collocations (doc-level association mining) -----------------------

PMI_VOCAB = 50  # df-ranked vocabulary cap — bounds per-doc pair fan-out
PMI_MIN_AB = 2  # ignore singleton co-occurrences


@register(
    "q_token_pmi",
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest({TX.TOKENS_SQL}) AS tok
  FROM (SELECT doc_id, text FROM documents)
),
n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tok),
df AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df,
         row_number() OVER (ORDER BY count(*) DESC, tok) AS rnk
  FROM tok GROUP BY tok
),
vocab AS (SELECT tok, df FROM df WHERE rnk <= {PMI_VOCAB}),
vt AS (
  SELECT t.doc_id, t.tok, v.df FROM tok t JOIN vocab v ON v.tok = t.tok
),
pairs AS (
  SELECT a.tok AS token_a, b.tok AS token_b,
         CAST(count(*) AS BIGINT) AS n_ab,
         max(a.df) AS df_a, max(b.df) AS df_b
  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2
)
SELECT token_a, token_b, n_ab, df_a, df_b,
       CAST(length(bin((n_ab * n.n_docs) // (df_a * df_b))) - 1 AS BIGINT)
         AS pmi_bits
FROM pairs, n
WHERE n_ab >= {PMI_MIN_AB} AND n_ab * n.n_docs >= df_a * df_b
""",
)
def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining — positively associated token pairs at
    the DOCUMENT level: PMI = log2(c_ab·N / (c_a·c_b)) in whole bits
    via the floor-log2 = bitlength−1 idiom (kept alongside the exact
    integer counts, so finer scoring is a post-processing division
    away; only pairs with non-negative PMI and c_ab ≥ {PMI_MIN_AB}
    emit — the collocation set). The q_doc_surprisal discipline: no
    floating logs anywhere.

    Scale: the pair fan-out is the quadratic hazard of co-occurrence
    mining, bounded here the standard way — a df-ranked top-{PMI_VOCAB}
    vocabulary (deterministic ties on the token) prunes the doc-token
    table BEFORE the per-doc self-join, capping pairs per document at
    C({PMI_VOCAB},2) regardless of document length. One distinct-
    tokenize pass feeds df, N, and the join (its exchange is reused);
    the self-join keys on doc_id, so co-located rows pair without a
    second shuffle.
    The 1-row corpus count broadcasts."""
    from pyspark.sql.window import Window as W

    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = (
        docs.select(
            "doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("tok")
        )
        .distinct()
    )
    n = tok.agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    df_tbl = tok.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    vocab = (
        df_tbl.withColumn(
            "rnk", F.row_number().over(W.orderBy(F.desc("df"), F.asc("tok")))
        )
        .filter(F.col("rnk") <= PMI_VOCAB)
        .select("tok", "df")
    )
    vt = tok.join(F.broadcast(vocab), "tok").select("doc_id", "tok", "df")
    a = vt.select(
        "doc_id", F.col("tok").alias("token_a"), F.col("df").alias("dfa")
    )
    b = vt.select(
        "doc_id", F.col("tok").alias("token_b"), F.col("df").alias("dfb")
    )
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b")
        .agg(
            F.count("*").cast("bigint").alias("n_ab"),
            F.max("dfa").alias("df_a"),
            F.max("dfb").alias("df_b"),
        )
    )
    return (
        pairs.crossJoin(F.broadcast(n))
        .filter(
            (F.col("n_ab") >= PMI_MIN_AB)
            & (F.col("n_ab") * F.col("n_docs") >= F.col("df_a") * F.col("df_b"))
        )
        .select(
            "token_a",
            "token_b",
            "n_ab",
            "df_a",
            "df_b",
            (
                F.length(F.bin(F.expr("(n_ab * n_docs) div (df_a * df_b)")))
                - F.lit(1)
            )
            .cast("bigint")
            .alias("pmi_bits"),
        )
    )


# --- trigram-index substring search ----------------------------------------

NEEDLE = "spark window"  # the fixed search phrase (≈6% of docs match)

# additional phrases for the multi-needle serving query — varied match
# rates exercise both dense and sparse posting lists off the same index
NEEDLES: dict[int, str] = {
    0: NEEDLE,
    1: "value table",
    2: "fast merge batch",
    3: "customer stream",
}


# On-disk posting store (r8 verdict #3): the corpus-sized explode +
# distinct build moves from per-app session cache to a bucketed parquet
# artifact written ONCE per corpus version — cold cost is paid when the
# corpus changes, not when an app starts. The store follows the shared
# contract (etl_ai_assistent_spark/store.py): path keyed by (sf tag,
# documents row count, FOOTER CONTENT FINGERPRINT, bucket count) — the
# fingerprint closes the r9 finding that a row-count key silently
# serves a stale index after an UPDATE-shaped corpus refresh — with an
# atomic temp-dir+rename publish and cheap adoption validation. Root
# honors SPARK_GRAFT_STORE_ROOT; _vN bumps when the writer changes
# (FIXTURES.md rule — _v2: fingerprinted key + atomic publish).
TRIGRAM_BUCKETS = 16
TRIGRAM_FAMILY = "spark_graft_trigram_store_v2"


def trigram_posting_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, tri) posting table as a STORAGE artifact — what
    pg_trgm's GIN index or a code-search shard maintains as
    infrastructure (reference shape: Qdrant's persistent index,
    scripts/services/qdrant_service.py:24-42). Built once per corpus
    version and written as an external parquet table bucketed AND
    sorted by `tri`; a fresh Spark app finds the files on disk and
    re-registers them with bucketed-table DDL instead of rebuilding,
    so the cold build is per-corpus, not per-app (r8 verdict #3 —
    the session-cache version paid ~25 s per app at sf0.1).

    Serving filters `tri IN (needle trigrams)`: bucket pruning reads
    only the needles' buckets (SelectedBucketsCount in the scan) and
    the in-bucket sort gives row-group zone-map skipping — at 100 TB
    a query touches a few posting-list buckets, never the corpus.
    Docs shorter than 3 chars carry no trigrams and can't contain a
    ≥3-char needle, so excluding them keeps pruning lossless.

    Publication follows the store contract (store.publish_bucketed):
    the build lands in a temp directory and one atomic rename publishes
    it — racing builders converge on one artifact, readers never see a
    half-replaced directory (r9 verdict #2). Adoption re-validates the
    marker + a footer row count before the DDL registers the files."""
    path = ST.corpus_path(
        TRIGRAM_FAMILY, sf_dir, "documents", f"_{TRIGRAM_BUCKETS}"
    )

    def build() -> DataFrame:
        docs = io.load_table(spark, sf_dir, "documents").select(
            "doc_id", F.lower(F.col("text")).alias("t")
        )
        return (
            docs.filter(F.length("t") >= 3)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "transform(sequence(1, length(t) - 2),"
                        " i -> substring(t, i, 3))"
                    )
                ).alias("tri"),
            )
            .distinct()
            # align with the bucket hash so each task holds exactly one
            # bucket's rows → one file per bucket, not files × tasks
            .repartition(TRIGRAM_BUCKETS, F.col("tri"))
        )

    return ST.publish_bucketed(
        spark,
        path,
        "trigram_posting",
        build,
        "doc_id BIGINT, tri STRING",
        "tri",
        TRIGRAM_BUCKETS,
        lambda p: ST.has_success(p) and ST.parquet_rows(p) > 0,
    )


@register(
    "q_trigram_search",
    oracle=f"""
SELECT doc_id,
       CAST((length(lower(text)) - length(replace(lower(text), '{NEEDLE}', '')))
            // {len(NEEDLE)} AS BIGINT) AS n_matches
FROM documents
WHERE contains(lower(text), '{NEEDLE}')
""",
)
def q_trigram_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search accelerated by a trigram index — the
    pg_trgm/code-search pattern: docs are pruned to those containing
    EVERY trigram of the needle (posting-list equi-join + a
    count-match), and only candidates pay the exact `contains` verify.
    Pruning is pass-through (a doc containing the needle contains all
    its trigrams — no false negatives), so the oracle is the plain
    full-scan LIKE and the gate proves the index path exact.

    Scale: the full scan is O(corpus bytes) per query; the trigram
    path serves from the ON-DISK posting store
    (trigram_posting_table — bucketed+sorted by tri, built once per
    CORPUS VERSION, re-registered from disk by fresh apps) keyed on
    the needle's {len(NEEDLE) - 2} trigrams — a literal IN prunes the
    scan to the needle's buckets, then candidates-only verification,
    the q_bloom_join shape applied to substring search. Occurrence
    counts via the exact length-difference division (integer,
    engine-identical). The once-per-corpus build cost lives in
    q_trigram_index_build (INDEX_COLD in bench)."""
    docs = io.load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("t")
    )
    needle_tris = sorted(
        {NEEDLE[i : i + 3] for i in range(len(NEEDLE) - 2)}
    )
    posting = trigram_posting_table(spark, sf_dir)
    # literal IN over the bucket column → bucket pruning at the scan
    # (SelectedBucketsCount), plus zone-map row-group skipping from
    # the in-bucket sort — the serve path never reads the full index
    cands = (
        posting.filter(F.col("tri").isin(needle_tris))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tri"))
        .filter(F.col("n_tri") == len(needle_tris))
        .select("doc_id")
    )
    return (
        docs.join(cands, "doc_id")
        .filter(F.col("t").contains(NEEDLE))
        .select(
            "doc_id",
            (
                (F.length("t") - F.length(F.replace(F.col("t"), F.lit(NEEDLE), F.lit(""))))
                / F.lit(len(NEEDLE))
            )
            .cast("bigint")
            .alias("n_matches"),
        )
    )


_NEEDLE_VALUES = ", ".join(
    f"({i}, '{s}')" for i, s in sorted(NEEDLES.items())
)


@register(
    "q_trigram_multi_search",
    oracle=f"""
WITH needles(needle_id, needle) AS (VALUES {_NEEDLE_VALUES})
SELECT CAST(n.needle_id AS INT) AS needle_id, d.doc_id,
       CAST((length(lower(d.text))
             - length(replace(lower(d.text), n.needle, '')))
            // length(n.needle) AS BIGINT) AS n_matches
FROM documents d, needles n
WHERE contains(lower(d.text), n.needle)
""",
)
def q_trigram_multi_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched substring search: {len(NEEDLES)} needles served off the
    SAME materialized trigram posting table in one plan — the
    q_pq_multiquery_topk generalization applied to text search. Every
    (needle, trigram) pair rides one broadcast; the posting join
    produces per-(doc, needle) trigram hit counts; a needle is a
    candidate for a doc only when ALL its distinct trigrams hit
    (lossless pruning, so the oracle is the naive per-needle full
    scan); candidates-only exact verify + occurrence count.

    Scale: index cost is amortized across the whole needle batch —
    queries/sec is bounded by posting-list selectivity, not corpus
    size, which is the whole point of maintaining the index as
    infrastructure. Needle metadata (trigram counts, lengths) is a
    |needles|-row broadcast; nothing per-needle touches the driver."""
    docs = io.load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("t")
    )
    posting = trigram_posting_table(spark, sf_dir)
    tri_rows = []
    meta_rows = []
    for nid, s in sorted(NEEDLES.items()):
        tris = sorted({s[i : i + 3] for i in range(len(s) - 2)})
        tri_rows += [(nid, t) for t in tris]
        meta_rows.append((nid, s, len(tris)))
    tri_df = F.broadcast(
        spark.createDataFrame(tri_rows, "needle_id int, tri string")
    )
    meta_df = F.broadcast(
        spark.createDataFrame(
            meta_rows, "needle_id int, needle string, n_tri int"
        )
    )
    all_tris = sorted({t for _, t in tri_rows})
    cands = (
        # literal IN first: bucket pruning + zone maps bound the scan
        # to the batch's posting lists; the broadcast join then maps
        # surviving rows to needle_ids
        posting.filter(F.col("tri").isin(all_tris))
        .join(tri_df, "tri")
        .groupBy("doc_id", "needle_id")
        .agg(F.count("*").alias("hits"))
        .join(meta_df, "needle_id")
        .filter(F.col("hits") == F.col("n_tri"))
        .select("needle_id", "doc_id", "needle")
    )
    return (
        docs.join(cands, "doc_id")
        .filter(F.col("t").contains(F.col("needle")))
        .select(
            "needle_id",
            "doc_id",
            F.expr(
                "CAST((length(t) - length(replace(t, needle, '')))"
                " div length(needle) AS BIGINT)"
            ).alias("n_matches"),
        )
    )


@register(
    "q_trigram_index_build",
    oracle="""
WITH tri AS (
  SELECT DISTINCT d.doc_id, substr(lower(d.text), CAST(u.i AS BIGINT), 3) AS tri
  FROM documents d,
       unnest(generate_series(1, length(lower(d.text)) - 2)) u(i)
  WHERE length(lower(d.text)) >= 3
)
SELECT CAST(count(*) AS BIGINT)              AS n_postings,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT tri) AS BIGINT)    AS n_tris
FROM tri
""",
)
def q_trigram_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE as a first-class query (r8 verdict #3): build
    (or adopt) the on-disk trigram posting store for this corpus
    version and emit its audit stats. The aggregation reads the STORED
    bucketed table — not a fresh in-plan build — so the DuckDB oracle
    (trigram explode straight off the corpus) verifies the disk
    artifact itself: a stale, truncated, or mis-written store fails
    the gate. This is the once-per-corpus-version cold cost the
    serving queries (q_trigram_search / q_trigram_multi_search) no
    longer pay per app; bench records it under INDEX_COLD."""
    posting = trigram_posting_table(spark, sf_dir)
    return posting.agg(
        F.count("*").cast("bigint").alias("n_postings"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.countDistinct("tri").cast("bigint").alias("n_tris"),
    )


# --- BPE merge application (tokenizer training, iteration 2) ---------------


@register(
    "q_bpe_merge_apply",
    oracle=f"""
WITH tok AS (
  SELECT unnest({TX.TOKENS_SQL}) AS tok
  FROM (SELECT text FROM documents)
),
spaced AS (
  SELECT ' ' || regexp_replace(tok, '(.)', '\\1 ', 'g') AS sp
  FROM tok WHERE length(tok) >= 2
),
top1 AS (
  SELECT pair FROM (
    SELECT substr(tok, u.i, 2) AS pair
    FROM (SELECT tok FROM tok WHERE length(tok) >= 2) t,
         unnest(generate_series(1, length(t.tok) - 1)) u(i)
  ) GROUP BY 1 ORDER BY count(*) DESC, pair LIMIT 1
),
merged AS (
  SELECT replace(s.sp,
                 ' ' || substr(t.pair, 1, 1) || ' ' || substr(t.pair, 2, 1) || ' ',
                 ' ' || t.pair || ' ') AS sp
  FROM spaced s, top1 t
),
syms AS (
  SELECT string_split(trim(sp), ' ') AS arr FROM merged
),
pairs2 AS (
  SELECT u.p AS pair
  FROM (SELECT list_transform(generate_series(1, len(arr) - 1),
               i -> arr[i] || ' ' || arr[i + 1]) AS ps
        FROM syms WHERE len(arr) >= 2) t,
       unnest(t.ps) u(p)
)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM pairs2 GROUP BY 1
ORDER BY n DESC, pair
LIMIT 20
""",
)
def q_bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training, iteration TWO: take iteration one's winning pair
    (q_bpe_pairs' rank-1, deterministic ties on the pair), APPLY the
    merge corpus-wide, and emit the post-merge top-20 adjacent-symbol
    counts — the candidates for merge #2, now over a symbol table that
    contains the merged unit. With q_bpe_pairs this closes the
    count→merge→recount loop by the one-step-then-induction pattern
    (q_kmeans_step's): each iteration is bit-verifiable, so the loop is.

    Merge application is pure codegen string algebra: tokens go to a
    space-joined symbol form (' t h e '), and one replace() performs
    the standard leftmost non-overlapping merge pass — Spark, DuckDB,
    and Python replace() semantics agree exactly (including the
    overlapping-run case ' a a a ' → ' aa a ', checked in
    tests/test_text_functions-adjacent suites). Scale: the merge is a
    narrow map over tokens; both count passes are shuffles bounded by
    the symbol-pair vocabulary; the 1-row winning pair broadcasts."""
    # r13: the weighted distinct-token formulation (see q_bpe_train) —
    # one corpus-sized groupBy(tok), then both count passes and the
    # merge run over the vocabulary with cnt-weighted sums. The token
    # table feeds iteration-1 counts AND the merge stream.
    docs = io.load_table(spark, sf_dir, "documents").select("text")
    toks = (
        docs.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("tok"))
        .filter(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    # iteration 1's counts → the winning pair (1 row, broadcast)
    top1 = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tok) - 1),"
                    " i -> substring(tok, i, 2))"
                )
            ).alias("pair"),
            "cnt",
        )
        .groupBy("pair")
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(1)
        .select("pair")
    )
    spaced = toks.select(
        F.concat(
            F.lit(" "), F.regexp_replace(F.col("tok"), "(.)", "$1 ")
        ).alias("sp"),
        "cnt",
    )
    merged = spaced.crossJoin(F.broadcast(top1)).select(
        F.replace(
            F.col("sp"),
            F.concat(
                F.lit(" "),
                F.substring("pair", 1, 1),
                F.lit(" "),
                F.substring("pair", 2, 1),
                F.lit(" "),
            ),
            F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
        ).alias("sp"),
        "cnt",
    )
    syms = merged.select(
        F.split(F.trim(F.col("sp")), " ").alias("arr"), "cnt"
    ).filter(F.size("arr") >= 2)
    pairs2 = syms.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(arr) - 1),"
                " i -> concat(arr[i - 1], ' ', arr[i]))"
            )
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs2.groupBy("pair")
        .agg(F.sum("cnt").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


# --- dictionary encoding (token -> dense id) ---------------------------------

VOCAB_TOP = 4096  # dense ids 1..N by (df DESC, token); everything else OOV=0


@register(
    "q_vocab_encode",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({TX.TOKENS_SQL}) AS tok,
         generate_subscripts({TX.TOKENS_SQL}, 1) AS pos
  FROM documents
),
vocab AS (
  SELECT tok, CAST(row_number() OVER (ORDER BY count(*) DESC, tok) AS BIGINT)
           AS token_id
  FROM tok GROUP BY tok
  QUALIFY token_id <= {VOCAB_TOP}
),
enc AS (
  SELECT t.doc_id, t.pos, coalesce(v.token_id, 0) AS token_id
  FROM tok t LEFT JOIN vocab v ON v.tok = t.tok
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(CASE WHEN token_id = 0 THEN 1 END) AS BIGINT) AS n_oov,
       CAST(sum(token_id) AS BIGINT) AS id_sum,
       CAST(bit_xor((token_id + 1) * pos) AS BIGINT) AS id_pos_xor
FROM enc GROUP BY 1
""",
)
def q_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary encoding — the string→dense-int compression every
    shuffle-heavy text pipeline should run FIRST (ids shuffle in 8
    bytes; the strings they replace average far more, and downstream
    joins/aggs on ids stay in codegen integer compares): global
    frequency ranking assigns ids 1..{VOCAB_TOP} by (count DESC,
    token) — deterministic total order, so any engine builds the
    IDENTICAL dictionary — and everything rarer maps to the OOV id 0.
    Per-document audit: token/OOV counts, id sum, and a
    position-weighted xor that proves the SEQUENCE of assigned ids
    (not just the multiset) matches across engines.

    Scale: the dictionary build is one partial-agg'd token count + a
    top-{VOCAB_TOP} rank (TakeOrdered-sized); encoding is a broadcast
    left join of the dictionary against the token stream — the corpus
    never shuffles as strings at all."""
    from pyspark.sql.window import Window as W

    from ..functions import text as TXF

    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id",
        F.posexplode(TXF.tokens(F.lower(F.col("text")))).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    # lower() above mirrors TX.TOKENS_SQL; tokens() already trims.
    # TakeOrdered-limit FIRST, then rank: a bare row_number window over
    # the full vocabulary would drag every distinct token through one
    # partition — the limit bounds the single-partition sort to
    # VOCAB_TOP rows no matter how large the corpus vocabulary grows
    w = F.row_number().over(W.orderBy(F.desc("cnt"), F.asc("tok")))
    vocab = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(VOCAB_TOP)
        .withColumn("token_id", w.cast("bigint"))
        .select("tok", "token_id")
    )
    enc = tok.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id",
        "pos",
        F.coalesce("token_id", F.lit(0)).cast("bigint").alias("token_id"),
    )
    return enc.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.count(F.when(F.col("token_id") == 0, 1))
        .cast("bigint")
        .alias("n_oov"),
        F.sum("token_id").cast("bigint").alias("id_sum"),
        F.expr("bit_xor((token_id + 1) * pos)")
        .cast("bigint")
        .alias("id_pos_xor"),
    )


# --- train/val distribution-shift audit (total variation, integer) ----------

@register(
    "q_split_drift",
    oracle=f"""
WITH assigned AS (
  SELECT doc_id, text,
         CASE WHEN {SPLIT_BUCKET} < 80 THEN 'train'
              WHEN {SPLIT_BUCKET} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
tok AS (
  SELECT split, unnest({TX.TOKENS_SQL.strip()}) AS t
  FROM assigned WHERE split IN ('train', 'val')
),
cnt AS (
  SELECT t,
         CAST(count(*) FILTER (split = 'train') AS BIGINT) AS n_a,
         CAST(count(*) FILTER (split = 'val') AS BIGINT) AS n_b
  FROM tok GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_a) AS BIGINT) AS na, CAST(sum(n_b) AS BIGINT) AS nb,
         CAST(count(*) FILTER (n_a > 0) AS BIGINT) AS vocab_a,
         CAST(count(*) FILTER (n_b > 0) AS BIGINT) AS vocab_b,
         CAST(sum(abs(n_a * (SELECT sum(n_b) FROM cnt)
                      - n_b * (SELECT sum(n_a) FROM cnt))) AS BIGINT) AS s
  FROM cnt
)
SELECT na AS n_tokens_train, nb AS n_tokens_val, vocab_a AS vocab_train,
       vocab_b AS vocab_val,
       CAST(1000000 * s // (2 * na * nb) AS BIGINT) AS tvd_ppm
FROM tot
""",
)
def q_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val distribution-shift audit: total variation distance
    between the two splits' token distributions, in integer ppm —
    TVD = \u00bd\u00b7\u03a3|p_t \u2212 q_t| computed as the exact rational
    \u03a3|n_a\u00b7Nb \u2212 n_b\u00b7Na| / (2\u00b7Na\u00b7Nb), so there is NO log (KL's numeric
    headache) and NO float anywhere: the audit a pipeline runs before
    trusting a held-out set actually to represent training data.

    Scale: token counts per split are one exploded groupBy (map-side
    partial agg \u2014 shuffle is |vocab| keys, not |tokens| rows); both
    splits count in the SAME aggregate via conditional sums, so the
    splits never join. The per-token table feeds the totals row and the
    deviation sum, which reuse its exchange; the totals ride 1-row
    broadcasts. Bigint products hold to ~1e18; at web scale the same
    expression widens to DECIMAL(38,0)."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = (
        md5_bucket(F.col("doc_id").cast("string"), salt="split|") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    toks = docs.select(
        split.alias("split"), F.explode(TX.tokens(F.lower("text"))).alias("t")
    ).filter(F.col("split").isin("train", "val"))
    cnt = (
        toks.groupBy("t")
        .agg(
            F.count(F.when(F.col("split") == "train", 1))
            .cast("bigint")
            .alias("n_a"),
            F.count(F.when(F.col("split") == "val", 1))
            .cast("bigint")
            .alias("n_b"),
        )
    )  # feeds the totals row AND the deviation sum
    tot = cnt.agg(
        F.sum("n_a").cast("bigint").alias("na"),
        F.sum("n_b").cast("bigint").alias("nb"),
        F.count(F.when(F.col("n_a") > 0, 1)).cast("bigint").alias("vocab_a"),
        F.count(F.when(F.col("n_b") > 0, 1)).cast("bigint").alias("vocab_b"),
    )
    s = (
        cnt.crossJoin(F.broadcast(tot.select("na", "nb")))
        .agg(
            F.sum(F.abs(F.col("n_a") * F.col("nb") - F.col("n_b") * F.col("na")))
            .cast("bigint")
            .alias("s")
        )
    )
    return tot.crossJoin(F.broadcast(s)).select(
        F.col("na").alias("n_tokens_train"),
        F.col("nb").alias("n_tokens_val"),
        F.col("vocab_a").alias("vocab_train"),
        F.col("vocab_b").alias("vocab_val"),
        F.expr("CAST(1000000 * s div (2 * na * nb) AS BIGINT)").alias("tvd_ppm"),
    )


# --- BPE training loop (the full merge-table derivation) --------------------

BPE_ITERS = 4


def _bpe_top_cte(i: int) -> str:
    """topN over spaced{i-1}: the iteration-i winning merge."""
    return f"""
top{i} AS (
  SELECT pair, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT u.p AS pair
    FROM (SELECT list_transform(generate_series(1, len(arr) - 1),
                 j -> arr[j] || ' ' || arr[j + 1]) AS ps
          FROM (SELECT string_split(trim(sp), ' ') AS arr FROM spaced{i - 1})
          WHERE len(arr) >= 2) t,
         unnest(t.ps) u(p)
  ) GROUP BY 1 ORDER BY n DESC, pair LIMIT 1
),
spaced{i} AS (
  SELECT replace(s.sp, ' ' || t.pair || ' ',
                 ' ' || replace(t.pair, ' ', '') || ' ') AS sp
  FROM spaced{i - 1} s, top{i} t
)"""


_BPE_TRAIN_ORACLE = (
    f"""
WITH tok AS (
  SELECT unnest({TX.TOKENS_SQL}) AS tok FROM (SELECT text FROM documents)
),
spaced0 AS (
  SELECT ' ' || regexp_replace(tok, '(.)', '\\1 ', 'g') AS sp
  FROM tok WHERE length(tok) >= 2
),"""
    + ",".join(_bpe_top_cte(i) for i in range(1, BPE_ITERS + 1))
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, pair, n FROM top{i}"
        for i in range(1, BPE_ITERS + 1)
    )
)


@register("q_bpe_train", oracle=_BPE_TRAIN_ORACLE)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL BPE training loop, {BPE_ITERS} merges unrolled: count
    adjacent symbol pairs corpus-wide, adopt the most frequent pair as
    merge #i (ties to the lexicographically smallest), apply it with
    one replace() pass, repeat on the merged symbol stream. Returns the
    learned merge TABLE (rank, pair, count-at-selection) — the artifact
    a tokenizer ships; q_bpe_pairs / q_bpe_merge_apply verified
    iterations one and two stepwise, this emits the whole schedule.

    Every iteration is engine-exact: pair counts are integers, the
    argmax is ORDER BY (n DESC, pair), and merge application is the
    shared leftmost-non-overlapping replace() semantics all three
    engines agree on. Scale: per iteration one vocabulary-bounded
    count shuffle + a 1-row broadcast + a narrow map over tokens; the
    symbol stream shrinks monotonically. Each merged stream feeds the
    next count AND the next merge, so it is cached for the call
    (substrates.per_call; a production run checkpoints here instead —
    same plan shape)."""
    # r13: train on the DISTINCT-TOKEN FREQUENCY TABLE, the standard
    # BPE formulation — pair counts over token instances equal
    # cnt-weighted pair counts over distinct tokens (every instance of
    # a token contributes the same pairs), so after ONE corpus-sized
    # groupBy(tok) every iteration's explode/count/merge runs over the
    # VOCABULARY (thousands of rows) instead of the token stream
    # (corpus-sized). Bit-identical merge schedule and counts; at any
    # corpus scale the per-iteration cost is vocabulary-bounded.
    docs = io.load_table(spark, sf_dir, "documents").select("text")
    spaced = (
        docs.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("tok"))
        .filter(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select(
            F.concat(
                F.lit(" "), F.regexp_replace(F.col("tok"), "(.)", "$1 ")
            ).alias("sp"),
            "cnt",
        )
    )
    merges = []
    for i in range(1, BPE_ITERS + 1):
        spaced = per_call(spaced)  # feeds this count AND the next merge
        top = (
            spaced.select(
                F.split(F.trim(F.col("sp")), " ").alias("arr"), "cnt"
            )
            .filter(F.size("arr") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(arr) - 1),"
                        " j -> concat(arr[j - 1], ' ', arr[j]))"
                    )
                ).alias("pair"),
                "cnt",
            )
            .groupBy("pair")
            .agg(F.sum("cnt").cast("bigint").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
        )
        merges.append(
            top.select(F.lit(i).cast("bigint").alias("rank"), "pair", "n")
        )
        spaced = spaced.crossJoin(F.broadcast(top.select("pair"))).select(
            F.replace(
                F.col("sp"),
                F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
                F.concat(
                    F.lit(" "),
                    F.replace(F.col("pair"), F.lit(" "), F.lit("")),
                    F.lit(" "),
                ),
            ).alias("sp"),
            "cnt",
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


_BPE_STAGE_ROWS = "\nUNION ALL\n".join(
    f"""SELECT CAST({i} AS BIGINT) AS stage,
       CAST(sum(len(string_split(trim(sp), ' '))) AS BIGINT) AS n_symbols
FROM spaced{i}"""
    for i in range(0, BPE_ITERS + 1)
)

_BPE_COMPRESSION_ORACLE = (
    f"""
WITH tok AS (
  SELECT unnest({TX.TOKENS_SQL}) AS tok FROM (SELECT text FROM documents)
),
spaced0 AS (
  SELECT ' ' || regexp_replace(tok, '(.)', '\\1 ', 'g') AS sp
  FROM tok WHERE length(tok) >= 2
),"""
    + ",".join(_bpe_top_cte(i) for i in range(1, BPE_ITERS + 1))
    + f""",
stages AS ({_BPE_STAGE_ROWS}),
base AS (SELECT n_symbols AS n0 FROM stages WHERE stage = 0)
SELECT s.stage, s.n_symbols,
       CAST(1000000 * (b.n0 - s.n_symbols) // b.n0 AS BIGINT) AS saved_ppm
FROM stages s, base b
"""
)


@register("q_bpe_compression", oracle=_BPE_COMPRESSION_ORACLE)
def q_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned tokenizer's COMPRESSION CURVE: total symbol count of
    the corpus after each of the {BPE_ITERS} BPE merges (stage 0 =
    character level), with the ppm saved vs characters — the quantity
    BPE training actually optimizes, measured per merge. Falling
    marginal savings per stage is the signal to stop training; a
    tokenizer report ships exactly this table beside the merge list
    (q_bpe_train).

    Same engine-exact loop as q_bpe_train (integer counts,
    (count DESC, pair) argmax, shared replace() semantics); each
    stage's symbol total is one narrow map + partial-agg'd sum over
    the call-cached merged stream, so the curve costs one extra
    aggregate per stage on top of training itself."""
    # r13: same weighted distinct-token formulation as q_bpe_train —
    # per-stage symbol totals are cnt-weighted sums over the vocabulary
    docs = io.load_table(spark, sf_dir, "documents").select("text")
    spaced = (
        docs.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("tok"))
        .filter(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select(
            F.concat(
                F.lit(" "), F.regexp_replace(F.col("tok"), "(.)", "$1 ")
            ).alias("sp"),
            "cnt",
        )
    )
    n_sym = F.sum(
        F.col("cnt") * F.size(F.split(F.trim(F.col("sp")), " "))
    ).cast("bigint")
    stages = []
    for i in range(0, BPE_ITERS + 1):
        spaced = per_call(spaced)  # feeds this count, the argmax, the merge
        stages.append(
            spaced.agg(n_sym.alias("n_symbols")).select(
                F.lit(i).cast("bigint").alias("stage"), "n_symbols"
            )
        )
        if i == BPE_ITERS:
            break
        top = (
            spaced.select(
                F.split(F.trim(F.col("sp")), " ").alias("arr"), "cnt"
            )
            .filter(F.size("arr") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(arr) - 1),"
                        " j -> concat(arr[j - 1], ' ', arr[j]))"
                    )
                ).alias("pair"),
                "cnt",
            )
            .groupBy("pair")
            .agg(F.sum("cnt").cast("bigint").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
            .select("pair")
        )
        spaced = spaced.crossJoin(F.broadcast(top)).select(
            F.replace(
                F.col("sp"),
                F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
                F.concat(
                    F.lit(" "),
                    F.replace(F.col("pair"), F.lit(" "), F.lit("")),
                    F.lit(" "),
                ),
            ).alias("sp"),
            "cnt",
        )
    out = stages[0]
    for s in stages[1:]:
        out = out.unionByName(s)
    base = stages[0].select(F.col("n_symbols").alias("n0"))
    return out.crossJoin(F.broadcast(base)).select(
        "stage",
        "n_symbols",
        F.expr("CAST(1000000 * (n0 - n_symbols) div n0 AS BIGINT)").alias(
            "saved_ppm"
        ),
    )


# --- Zipf's-law fit over the vocabulary ---------------------------------------

ZIPF_TOP = 256  # fit over the head ranks, where Zipf holds


@register(
    "q_zipf_fit",
    oracle=f"""
WITH tok AS (
  SELECT unnest({TX.TOKENS_SQL}) AS tok FROM (SELECT text FROM documents)
),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY count(*) DESC, tok) AS BIGINT)
           AS rank,
         CAST(count(*) AS BIGINT) AS freq
  FROM tok GROUP BY tok
  QUALIFY rank <= {ZIPF_TOP}
),
xy AS (
  SELECT CAST(length(bin(rank)) - 1 AS BIGINT) AS x,
         CAST(length(bin(freq)) - 1 AS BIGINT) AS y
  FROM ranked
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM xy
)
SELECT n AS v_terms, sx AS sum_logrank, sy AS sum_logfreq,
       CAST(1000000 * (sx * sy - n * sxy)
            // (n * sxx - sx * sx) AS BIGINT) AS zipf_exponent_ppm
FROM s
""",
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary head: least-squares
    slope of log2(freq) against log2(rank) over the top {ZIPF_TOP}
    ranks, negated into a positive exponent (natural language sits
    near 1.0e6 ppm; a drifting exponent flags synthetic, templated, or
    spam-heavy corpora — a corpus-health gauge next to
    q_corpus_profile). Logs are integer floor-log2 via bitlength
    (the q_doc_surprisal device), so the whole regression — Σx, Σy,
    Σxy, Σx² and the closed-form slope — is exact bigint arithmetic;
    the final division is arranged with a positive numerator so
    floor-vs-trunc division semantics never diverge between engines.

    Scale: one vocabulary-bounded count shuffle; the head ranking is
    orderBy().limit() over the vocab table (TakeOrderedAndProject —
    the q_vocab_encode pattern, no global sort), then four sums over
    {ZIPF_TOP} rows."""
    docs = io.load_table(spark, sf_dir, "documents").select("text")
    from pyspark.sql import Window

    vocab = (
        docs.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(ZIPF_TOP)
    )
    ranked = vocab.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), F.asc("tok")))
        .cast("bigint"),
    )
    xy = ranked.select(
        (F.length(F.bin("rank")) - 1).cast("bigint").alias("x"),
        (F.length(F.bin("freq")) - 1).cast("bigint").alias("y"),
    )
    return xy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    ).select(
        F.col("n").alias("v_terms"),
        F.col("sx").alias("sum_logrank"),
        F.col("sy").alias("sum_logfreq"),
        F.expr(
            "CAST(1000000 * (sx * sy - n * sxy) div (n * sxx - sx * sx)"
            " AS BIGINT)"
        ).alias("zipf_exponent_ppm"),
    )


# --- Heaps'-law vocabulary growth ----------------------------------------------

HEAPS_CHECKPOINTS = (1, 2, 4, 8)  # eighths of the doc-id range


@register(
    "q_heaps_fit",
    oracle=f"""
WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
tok AS (
  SELECT doc_id, unnest({TX.TOKENS_SQL}) AS tok FROM documents
),
cp AS (
  SELECT k.k AS eighths,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT t.tok) AS BIGINT) AS v_types
  FROM tok t, mx, (SELECT unnest([{', '.join(str(k) for k in HEAPS_CHECKPOINTS)}]) AS k) k
  WHERE t.doc_id * 8 < mx.m * k.k
  GROUP BY 1
),
xy AS (
  SELECT eighths, n_tokens, v_types,
         CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS x,
         CAST(length(bin(v_types)) - 1 AS BIGINT) AS y
  FROM cp
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM xy
)
SELECT xy.eighths, xy.n_tokens, xy.v_types,
       CAST(1000000 * (s.n * s.sxy - s.sx * s.sy)
            // (s.n * s.sxx - s.sx * s.sx) AS BIGINT) AS heaps_beta_ppm
FROM xy, s
""",
)
def q_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth, V ~ k·N^beta: distinct-type counts
    at 1/8, 1/4, 1/2, and the full corpus (prefixes by doc id), with
    the fitted growth exponent beta from the same bitlength-log integer
    regression as q_zipf_fit (here the slope is positive, so the
    canonical numerator ordering already stays non-negative). The
    companion corpus-health gauge: Zipf reads the frequency HEAD,
    Heaps reads vocabulary GROWTH — a saturating curve (low beta)
    flags near-duplicate flooding, an exploding one tokenizer leakage
    or encoding noise.

    Scale: each checkpoint is one filtered distinct-count aggregate —
    four bounded passes (a production run piggybacks them on one scan
    with conditional aggregation; the checkpoint table is 4 rows either
    way). Every number is exact bigint."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = docs.agg((F.max("doc_id") + 1).cast("bigint").alias("m"))
    tok = docs.select(
        "doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("tok")
    ).crossJoin(F.broadcast(mx))
    cps = []
    for k in HEAPS_CHECKPOINTS:
        cps.append(
            tok.filter(F.col("doc_id") * 8 < F.col("m") * k)
            .agg(
                F.count("*").cast("bigint").alias("n_tokens"),
                F.count_distinct("tok").cast("bigint").alias("v_types"),
            )
            .select(F.lit(k).cast("bigint").alias("eighths"), "n_tokens", "v_types")
        )
    cp = cps[0]
    for c in cps[1:]:
        cp = cp.unionByName(c)
    # cp feeds the regression AND the output rows
    xy = cp.select(
        "eighths",
        "n_tokens",
        "v_types",
        (F.length(F.bin("n_tokens")) - 1).cast("bigint").alias("x"),
        (F.length(F.bin("v_types")) - 1).cast("bigint").alias("y"),
    )
    s = xy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return xy.crossJoin(F.broadcast(s)).select(
        "eighths",
        "n_tokens",
        "v_types",
        F.expr(
            "CAST(1000000 * (n * sxy - sx * sy) div (n * sxx - sx * sx)"
            " AS BIGINT)"
        ).alias("heaps_beta_ppm"),
    )
