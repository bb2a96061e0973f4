"""Training-data curation operators (north-star LLM-pipeline surface,
SURVEY.md §2.7 family): benchmark decontamination, repetition /
boilerplate quality signals, PII scrubbing, and domain-mix sampling
weights — the four ops a pretraining corpus pipeline runs after dedup
(queries/dedup.py) and quality scoring (queries/text_analysis.py).

The reference (a document-RAG ETL) has no counterpart; these extend the
engine the same way the dedup/sketch families do: each op is a pure
DataFrame plan with a DuckDB oracle, designed so the expensive join is
always key-bounded (n-gram hash posting lists, broadcast holdout set,
broadcast 1-row totals) — never corpus × corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io
from ..functions import md5_bucket, md5_bucket_sql
from ..functions import text as TX
from ..registry import register
from ..substrates import cached_substrates


def _ngrams(toks: Column, n: int) -> Column:
    """ALL word n-grams in order (NOT distinct — repetition analysis
    needs multiplicities; word_shingles() is the distinct variant)."""
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    # sequence(1, k<=0) would generate a DESCENDING range — guard to empty
    return F.when(k >= 1, grams).otherwise(F.array().cast("array<string>"))


# --- benchmark decontamination ------------------------------------------------

DECON_N = 8  # n-gram length (13 is the common LLM choice; 8 suits short docs)
HOLDOUT_MOD = 10  # doc_id % 10 == 0 stands in for the benchmark/test set

_DECON_GRAMS = f"""
tokd AS (
  SELECT doc_id, {TX.TOKENS_SQL} AS tok FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_transform(generate_series(1, greatest(len(tok) - {DECON_N - 1}, 0)),
             i -> {md5_bucket_sql(f"list_aggregate(tok[i:i+{DECON_N - 1}], 'string_agg', ' ')")}))) AS gh
  FROM tokd WHERE len(tok) >= {DECON_N}
)
"""


def _gram_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, gh): distinct hashed {DECON_N}-grams per doc. The token
    array is materialized in its OWN projection before the gram
    transform: inlining it would let CollapseProject duplicate the
    tokenizer into every element_at reference — re-splitting the
    document once per gram element (a ~300x blowup measured at sf0.1)."""
    toks = TX.tokens(F.lower(F.col("text")))
    base = docs.filter(F.size(toks) >= DECON_N).select(
        "doc_id", toks.alias("tok")
    )
    return base.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    _ngrams(F.col("tok"), DECON_N), lambda g: md5_bucket(g)
                )
            )
        ).alias("gh"),
    )


@register(
    "q_decontaminate",
    oracle=f"""
WITH {_DECON_GRAMS},
test AS (SELECT doc_id, gh FROM grams WHERE doc_id % {HOLDOUT_MOD} = 0),
train AS (SELECT doc_id, gh FROM grams WHERE doc_id % {HOLDOUT_MOD} != 0)
SELECT t.doc_id,
       count(DISTINCT t.gh) AS n_shared_grams,
       count(DISTINCT s.doc_id) AS n_test_docs
FROM train t JOIN test s ON t.gh = s.gh
GROUP BY t.doc_id
""",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    {DECON_N}-gram with the held-out (benchmark) set — the contamination
    check every pretraining corpus runs before training. Grams are
    hashed to 32-bit keys so the overlap join ships BIGINTs, and the
    holdout side is BROADCAST: benchmark suites are millions of grams at
    most, so at 100 TB the corpus-side gram stream never shuffles — each
    task probes the broadcast hash set and only hits aggregate."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grams = _gram_hashes(docs)
    test = grams.filter(F.col("doc_id") % HOLDOUT_MOD == 0).select(
        F.col("doc_id").alias("test_doc"), "gh"
    )
    train = grams.filter(F.col("doc_id") % HOLDOUT_MOD != 0)
    return (
        train.join(F.broadcast(test), "gh")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("gh").alias("n_shared_grams"),
            F.count_distinct("test_doc").alias("n_test_docs"),
        )
    )


# --- repetition / boilerplate quality signals ---------------------------------

REP_N = 2  # bigram repetition (the Gopher-style top-n-gram share signal)
REP_SHARE_THRESHOLD = 0.2


@register(
    "q_repetition_stats",
    oracle=f"""
WITH tokd AS (
  SELECT doc_id, {TX.TOKENS_SQL} AS tok FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(tok) - 1),
           i -> tok[i] || ' ' || tok[i+1])) AS g
  FROM tokd WHERE len(tok) >= 2
),
counts AS (
  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n_grams
  FROM counts GROUP BY 1
),
tok_stats AS (
  SELECT doc_id, len(tok) AS n_tokens, len(list_distinct(tok)) AS n_distinct
  FROM tokd WHERE len(tok) >= 2
)
SELECT p.doc_id, p.n_grams,
       round(CAST(p.top_c AS DOUBLE) / p.n_grams, 6) AS top_gram_share,
       round(CAST(t.n_distinct AS DOUBLE) / t.n_tokens, 6) AS distinct_token_ratio,
       CAST(p.top_c AS DOUBLE) / p.n_grams > {REP_SHARE_THRESHOLD} AS is_repetitive
FROM per_doc p JOIN tok_stats t ON t.doc_id = p.doc_id
""",
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition / boilerplate signals per document (the Gopher-rule
    family): share of the most frequent bigram among all bigrams, and
    the distinct-token ratio — high top-share or low distinct-ratio
    marks machine-generated or boilerplate text for the quality filter.
    One explode + two partial-agg'd groupBys keyed on doc_id; output is
    one row per doc regardless of length."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = TX.tokens(F.lower(F.col("text")))
    base = docs.filter(F.size(toks) >= REP_N).select(
        "doc_id",
        toks.alias("tok"),
    )
    counts = (
        base.select("doc_id", F.explode(_ngrams(F.col("tok"), REP_N)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.max("c").alias("top_c"),
        F.sum("c").cast("bigint").alias("n_grams"),
    )
    tok_stats = base.select(
        "doc_id",
        F.size("tok").alias("n_tokens"),
        F.size(F.array_distinct("tok")).alias("n_distinct"),
    )
    share = F.col("top_c").cast("double") / F.col("n_grams")
    return per_doc.join(tok_stats, "doc_id").select(
        "doc_id",
        "n_grams",
        F.round(share, 6).alias("top_gram_share"),
        F.round(
            F.col("n_distinct").cast("double") / F.col("n_tokens"), 6
        ).alias("distinct_token_ratio"),
        (share > REP_SHARE_THRESHOLD).alias("is_repetitive"),
    )


# --- PII scrubbing ------------------------------------------------------------

# Patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB): no
# backrefs, no lookaround.
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
DIGITRUN_RE = "[0-9]{5,}"


@register(
    "q_pii_scrub",
    oracle=f"""
WITH aug AS (
  -- deterministic PII fixture: the synthetic corpus carries no emails
  -- or id numbers, so plant one of each (value varies per doc) to give
  -- the scrubber real work on both engines
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com ref ' || CAST(doc_id * doc_id + 9999 AS VARCHAR)
           AS text
  FROM documents
),
scrubbed AS (
  SELECT doc_id, text,
         regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                        '{DIGITRUN_RE}', '<NUM>', 'g') AS clean
  FROM aug
)
SELECT doc_id,
       len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(text, '{DIGITRUN_RE}')) AS n_digit_runs,
       length(text) - length(clean) AS chars_removed,
       {md5_bucket_sql('clean')} AS clean_checksum
FROM scrubbed
""",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (the C4-style redaction pass): count and replace
    email addresses and long digit runs, emitting per-doc match counts
    and a checksum of the scrubbed text so the oracle is sensitive to
    every replaced byte. All regexp work is codegen'd JVM-side — the
    patterns are chosen to parse identically under Java regex and RE2.
    The corpus carries no PII, so a deterministic per-doc fixture is
    planted first (same expression both engines)."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ref "),
            (F.col("doc_id") * F.col("doc_id") + 9999).cast("string"),
        ).alias("text"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
        DIGITRUN_RE,
        "<NUM>",
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(DIGITRUN_RE), 0)
        ).alias("n_digit_runs"),
        (F.length("text") - F.length(clean)).alias("chars_removed"),
        md5_bucket(clean).alias("clean_checksum"),
    )


# --- domain-mix sampling weights ----------------------------------------------


@register(
    "q_mix_weights",
    oracle=f"""
WITH g AS (
  SELECT lang, source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({TX.TOKENS_SQL})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM g)
SELECT g.lang, g.source, g.n_docs, g.n_tokens,
       CAST((1000000 * g.n_tokens) // t.total_tokens AS BIGINT) AS weight_ppm
FROM g, tot t
""",
)
def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix sampling weights: per (lang, source) token counts and
    each domain's exact share of the corpus in ppm — the table a
    pretraining sampler consumes to draw batches at target proportions.
    One partial-agg'd groupBy (domains-sized output), then a 1-row
    broadcast of the total; all-integer arithmetic, no float drift."""
    docs = io.load_table(spark, sf_dir, "documents").select(
        "lang", "source", "text"
    )
    g = docs.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(TX.token_count(F.lower(F.col("text"))))
        .cast("bigint")
        .alias("n_tokens"),
    )
    tot = g.agg(F.sum("n_tokens").cast("bigint").alias("total_tokens"))
    return g.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.expr("(1000000 * n_tokens) div total_tokens")
        .cast("bigint")
        .alias("weight_ppm"),
    )


# --- composed quality gate ----------------------------------------------------

MIN_TOKENS = 10
MIN_DISTINCT_RATIO_PPM = 300_000  # < 30% distinct tokens => repetitive
MAX_TOP_GRAM_PPM = 200_000  # top bigram > 20% of grams => boilerplate
MAX_DIGIT_PPM = 200_000  # > 20% digit chars => tabular/serial junk

R_SHORT, R_TOPGRAM, R_DISTINCT, R_DIGIT, R_CONTAM = 1, 2, 4, 8, 16


@register(
    "q_quality_gate",
    oracle=f"""
WITH {_DECON_GRAMS},
test AS (SELECT doc_id, gh FROM grams WHERE doc_id % {HOLDOUT_MOD} = 0),
contam AS (
  SELECT DISTINCT t.doc_id FROM grams t JOIN test s ON t.gh = s.gh
  WHERE t.doc_id % {HOLDOUT_MOD} != 0
),
bigrams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(tok) - 1),
           i -> tok[i] || ' ' || tok[i+1])) AS g
  FROM tokd WHERE len(tok) >= 2
),
rep AS (
  SELECT doc_id,
         CAST((1000000 * max(c)) // sum(c) AS BIGINT) AS top_gram_ppm
  FROM (SELECT doc_id, g, count(*) AS c FROM bigrams GROUP BY 1, 2)
  GROUP BY doc_id
),
feats AS (
  SELECT d.doc_id,
         len(t.tok) AS n_tokens,
         CAST((1000000 * len(list_distinct(t.tok)))
              // greatest(len(t.tok), 1) AS BIGINT) AS distinct_ppm,
         CAST((1000000 * (length(d.text)
               - length(regexp_replace(d.text, '[0-9]', '', 'g'))))
              // greatest(length(d.text), 1) AS BIGINT) AS digit_ppm
  FROM documents d JOIN tokd t ON t.doc_id = d.doc_id
),
flagged AS (
  SELECT f.doc_id,
         CASE WHEN f.n_tokens < {MIN_TOKENS} THEN {R_SHORT} ELSE 0 END
       + CASE WHEN COALESCE(r.top_gram_ppm, 0) > {MAX_TOP_GRAM_PPM}
              THEN {R_TOPGRAM} ELSE 0 END
       + CASE WHEN f.distinct_ppm < {MIN_DISTINCT_RATIO_PPM}
              THEN {R_DISTINCT} ELSE 0 END
       + CASE WHEN f.digit_ppm > {MAX_DIGIT_PPM} THEN {R_DIGIT} ELSE 0 END
       + CASE WHEN c.doc_id IS NOT NULL THEN {R_CONTAM} ELSE 0 END
           AS reasons
  FROM feats f
  LEFT JOIN rep r ON r.doc_id = f.doc_id
  LEFT JOIN contam c ON c.doc_id = f.doc_id
)
SELECT doc_id, CAST(reasons AS BIGINT) AS reasons, reasons = 0 AS keep
FROM flagged
""",
)
def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE composed corpus filter (C4/Gopher shape): every document gets
    a bitmask of drop reasons — too short ({R_SHORT}), dominant bigram
    ({R_TOPGRAM}), low distinct-token ratio ({R_DISTINCT}), digit-heavy
    ({R_DIGIT}), benchmark-contaminated ({R_CONTAM}) — and keep = no
    flags. Reasons stay attached rather than filtering silently, because
    a curation pipeline audits WHY documents were dropped. All signals
    are integer-ppm arithmetic composed from the decontamination and
    repetition building blocks; the whole gate is two doc-keyed
    partial-agg shuffles plus a broadcast contamination probe."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = TX.tokens(F.lower(F.col("text")))

    grams = _gram_hashes(docs)
    test = grams.filter(F.col("doc_id") % HOLDOUT_MOD == 0).select("gh")
    contam = (
        grams.filter(F.col("doc_id") % HOLDOUT_MOD != 0)
        .join(F.broadcast(test), "gh")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    # r13: the dominant-bigram signal is computed ROW-LOCALLY — the max
    # n-gram multiplicity equals the longest equal-run in the SORTED
    # gram array, a single sort+fold inside the row's codegen stage.
    # The r12 form exploded every gram and paid two corpus-sized
    # shuffles (groupBy(doc_id, g) then groupBy(doc_id)) for a number
    # that never leaves its document; same integers, zero exchanges,
    # and the rep join below disappears. Docs with < 2 tokens keep the
    # old NULL-rep semantics (reasons already coalesces to 0).
    maxrun = (
        "aggregate(array_sort(_g),"
        " named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),"
        " (s, x) -> named_struct("
        "   'prev', x,"
        "   'run', IF(x <=> s.prev, s.run + 1L, 1L),"
        "   'best', GREATEST(s.best, IF(x <=> s.prev, s.run + 1L, 1L))),"
        " s -> s.best)"
    )
    top_gram_ppm = F.when(
        F.size(F.col("tok")) >= 2,
        F.expr(f"(1000000 * {maxrun}) div size(_g)").cast("bigint"),
    )
    n_tok = F.size(F.col("tok"))
    feats = docs.select(
        "doc_id", "text", toks.alias("tok")
    ).withColumn("_g", _ngrams(F.col("tok"), REP_N)).select(
        "doc_id",
        n_tok.alias("n_tokens"),
        top_gram_ppm.alias("top_gram_ppm"),
        (
            (F.lit(1_000_000) * F.size(F.array_distinct(F.col("tok"))))
            / F.greatest(n_tok, F.lit(1))
        )
        .cast("bigint")
        .alias("distinct_ppm"),
        (
            (
                F.lit(1_000_000)
                * (
                    F.length("text")
                    - F.length(F.regexp_replace(F.col("text"), "[0-9]", ""))
                )
            )
            / F.greatest(F.length("text"), F.lit(1))
        )
        .cast("bigint")
        .alias("digit_ppm"),
    )
    reasons = (
        F.when(F.col("n_tokens") < MIN_TOKENS, R_SHORT).otherwise(0)
        + F.when(
            F.coalesce(F.col("top_gram_ppm"), F.lit(0)) > MAX_TOP_GRAM_PPM,
            R_TOPGRAM,
        ).otherwise(0)
        + F.when(F.col("distinct_ppm") < MIN_DISTINCT_RATIO_PPM, R_DISTINCT)
        .otherwise(0)
        + F.when(F.col("digit_ppm") > MAX_DIGIT_PPM, R_DIGIT).otherwise(0)
        + F.when(F.col("contaminated"), R_CONTAM).otherwise(0)
    )
    return feats.join(contam, "doc_id", "left").select(
        "doc_id",
        reasons.cast("bigint").alias("reasons"),
        (reasons == 0).alias("keep"),
    )


# --- token-budget shard packing -----------------------------------------------

SHARD_TOKENS = 2000  # token budget per training shard
SHARD_BUCKETS = 16  # parallel packing units (scale knob)
_SHARD_BUCKET = (
    f"{md5_bucket_sql('CAST(doc_id AS VARCHAR)', salt='shard|')} % {SHARD_BUCKETS}"
)


@register(
    "q_token_shards",
    oracle=f"""
WITH sized AS (
  SELECT doc_id, {_SHARD_BUCKET} AS bucket, len({TX.TOKENS_SQL}) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, bucket, n_tokens,
         COALESCE(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS tokens_before
  FROM sized
),
sharded AS (
  SELECT doc_id, bucket, n_tokens,
         bucket * 100000 + tokens_before // {SHARD_TOKENS} AS shard_id
  FROM packed
)
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM sharded
GROUP BY shard_id
""",
)
def q_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: assign documents to training shards
    of ~{SHARD_TOKENS} tokens each. Docs hash into {SHARD_BUCKETS}
    independent packing buckets (the parallelism unit — raise it with
    corpus size so no single ordered stream bottlenecks), then a
    running token sum within each bucket cuts shard boundaries by
    integer division. One windowed pass per bucket partition plus one
    partial-agg'd groupBy; all integer arithmetic, so shard assignment
    is reproducible across engines and re-runs — which is what makes
    training-data shards auditable."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from pyspark.sql import Window

    bucket = (
        md5_bucket(F.col("doc_id").cast("string"), salt="shard|") % SHARD_BUCKETS
    )
    sized = docs.select(
        "doc_id",
        bucket.alias("bucket"),
        TX.token_count(F.lower(F.col("text"))).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sized.withColumn(
        "tokens_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    sharded = packed.select(
        "doc_id",
        "n_tokens",
        (
            F.col("bucket") * 100000
            + F.expr(f"tokens_before div {SHARD_TOKENS}")
        )
        .cast("bigint")
        .alias("shard_id"),
    )
    return sharded.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# --- intra-document span dedup (repetition REMOVAL, not just scoring) -------

SPAN_N = 10  # tokens per span — the docx sectionizer's paragraph unit


@register(
    "q_span_dedup",
    oracle=f"""
WITH tokd AS (
  SELECT doc_id, {TX.TOKENS_SQL} AS tok FROM documents
),
spans AS (
  SELECT doc_id, u.i AS pos,
         list_aggregate(tok[(u.i - 1) * {SPAN_N} + 1:u.i * {SPAN_N}],
                        'string_agg', ' ') AS span
  FROM tokd,
       unnest(generate_series(1, CAST(ceil(len(tok) / {SPAN_N}.0) AS BIGINT)))
         u(i)
  WHERE len(tok) > 0
),
firsts AS (
  SELECT doc_id, pos, span,
         row_number() OVER (PARTITION BY doc_id, span ORDER BY pos) AS rn
  FROM spans
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY pos)
           FILTER (WHERE rn = 1)) AS dedup_md5
FROM firsts s
GROUP BY 1
""",
)
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document span dedup — the repetition-REMOVAL curation op
    (q_repetition_stats only scores; this rewrites): each document is
    cut into {SPAN_N}-token spans, repeated spans keep only their FIRST
    occurrence, and the per-doc output carries the span counts plus an
    md5 of the deduplicated text (order-preserving rejoin) so the gate
    verifies the rewritten CONTENT, not just counts.

    Scale: spans explode to ~|tokens|/{SPAN_N} rows; first-occurrence
    selection is one window over (doc_id, span) — partitioned BY
    DOCUMENT, so the shuffle key is as wide as the corpus and skew-free
    regardless of how common a span is across documents (contrast
    corpus-level dedup, which keys on the span). The rejoin is a per-doc
    ordered aggregation in the same partitioning."""
    from pyspark.sql.window import Window

    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = TX.tokens(F.lower(F.col("text")))
    base = docs.filter(F.size(toks) > 0).select("doc_id", toks.alias("tok"))
    n_spans = F.ceil(F.size("tok") / F.lit(SPAN_N)).cast("int")
    spans = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n_spans),
                lambda i: F.concat_ws(
                    " ", F.slice("tok", (i - 1) * SPAN_N + 1, SPAN_N)
                ),
            )
        ).alias("pos0", "span"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "span")
    w = Window.partitionBy("doc_id", "span").orderBy("pos")
    marked = spans.withColumn("rn", F.row_number().over(w))
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("rn") == 1, F.struct("pos", "span"))
            )
        ),
        lambda x: x["span"],
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum((F.col("rn") == 1).cast("int")).cast("bigint").alias("n_kept"),
        F.md5(F.array_join(kept_sorted, " ")).alias("dedup_md5"),
    )


# --- deterministic stratified sampling (mix rebalancing) ---------------------

# Downsample the over-represented stratum: keep 1 in 4 'en' documents,
# every document elsewhere — the rebalancing a mix-weights table drives.
EN_MOD = 4


@register(
    "q_stratified_sample",
    oracle=f"""
WITH s AS (
  SELECT lang, doc_id,
         {md5_bucket_sql('CAST(doc_id AS VARCHAR)')}
           % (CASE WHEN lang = 'en' THEN {EN_MOD} ELSE 1 END) = 0 AS keep
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST((1000000 * sum(CASE WHEN keep THEN 1 ELSE 0 END)) // count(*)
            AS BIGINT) AS sample_ppm,
       CAST(bit_xor(CASE WHEN keep THEN doc_id END) AS BIGINT)
         AS sampled_id_xor
FROM s
GROUP BY 1
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the mix-rebalancing step
    that consumes q_mix_weights' table: per-stratum keep decisions are
    a pure hash of the stable doc_id (md5 bucket % stratum rate), so
    any engine, any partitioning, and any re-run selects the IDENTICAL
    row set — reproducible pretraining mixes, no RNG state to ship.
    The xor of sampled ids proves row-level selection equality, not
    just matching counts.

    Scale: a narrow map + one stratum-sized aggregate; no shuffle of
    the sampled payload at all (the decision column travels with the
    scan). Changing rates is a literal edit, and per-stratum rates
    generalize to a broadcast-joined rate table."""
    docs = io.load_table(spark, sf_dir, "documents").select("lang", "doc_id")
    mod = F.when(F.col("lang") == "en", F.lit(EN_MOD)).otherwise(F.lit(1))
    keep = md5_bucket(F.col("doc_id").cast("string")) % mod == 0
    s = docs.select("lang", "doc_id", keep.alias("keep"))
    return s.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_sampled"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN keep THEN 1 ELSE 0 END))"
            " div count(*) AS BIGINT)"
        ).alias("sample_ppm"),
        F.expr("bit_xor(CASE WHEN keep THEN doc_id END)")
        .cast("bigint")
        .alias("sampled_id_xor"),
    )


# --- takedown / right-to-be-forgotten cascade --------------------------------

FORGET_MOD = 64  # the forget-list: customers with salted hash bucket 0


@register(
    "q_takedown_propagation",
    oracle=f"""
WITH forget AS (
  SELECT c_custkey FROM customer
  WHERE {md5_bucket_sql('CAST(c_custkey AS VARCHAR)', salt='forget|')}
        % {FORGET_MOD} = 0
),
del_o AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM forget)
),
del_li AS (
  SELECT l_orderkey, l_linenumber FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM del_o)
),
t AS (
  SELECT 'customer' AS table_name,
         (SELECT count(*) FROM customer) AS rows_before,
         (SELECT count(*) FROM forget) AS rows_deleted,
         (SELECT coalesce(bit_xor(c_custkey), 0) FROM forget) AS deleted_xor
  UNION ALL
  SELECT 'orders',
         (SELECT count(*) FROM orders),
         (SELECT count(*) FROM del_o),
         (SELECT coalesce(bit_xor(o_orderkey), 0) FROM del_o)
  UNION ALL
  SELECT 'lineitem',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM del_li),
         (SELECT coalesce(bit_xor(l_orderkey * 8 + l_linenumber), 0)
          FROM del_li)
)
SELECT table_name,
       CAST(rows_before AS BIGINT) AS rows_before,
       CAST(rows_deleted AS BIGINT) AS rows_deleted,
       CAST(rows_before - rows_deleted AS BIGINT) AS rows_after,
       CAST(deleted_xor AS BIGINT) AS deleted_xor
FROM t
""",
)
def q_takedown_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten / takedown propagation — the compliance
    pass every training-data pipeline needs: given a forget-list of
    customers (deterministic salted-hash bucket, standing in for a DSAR
    batch), CASCADE the deletion through the foreign-key graph
    (customer → their orders → those orders' lineitems) and emit the
    audit a data-protection officer signs: per-table rows before,
    deleted, after, plus an xor fingerprint of the deleted keys so the
    gate proves ROW-LEVEL selection equality across engines, not just
    matching counts (the q_stratified_sample discipline). The actual
    deletes are then ordinary CDC D-batches into merge_apply / MoR —
    this query is the planning+evidence step that decides them.

    Scale: each hop is one semi-join keyed on the parent's key — the
    forget list and the deleted-order list stay tiny relative to the
    tables they prune (AQE broadcasts them when they fit); nothing
    rewrites until the audit is approved, and no driver-side key list
    ever materializes."""
    c = io.load_table(spark, sf_dir, "customer").select("c_custkey")
    forget = c.filter(
        md5_bucket(F.col("c_custkey").cast("string"), salt="forget|")
        % FORGET_MOD
        == 0
    )
    o = io.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    del_o = o.join(
        forget, o.o_custkey == forget.c_custkey, "left_semi"
    ).select("o_orderkey")
    li = io.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    del_li = li.join(
        del_o, li.l_orderkey == del_o.o_orderkey, "left_semi"
    )

    def _audit(name, total_df, del_df, xor_expr):
        total = total_df.agg(
            F.count("*").cast("bigint").alias("rows_before")
        )
        deleted = del_df.agg(
            F.count("*").cast("bigint").alias("rows_deleted"),
            F.coalesce(F.expr(xor_expr), F.lit(0))
            .cast("bigint")
            .alias("deleted_xor"),
        )
        return total.crossJoin(deleted).select(
            F.lit(name).alias("table_name"),
            "rows_before",
            "rows_deleted",
            (F.col("rows_before") - F.col("rows_deleted"))
            .cast("bigint")
            .alias("rows_after"),
            "deleted_xor",
        )

    return (
        _audit("customer", c, forget, "bit_xor(c_custkey)")
        .unionByName(_audit("orders", o, del_o, "bit_xor(o_orderkey)"))
        .unionByName(
            _audit(
                "lineitem",
                li,
                del_li,
                "bit_xor(l_orderkey * 8 + l_linenumber)",
            )
        )
    )


# --- weighted Bernoulli sampling (token-budget mixes) ------------------------

W_CAP = 200_000  # chars at/above this are kept with probability 1


@register(
    "q_weighted_sample",
    oracle=f"""
WITH s AS (
  SELECT lang, doc_id, n_chars,
         {md5_bucket_sql('CAST(doc_id AS VARCHAR)', salt='wsamp|')}
           * {W_CAP} < CAST(n_chars AS BIGINT) * 4294967296 AS keep
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT)
         AS sampled_chars,
       CAST(sum(least(CAST(n_chars AS BIGINT), {W_CAP})) * 1000000
            // ({W_CAP} * count(*)) AS BIGINT) AS expected_ppm,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000 // count(*)
            AS BIGINT) AS actual_ppm,
       CAST(coalesce(bit_xor(CASE WHEN keep THEN doc_id END), 0) AS BIGINT)
         AS sampled_id_xor
FROM s
GROUP BY 1
""",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Bernoulli sampling, integer-exact — q_stratified_sample's
    companion where inclusion probability is PROPORTIONAL TO SIZE
    (p_i = min(1, n_chars/{W_CAP})): the keep decision is the pure
    integer comparison hash32(doc_id) · {W_CAP} < n_chars · 2^32, so
    no float thresholds and no RNG state exist anywhere — any engine,
    partitioning, or re-run selects the identical document set. This
    is the PPS (probability-proportional-to-size) pass a token-budget
    pretraining mix uses to favor long documents without a sort; the
    output records expected vs realized sampling rate per language
    (ppm, both exact integers) and the xor of sampled ids for
    row-level cross-engine equality.

    Scale: a narrow map on the scan (the weight column rides the
    footer-pruned projection) + one stratum-sized aggregate; nothing
    shuffles but the per-language summary."""
    docs = io.load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    keep = (
        md5_bucket(F.col("doc_id").cast("string"), salt="wsamp|") * W_CAP
        < F.col("n_chars").cast("bigint") * F.lit(4294967296)
    )
    s = docs.select("lang", "doc_id", "n_chars", keep.alias("keep"))
    return s.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_sampled"),
        F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("sampled_chars"),
        F.expr(
            f"CAST(sum(least(CAST(n_chars AS BIGINT), {W_CAP})) * 1000000"
            f" div ({W_CAP} * count(*)) AS BIGINT)"
        ).alias("expected_ppm"),
        F.expr(
            "CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000"
            " div count(*) AS BIGINT)"
        ).alias("actual_ppm"),
        F.coalesce(
            F.expr("bit_xor(CASE WHEN keep THEN doc_id END)"), F.lit(0)
        )
        .cast("bigint")
        .alias("sampled_id_xor"),
    )


# --- deterministic epoch shuffle (training-order manifests) ------------------

N_EPOCHS = 2
EPOCH_SHARD = 256  # consecutive positions per shard in the epoch order


@register(
    "q_epoch_shuffle",
    oracle=f"""
WITH ep AS (
  SELECT e.epoch, d.doc_id,
         md5('epoch|' || CAST(e.epoch AS VARCHAR) || '|'
             || CAST(d.doc_id AS VARCHAR)) AS h
  FROM documents d,
       (SELECT unnest(generate_series(0, {N_EPOCHS - 1})) AS epoch) e
),
pos AS (
  SELECT epoch, doc_id,
         CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id)
              AS BIGINT) AS pos
  FROM ep
)
SELECT CAST(epoch AS BIGINT) AS epoch,
       CAST((pos - 1) // {EPOCH_SHARD} AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(bit_xor(doc_id * pos) AS BIGINT) AS order_xor,
       CAST(min(pos) AS BIGINT) AS first_pos,
       CAST(max(pos) AS BIGINT) AS last_pos
FROM pos GROUP BY 1, 2
""",
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffling — the training-order manifest:
    every epoch reads the corpus in a DIFFERENT pseudorandom
    permutation, yet the permutation is a pure function of
    (epoch, doc_id) via an md5 sort key, so any engine, any
    partitioning, and any restart reproduces byte-identical epoch
    manifests with zero RNG state (the data-loader determinism
    contract large training runs require for resumability). Positions
    chunk into {EPOCH_SHARD}-doc shards; the per-shard
    position-weighted xor pins the exact ORDER, not just membership.

    Scale: one range exchange per epoch (row_number over the hash key
    — Spark's sort path); at petabyte scale the same key instead
    hash-buckets into shard files directly (bucket = hash prefix) and
    sorts within shards, keeping the global-sort barrier out — the
    manifest stays identical because the key, not the plan, defines
    the order."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id")
    ep = docs.select(
        "doc_id",
        F.explode(
            F.array(*[F.lit(i) for i in range(N_EPOCHS)])
        ).alias("epoch"),
    ).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat(
                F.lit("epoch|"),
                F.col("epoch").cast("string"),
                F.lit("|"),
                F.col("doc_id").cast("string"),
            )
        ).alias("h"),
    )
    from pyspark.sql.window import Window as W

    pos = ep.select(
        "epoch",
        "doc_id",
        F.row_number()
        .over(W.partitionBy("epoch").orderBy("h", "doc_id"))
        .cast("bigint")
        .alias("pos"),
    )
    return pos.groupBy(
        F.col("epoch").cast("bigint").alias("epoch"),
        F.expr(f"(pos - 1) div {EPOCH_SHARD}").cast("bigint").alias("shard_id"),
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.expr("bit_xor(doc_id * pos)").cast("bigint").alias("order_xor"),
        F.min("pos").cast("bigint").alias("first_pos"),
        F.max("pos").cast("bigint").alias("last_pos"),
    )


# --- fixed-length context-window packing (concatenate-and-chop) -------------

SEQ_LEN = 512    # tokens per training context window
SEQ_BUCKETS = 8  # parallel packing units (scale knob)


@register(
    "q_sequence_pack",
    oracle=f"""
WITH sized AS (
  SELECT doc_id, {md5_bucket_sql('CAST(doc_id AS VARCHAR)', salt='seq|')} % {SEQ_BUCKETS} AS bucket,
         len({TX.TOKENS_SQL}) AS n_tokens
  FROM documents WHERE len({TX.TOKENS_SQL}) > 0
),
packed AS (
  SELECT doc_id, bucket, n_tokens,
         CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS tok_start
  FROM sized
),
spans AS (
  SELECT bucket, doc_id, tok_start, n_tokens,
         unnest(generate_series(tok_start // {SEQ_LEN},
                                (tok_start + n_tokens - 1) // {SEQ_LEN})) AS w
  FROM packed
)
SELECT CAST(bucket * 100000 + w AS BIGINT) AS window_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN tok_start // {SEQ_LEN} = w THEN 1 END) AS BIGINT)
         AS n_starts,
       CAST(sum(least(tok_start + n_tokens, (w + 1) * {SEQ_LEN})
                - greatest(tok_start, w * {SEQ_LEN})) AS BIGINT) AS fill_tokens
FROM spans
GROUP BY 1
""",
)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in a stable
    order and CHOP into fixed {SEQ_LEN}-token context windows — the
    complement of q_token_shards (which keeps documents whole). Per
    window: docs overlapping it, docs that START in it, and fill
    (== {SEQ_LEN} except each bucket's last window). n_docs - n_starts
    is the boundary-crossing count cross-attention masking pays for;
    training-batch auditors track exactly these numbers.

    Scale: documents hash into {SEQ_BUCKETS} independent packing
    buckets (the parallelism unit), so the running offset is a per-
    bucket window sum, never a global sort. Each doc explodes into
    ceil(n_tokens/{SEQ_LEN}) + 1 window rows at most — output volume is
    corpus_tokens/{SEQ_LEN}, a compression. All integer arithmetic:
    window assignment is reproducible across engines and reruns."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from pyspark.sql import Window

    bucket = (
        md5_bucket(F.col("doc_id").cast("string"), salt="seq|") % SEQ_BUCKETS
    )
    sized = docs.select(
        "doc_id",
        bucket.alias("bucket"),
        TX.token_count(F.lower(F.col("text"))).alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sized.withColumn(
        "tok_start",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint"),
    )
    spans = packed.select(
        "bucket",
        "doc_id",
        "tok_start",
        "n_tokens",
        F.explode(
            F.sequence(
                F.expr(f"tok_start div {SEQ_LEN}"),
                F.expr(f"(tok_start + n_tokens - 1) div {SEQ_LEN}"),
            )
        ).alias("w"),
    )
    return spans.groupBy(
        (F.col("bucket") * 100000 + F.col("w")).cast("bigint").alias("window_id")
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count(F.when(F.expr(f"tok_start div {SEQ_LEN}") == F.col("w"), 1))
        .cast("bigint")
        .alias("n_starts"),
        F.sum(
            F.least(
                F.col("tok_start") + F.col("n_tokens"),
                (F.col("w") + 1) * SEQ_LEN,
            )
            - F.greatest(F.col("tok_start"), F.col("w") * SEQ_LEN)
        )
        .cast("bigint")
        .alias("fill_tokens"),
    )


# --- DSIR-shaped importance resampling ---------------------------------------

DSIR_MOD, DSIR_REM = 7, 3  # doc_id % 7 == 3 stands in for the target domain
DSIR_SCALE = 1_000_000  # ppm fixed point for per-token weights
DSIR_K = 100  # selection budget
# Hashed-feature space (r10 verdict #1): both LMs are fitted over token
# HASH BUCKETS, not raw tokens, exactly as the DSIR paper does — the
# weight table is then O(2^20) at ANY corpus scale, while an
# open-vocabulary table grows with the corpus (q_heaps_fit measures
# that growth) and would be a multi-GB broadcast at 100 TB. Collisions
# merge rare tokens' statistics into shared buckets — the paper's
# accepted trade (importance weights stay consistent because BOTH LMs
# see the identical collision structure).
DSIR_BUCKETS = 1 << 20


def _dsir_tf(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """The hashed-bucket TF substrate (doc_id, tok_b, c), persisted
    through the per-corpus substrates.cached_substrates so (a) the
    explode+count lineage materializes once per corpus even though two
    consumers (LM fit + scoring join) read it, and (b) a session
    walking multiple sf_dirs (the scale-trend sweep) evicts the
    previous decade's pinned blocks instead of accumulating them
    (ADVICE r10: the bare per-call persist leaked one cached tf per
    sf_dir for the life of the session)."""

    def _build():
        return (
            docs.select("doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("tok"))
            .groupBy("doc_id", (md5_bucket(F.col("tok")) % DSIR_BUCKETS).alias("tok_b"))
            .agg(F.count("*").alias("c"))
        )

    return cached_substrates("dsir_tf", spark, sf_dir, _build)


@register(
    "q_importance_resample",
    oracle=f"""
WITH tokd AS (
  SELECT doc_id, {TX.TOKENS_SQL} AS tok FROM documents
),
tf AS (
  SELECT doc_id,
         {md5_bucket_sql('tok')} % {DSIR_BUCKETS}
           AS tok_b,
         count(*) AS c
  FROM (SELECT doc_id, unnest(tok) AS tok FROM tokd)
  GROUP BY 1, 2
),
tgt AS (
  SELECT tok_b, sum(c) AS tc FROM tf
  WHERE doc_id % {DSIR_MOD} = {DSIR_REM} GROUP BY 1
),
src AS (SELECT tok_b, sum(c) AS sc FROM tf GROUP BY 1),
tot AS (
  SELECT (SELECT sum(c) FROM tf WHERE doc_id % {DSIR_MOD} = {DSIR_REM}) AS t_total,
         (SELECT sum(c) FROM tf) AS s_total,
         (SELECT count(*) FROM src) AS v
),
w AS (
  SELECT s.tok_b,
         CAST(floor({DSIR_SCALE}.0
                * (CAST(coalesce(g.tc, 0) + 1 AS DOUBLE)
                   * CAST(tot.s_total + tot.v AS DOUBLE))
                / (CAST(s.sc + 1 AS DOUBLE)
                   * CAST(tot.t_total + tot.v AS DOUBLE))) AS BIGINT) AS w_ppm
  FROM src s LEFT JOIN tgt g USING (tok_b) CROSS JOIN tot
),
scored AS (
  SELECT f.doc_id,
         CAST(sum(f.c * w.w_ppm) AS BIGINT) AS score,
         CAST(sum(f.c) AS BIGINT) AS n_tokens
  FROM tf f JOIN w USING (tok_b)
  WHERE f.doc_id % {DSIR_MOD} <> {DSIR_REM}
  GROUP BY 1
)
SELECT doc_id, score, n_tokens FROM scored
ORDER BY score DESC, doc_id LIMIT {DSIR_K}
""",
)
def q_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (the DSIR recipe, Xie
    et al. 2023 — the standard way LLM pipelines upsample raw text
    that LOOKS LIKE a small target domain): fit a unigram LM to the
    target cohort (doc_id % {DSIR_MOD} == {DSIR_REM}) and one to the
    full source corpus, weight every token by the add-one-smoothed
    likelihood ratio, score each RAW-pool document by the TF-weighted
    sum, and keep the top-{DSIR_K} budget. Weights are ppm fixed-point
    BIGINTs computed by ONE double expression with exact-in-double
    integer factors (counts < 2^53), so both engines floor the same
    IEEE value and the doc scores are integer-exact; the token sum is
    a plain ratio-weight sum (the integer-exact proxy for DSIR's
    log-ratio — same per-token ranking signal, no cross-engine libm
    dependency).

    Scale: both LMs live in a FIXED 2^20 hashed-feature space (the
    DSIR paper's construction), so the weight table the corpus joins
    against is bounded at ~8 MB no matter how the vocabulary grows —
    an open-vocabulary table scales with the corpus (q_heaps_fit) and
    stops broadcasting. The corpus contributes one tf shuffle and one
    per-doc score shuffle, both key-bounded; the totals ride a 1-row
    broadcast; selection is TakeOrderedAndProject. Nothing is ever
    corpus × corpus, and the budget cut needs no global sort."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_tgt = F.col("doc_id") % DSIR_MOD == DSIR_REM
    # tf is the shared substrate of the LM fit AND the scoring join —
    # persisted through the bounded per-sf cache
    # (substrates.cached_substrates) so the explode+count lineage runs once
    # per consumer AND switching sf_dirs evicts the previous corpus's
    # pinned blocks instead of accumulating one per decade (measured:
    # decade-2 ratio 11.7 -> ~linear with one pass)
    tf = _dsir_tf(spark, sf_dir, docs)
    # BOTH LMs in one vocabulary-sized pass (conditional aggregation),
    # and the totals from the vocab table — no extra corpus scans
    lm = tf.groupBy("tok_b").agg(
        F.sum("c").alias("sc"),
        F.sum(F.when(is_tgt, F.col("c")).otherwise(0)).alias("tc"),
    )
    tot = lm.agg(
        F.sum("tc").alias("t_total"),
        F.sum("sc").alias("s_total"),
        F.count("*").alias("v"),
    )
    w = (
        lm.crossJoin(F.broadcast(tot))
        .select(
            "tok_b",
            F.floor(
                F.lit(float(DSIR_SCALE))
                * (
                    (F.col("tc") + 1).cast("double")
                    * (F.col("s_total") + F.col("v")).cast("double")
                )
                / (
                    (F.col("sc") + 1).cast("double")
                    * (F.col("t_total") + F.col("v")).cast("double")
                )
            )
            .cast("bigint")
            .alias("w_ppm"),
        )
    )
    return (
        tf.filter(~is_tgt)
        .join(F.broadcast(w), "tok_b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("w_ppm")).cast("bigint").alias("score"),
            F.sum("c").cast("bigint").alias("n_tokens"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(DSIR_K)
    )
