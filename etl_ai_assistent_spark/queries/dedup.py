"""Deduplication queries (north-star family, BASELINE.json).

The testdata has no literal duplicates (500 distinct texts per sf), so
each query derives its corpus deterministically IN the query — exact
copies (id+100000) for exact dedup, token-appended copies for near-dup —
with the identical derivation in the DuckDB oracle. The operators under
test are the real engine operators from operators/dedup.py.

Shared hash vocabulary (identical across engines): functions.md5_bucket
and its DuckDB twin functions.md5_bucket_sql.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io
from ..functions import md5_bucket, md5_bucket_sql
from ..functions import text as TX
from ..functions import vector as V
from ..operators import dedup as D
from ..registry import register
from ..substrates import per_call

# DuckDB twin of functions.text.word_shingles
_SHINGLES_CTE = f"""
shingled AS (
  SELECT id, text,
         list_distinct(
           list_transform(generate_series(1, greatest(len(tok) - 2, 0)),
             i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) AS sh
  FROM (SELECT id, text, {TX.TOKENS_SQL} AS tok FROM corpus)
  WHERE len(tok) >= 3
)
"""


# --- exact dedup -------------------------------------------------------------

@register(
    "q_exact_dedup",
    oracle=r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents
)
SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS text_key,
       min(doc_id) AS keeper_id,
       count(*) AS dup_count
FROM corpus
GROUP BY 1
""",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text hash over a corpus with one exact
    copy of every document: hash-groupBy, keeper = min id. One light
    shuffle of (key, id); the text itself never shuffles."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 100000)
    )
    return D.exact_dedup(corpus)


# --- MinHash + LSH near-dup ---------------------------------------------------

NEAR_LIMIT = 150
K, BANDS, R = 8, 2, 4
_NEAR_CORPUS_SQL = f"""
corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < {NEAR_LIMIT}
  UNION ALL
  SELECT doc_id + 100000 AS id, text || ' zza zzb zzc zzd' AS text
  FROM documents WHERE doc_id < {NEAR_LIMIT}
)
"""


@register(
    "q_minhash_near_dup",
    oracle=f"""
WITH {_NEAR_CORPUS_SQL},
{_SHINGLES_CTE},
sb AS (
  SELECT id, sh, list_transform(sh, s -> {md5_bucket_sql('s')}) AS sb
  FROM shingled
),
mh AS (
  SELECT id, sh,
         list_transform(generate_series(0, {K - 1}),
           j -> list_min(list_transform(sb,
                  x -> ((j * 2 + 1) * 1000003 * x + j * 7919 + 1) % 2147483647)))
           AS m
  FROM sb
),
banded AS (
  SELECT id, b.band_idx,
         md5(CAST(m[band_idx * {R} + 1] AS VARCHAR) || ',' ||
             CAST(m[band_idx * {R} + 2] AS VARCHAR) || ',' ||
             CAST(m[band_idx * {R} + 3] AS VARCHAR) || ',' ||
             CAST(m[band_idx * {R} + 4] AS VARCHAR)) AS band_hash
  FROM mh, (SELECT unnest(generate_series(0, {BANDS - 1})) AS band_idx) b
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id
)
SELECT c.id_a, c.id_b,
       round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
FROM cands c
JOIN shingled sa ON sa.id = c.id_a
JOIN shingled sb ON sb.id = c.id_b
WHERE round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) >= 0.5
""",
)
def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate detection end-to-end on a corpus where
    every doc has a near-copy (4 appended tokens, Jaccard ~0.9): shingle
    -> 8 minhashes -> 2 banded signatures -> candidate equi-join ->
    true-Jaccard verify. The cross product never materializes; candidate
    volume is governed by the banding curve."""
    docs = (
        io.load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < NEAR_LIMIT)
        .select(F.col("doc_id").alias("id"), "text")
    )
    corpus = docs.unionByName(
        docs.select(
            (F.col("id") + 100000).alias("id"),
            F.concat(F.col("text"), F.lit(" zza zzb zzc zzd")).alias("text"),
        )
    )
    return D.minhash_near_dup_pairs(
        corpus, text_col="text", id_col="id", k=K, bands=BANDS, threshold=0.5
    )


# --- SimHash ------------------------------------------------------------------

SIM_LIMIT = 200


@register(
    "q_simhash_signatures",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < {SIM_LIMIT}
),
hashed AS (
  SELECT id, list_transform({TX.TOKENS_SQL.strip()},
                t -> {md5_bucket_sql('t')}) AS h
  FROM corpus
)
SELECT id AS doc_id,
       list_reduce(list_transform(generate_series(0, 15),
         b -> CASE WHEN list_reduce(
                     list_concat([CAST(0 AS BIGINT)],
                       list_transform(h,
                         x -> CASE WHEN (x // CAST(pow(2, b) AS BIGINT)) % 2 = 1
                              THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
                     (a, v) -> a + v) >= 0
              THEN CAST(pow(2, b) AS BIGINT) ELSE CAST(0 AS BIGINT) END),
         (a, v) -> a + v) AS simhash
FROM hashed
""",
)
def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document — frequency-weighted bit votes over
    md5 token buckets, built-in expressions only (bit tests via integer
    DIV/mod since shift functions need literals)."""
    docs = io.load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < SIM_LIMIT
    )
    return docs.select("doc_id", D.token_buckets("text").alias("h")).select(
        "doc_id", D.simhash_from_buckets(F.col("h"), bits=16).alias("simhash")
    )


@register(
    "q_simhash_near_dup",
    oracle=f"""
WITH {_NEAR_CORPUS_SQL},
hashed AS (
  SELECT id, list_transform({TX.TOKENS_SQL.strip()},
                t -> {md5_bucket_sql('t')}) AS h
  FROM corpus
),
sigs AS (
  SELECT id,
         list_reduce(list_transform(generate_series(0, 15),
           b -> CASE WHEN list_reduce(
                       list_concat([CAST(0 AS BIGINT)],
                         list_transform(h,
                           x -> CASE WHEN (x // CAST(pow(2, b) AS BIGINT)) % 2 = 1
                                THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
                       (a, v) -> a + v) >= 0
                THEN CAST(pow(2, b) AS BIGINT) ELSE CAST(0 AS BIGINT) END),
           (a, v) -> a + v) AS sig
  FROM hashed
),
banded AS (
  SELECT id, sig, 0 AS band_idx, sig // 256 AS band_val FROM sigs
  UNION ALL
  SELECT id, sig, 1 AS band_idx, sig % 256 AS band_val FROM sigs
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.id < b.id
)
SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
FROM cands
WHERE bit_count(xor(sig_a, sig_b)) <= 3
""",
)
def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs on the near-copy corpus: byte-banded
    candidates (pigeonhole: hamming<=3 over 16 bits guarantees one equal
    half... when the damage is confined to one half; the standard
    recall/precision trade), Hamming verify via bit_count(xor)."""
    docs = (
        io.load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < NEAR_LIMIT)
        .select(F.col("doc_id").alias("id"), "text")
    )
    corpus = docs.unionByName(
        docs.select(
            (F.col("id") + 100000).alias("id"),
            F.concat(F.col("text"), F.lit(" zza zzb zzc zzd")).alias("text"),
        )
    )
    return D.simhash_near_dup_pairs(
        corpus, text_col="text", id_col="id", bits=16, max_hamming=3
    )


# --- n-gram Jaccard scored pairs ----------------------------------------------

@register(
    "q_ngram_jaccard_pairs",
    oracle=f"""
WITH {_NEAR_CORPUS_SQL},
{_SHINGLES_CTE}
SELECT a.id AS id_a, b.id AS id_b,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(a.sh), 6) AS containment_a
FROM shingled a JOIN shingled b ON b.id = a.id + 100000
""",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard + containment for known original/variant
    pairs (equi-join on the derived id mapping — the metric op isolated
    from candidate generation)."""
    from ..functions import text as TX

    docs = (
        io.load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < NEAR_LIMIT)
        .select(F.col("doc_id").alias("id"), "text")
    )
    corpus = docs.unionByName(
        docs.select(
            (F.col("id") + 100000).alias("id"),
            F.concat(F.col("text"), F.lit(" zza zzb zzc zzd")).alias("text"),
        )
    )
    sh = corpus.select(
        "id", TX.word_shingles("text").alias("sh")
    ).filter(F.size("sh") > 0)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    return a.join(b, F.col("b.id") == F.col("a.id") + 100000).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.round(inter / union, 6).alias("jaccard"),
        F.round(inter / F.size(F.col("a.sh")), 6).alias("containment_a"),
    )


# --- embedding-cosine near-dup -------------------------------------------------

COS_THRESHOLD = 0.35


def _embedding_near_dup_oracle() -> str:
    # the SRP hyperplane VALUES table is shared with q_srp_topk's oracle
    from .vector_search import _srp_signs_sql

    return f"""
WITH {_srp_signs_sql()},
item_bits AS (
  SELECT e.vec_id AS id, s.j,
         CASE WHEN list_reduce(
                list_transform(generate_series(1, 64),
                               i -> CAST(e.embedding[i] AS DOUBLE) * s.sv[i]),
                (a, b) -> a + b) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM embeddings e, signs s
),
item_bands AS (
  SELECT id, CAST(j // 4 AS INT) AS band_idx,
         sum(bit * (1 << (3 - CAST(j % 4 AS INT)))) AS band_val
  FROM item_bits GROUP BY 1, 2
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM item_bands a
  JOIN item_bands b USING (band_idx, band_val)
  WHERE a.id < b.id
),
normed AS (
  SELECT vec_id, embedding,
         sqrt({V.dot_duckdb('embedding', 'embedding')}) AS nrm
  FROM embeddings
),
scored AS (
  SELECT c.id_a, c.id_b,
         round({V.dot_duckdb('a.embedding', 'b.embedding')}
               / (a.nrm * b.nrm), 6) AS cos
  FROM cands c
  JOIN normed a ON a.vec_id = c.id_a
  JOIN normed b ON b.vec_id = c.id_b
)
SELECT id_a, id_b, cos FROM scored WHERE cos >= {COS_THRESHOLD}
"""


def embedding_near_dup_allpairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The exact O(n²) form — NOT registered; tests use it as the
    small-fixture recall cross-check for the banded plan below."""

    # norms hoisted out of the pair loop: one O(d) pass per vector, not
    # 3 per pair
    normed = io.load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        V.norm("embedding").alias("nrm"),
    )
    a = normed.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = normed.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).withColumn(
        "cos",
        F.round(V.dot("ea", "eb") / (F.col("na") * F.col("nb")), 6),
    )
    return pairs.filter(F.col("cos") >= COS_THRESHOLD).select(
        "id_a", "id_b", "cos"
    )


@register("q_embedding_near_dup", oracle=_embedding_near_dup_oracle())
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos >= 0.35), candidate-pruned:
    SRP-LSH banded signatures (operators/similarity.srp_bands) generate
    candidate pairs via a band equi-join — the all-pairs nested loop
    never materializes — then exact cosine verifies candidates only.
    At 100 TB the scored-pair volume is bounded by the banding curve
    (4 bands × 4 bits here), not |n|²; recall at a given threshold is
    the standard 1-(1-p^r)^b curve, cross-checked against the exact
    all-pairs form in tests/test_dedup_family.py. The oracle replays
    the identical banding, so this is value-exact, not rows-only."""
    from ..operators.similarity import srp_bands

    emb = io.load_table(spark, sf_dir, "embeddings")
    bands = srp_bands(emb)  # (id, band_idx, band_val)
    cands = (
        bands.withColumnRenamed("id", "id_a")
        .join(bands.withColumnRenamed("id", "id_b"), ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    normed = emb.select(
        "vec_id",
        "embedding",
        V.norm("embedding").alias("nrm"),
    )
    a = normed.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = normed.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    verified = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "cos",
            F.round(V.dot("ea", "eb") / (F.col("na") * F.col("nb")), 6),
        )
    )
    return verified.filter(F.col("cos") >= COS_THRESHOLD).select(
        "id_a", "id_b", "cos"
    )


# --- fingerprint ----------------------------------------------------------------

@register(
    "q_fingerprint",
    oracle=f"""
WITH corpus AS (SELECT doc_id AS id, text FROM documents)
SELECT id AS doc_id,
       list_reduce(
         list_concat([CAST(0 AS BIGINT)],
           list_transform({TX.TOKENS_SQL.strip()}, t -> {md5_bucket_sql('t')})),
         (acc, t) -> (acc * 31 + t) % 2147483647) AS fingerprint
FROM corpus
""",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint (h = h*31 + bucket mod
    2^31-1) — distinguishes token permutations that the set-based
    detectors collapse."""
    docs = io.load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id"), D.fingerprint("text").alias("fingerprint")
    )


# --- pair graph -> duplicate clusters ----------------------------------------

@register(
    "q_dedup_components",
    oracle=f"""
WITH RECURSIVE {_NEAR_CORPUS_SQL},
{_SHINGLES_CTE},
sb AS (
  SELECT id, sh, list_transform(sh, s -> {md5_bucket_sql('s')}) AS sb
  FROM shingled
),
mh AS (
  SELECT id, sh,
         list_transform(generate_series(0, {K - 1}),
           j -> list_min(list_transform(sb,
                  x -> ((j * 2 + 1) * 1000003 * x + j * 7919 + 1) % 2147483647)))
           AS m
  FROM sb
),
banded AS (
  SELECT id, b.band_idx,
         md5(CAST(m[band_idx * {R} + 1] AS VARCHAR) || ',' ||
             CAST(m[band_idx * {R} + 2] AS VARCHAR) || ',' ||
             CAST(m[band_idx * {R} + 3] AS VARCHAR) || ',' ||
             CAST(m[band_idx * {R} + 4] AS VARCHAR)) AS band_hash
  FROM mh, (SELECT unnest(generate_series(0, {BANDS - 1})) AS band_idx) b
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cands c
  JOIN shingled sa ON sa.id = c.id_a
  JOIN shingled sb2 ON sb2.id = c.id_b
  WHERE round(CAST(len(list_intersect(sa.sh, sb2.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.sh, sb2.sh))), 6) >= 0.5
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach AS (
  SELECT u AS node, u AS root FROM edges
  UNION
  SELECT e.v AS node, r.root
  FROM reach r JOIN edges e ON e.u = r.node
)
SELECT node AS id, min(root) AS component
FROM reach GROUP BY node
""",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup story: MinHash+LSH pairs -> transitive closure ->
    duplicate clusters. Iterative min-label propagation (DataFrame
    joins, fixpoint detected by a changed-count aggregate; see
    operators/components.py) against a DuckDB RECURSIVE CTE oracle —
    the streaming-free analogue of GraphFrames CC. component = min id
    in the cluster = the dedup keeper."""
    from ..operators.components import connected_components

    docs = (
        io.load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < NEAR_LIMIT)
        .select(F.col("doc_id").alias("id"), "text")
    )
    corpus = docs.unionByName(
        docs.select(
            (F.col("id") + 100000).alias("id"),
            F.concat(F.col("text"), F.lit(" zza zzb zzc zzd")).alias("text"),
        )
    )
    pairs = D.minhash_near_dup_pairs(
        corpus, text_col="text", id_col="id", k=K, bands=BANDS, threshold=0.5
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return comp.select(F.col("node").alias("id"), "component")


@register(
    "q_dedup_survivors",
    oracle=r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents
),
groups AS (
  SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS text_key,
         min(doc_id) AS keeper_id,
         count(*) AS dup_count
  FROM corpus
  GROUP BY 1
)
SELECT c.doc_id, g.dup_count
FROM corpus c JOIN groups g
  ON g.text_key = md5(regexp_replace(trim(lower(c.text)), '\s+', ' ', 'g'))
WHERE c.doc_id = g.keeper_id
""",
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable end of dedup: the surviving corpus. Keepers from
    the hash-group table semi-joined back to the corpus (broadcastable:
    the keeper table is one row per DISTINCT text, tiny relative to a
    duplicate-heavy 100 TB corpus) with each survivor carrying its
    eliminated-duplicate count."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 100000)
    )
    groups = D.exact_dedup(corpus)
    keyed = corpus.withColumn("text_key", D.normalized_text_key("text"))
    return (
        keyed.join(groups, "text_key")
        .filter(F.col("doc_id") == F.col("keeper_id"))
        .select("doc_id", "dup_count")
    )


# --- character-level fuzzy matching (entity resolution) --------------------

FUZZY_MAX_KEY = 400
FUZZY_K = 1


@register(
    "q_fuzzy_match_names",
    oracle=f"""
WITH s AS (
  SELECT c_custkey AS id, substr(c_name, length(c_name) - 3, 4) AS code
  FROM customer WHERE c_custkey < {FUZZY_MAX_KEY}
)
SELECT a.id AS a_id, b.id AS b_id,
       CAST(list_sum(list_transform(generate_series(1, 4),
              i -> CASE WHEN substr(a.code, i, 1) <> substr(b.code, i, 1)
                        THEN 1 ELSE 0 END)) AS BIGINT) AS dist
FROM s a JOIN s b ON a.id < b.id
WHERE list_sum(list_transform(generate_series(1, 4),
        i -> CASE WHEN substr(a.code, i, 1) <> substr(b.code, i, 1)
                  THEN 1 ELSE 0 END)) <= {FUZZY_K}
""",
)
def q_fuzzy_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level fuzzy self-match (operators/fuzzy.py): customer
    id-code pairs within Hamming distance {FUZZY_K}, candidates from the
    PIGEONHOLE segment block — two strings within distance k must agree
    exactly on one of k+1 contiguous segments, so candidate generation
    is an equi-join on (segment_idx, segment_value, length), never an
    all-pairs cross join; exact distance verifies candidates only (the
    MinHash candidates-then-verify architecture at character level).

    The match string is the name's 4-digit varying suffix: blocking
    keys must carry entropy, and the constant 'Customer#' prefix would
    collapse every row into one block (the low-entropy degradation the
    operator docstring warns about — strip constant prefixes first).
    The oracle verifies by direct all-pairs on the bounded subset."""
    from ..operators.fuzzy import hamming_near_join

    c = io.load_table(spark, sf_dir, "customer")
    s = c.filter(F.col("c_custkey") < FUZZY_MAX_KEY).select(
        F.col("c_custkey").alias("id"),
        F.expr("substr(c_name, length(c_name) - 3, 4)").alias("code"),
    )
    return hamming_near_join(s, "id", "code", k=FUZZY_K)


# --- banded edit-distance matching (indel-tolerant entity resolution) -------

LEV_MAX_KEY = 400
LEV_K = 1


@register(
    "q_levenshtein_match",
    oracle=f"""
WITH s0 AS (
  SELECT c_custkey AS id, substr(c_name, length(c_name) - 3, 4) AS code
  FROM customer WHERE c_custkey < {LEV_MAX_KEY}
),
tw AS (
  SELECT id + 100000 AS id, substr(code, 1, 1) || substr(code, 3) AS code
  FROM s0
),
s AS (SELECT * FROM s0 UNION ALL SELECT * FROM tw)
SELECT a.id AS a_id, b.id AS b_id,
       CAST(levenshtein(a.code, b.code) AS BIGINT) AS dist
FROM s a JOIN s b ON a.id < b.id
WHERE levenshtein(a.code, b.code) <= {LEV_K}
""",
)
def q_levenshtein_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy self-match (operators/fuzzy.py
    levenshtein_near_join): the indel-tolerant tier the Hamming
    pigeonhole can't express — the reference DECLARES this capability
    (rapidfuzz, an edit-distance library, in its pyproject.toml:22)
    but never built it. Fixture is the corrupted-twin pattern from
    q_fuzzy_match_names: each customer's 4-char name suffix plus a
    twin with the 2nd character DELETED (a pure indel, invisible to
    Hamming), matched at Levenshtein <= {LEV_K}.

    Scale: PassJoin banding — candidates come from an equi-join of
    canonical k+1-segment partitions against length-adjusted,
    ±k-shifted probe substrings, so candidate volume is governed by
    segment-block selectivity (the suffix carries the name's entropy;
    the constant prefix is stripped exactly as the Hamming query
    does); verification is Spark's BUILT-IN levenshtein expression on
    deduplicated candidates only. The DuckDB oracle verifies by direct
    all-pairs levenshtein on the bounded subset."""
    from ..operators.fuzzy import levenshtein_near_join

    c = io.load_table(spark, sf_dir, "customer")
    s0 = c.filter(F.col("c_custkey") < LEV_MAX_KEY).select(
        F.col("c_custkey").alias("id"),
        F.expr("substr(c_name, length(c_name) - 3, 4)").alias("code"),
    )
    tw = s0.select(
        (F.col("id") + 100000).alias("id"),
        F.expr("substr(code, 1, 1) || substr(code, 3)").alias("code"),
    )
    s = s0.unionByName(tw)
    return levenshtein_near_join(s, "id", "code", k=LEV_K)


# --- semantic dedup (SemDeDup shape: cluster, then dedup within) ---------

SEM_K = 8  # coarse clusters
SEM_THRESHOLD = 0.3  # within-cluster cosine duplicate threshold


def _sem_assign_ctes() -> str:
    """The coarse-assignment CTE prefix (quantize → seed → packed
    argmin) shared by the q_semdedup result oracle and the
    q_semdedup_balance diagnostic oracle — one definition so the two
    can never drift apart."""
    from .clustering import DIM, _QUANT

    return f"""q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
),
c0 AS (
  SELECT CAST(vec_id AS BIGINT) AS cid, qv AS cv FROM q WHERE vec_id < {SEM_K}
),
d1 AS (
  SELECT v.vec_id, {V.dist2_duckdb('v.qv', 'c.cv', DIM)} * 1000000 + c.cid AS p FROM q v, c0 c
),
a1 AS (
  SELECT vec_id, CAST(min(p) % 1000000 AS BIGINT) AS cluster
  FROM d1 GROUP BY vec_id
)"""


def _semdedup_oracle() -> str:
    from .clustering import DIM

    return f"""
WITH {_sem_assign_ctes()},
nrm AS (
  SELECT e.vec_id, a.cluster, e.embedding,
         sqrt(list_sum(list_transform(e.embedding,
              x -> CAST(x AS DOUBLE) * x))) AS nr
  FROM embeddings e JOIN a1 a ON a.vec_id = e.vec_id
),
pairs AS (
  SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_sum(list_transform(generate_series(1, {DIM}),
               i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i]))
               / (a.nr * b.nr), 6) AS cos
  FROM nrm a JOIN nrm b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
)
SELECT cluster, id_b AS id_drop,
       CAST(min(id_a) AS BIGINT) AS dup_of,
       max(cos) AS max_cos
FROM pairs WHERE cos >= {SEM_THRESHOLD}
GROUP BY 1, 2
"""


@register("q_semdedup", oracle=_semdedup_oracle())
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) on the embeddings table: coarse
    k-means assignment first (integer-lattice arithmetic from
    operators/kmeans.py — id-ordered init, packed-bigint argmin, so
    cluster labels are bit-identical on any engine/partitioning), then
    EXACT cosine only WITHIN each cluster; a vector is dropped when a
    lower-id cluster-mate sits above the threshold, reported with its
    minimal witness and max similarity.

    This is the scale shape that makes semantic dedup tractable: the
    candidate set is Σ_c |c|² instead of n² — the coarse pass bounds
    the quadratic term by the largest cluster, and K tunes that bound
    against the corpus (with the usual SemDeDup caveat that cluster
    balance matters; q_skew_stats-style diagnostics apply). Assignment
    is one K-row broadcast; the pair join is a self-equi-join on the
    cluster key — no all-pairs nested loop exists in the plan. Cosine
    folds left-to-right over FLOAT→DOUBLE promotion, rounded to 6 on
    both engines (the q_embedding_near_dup discipline)."""
    from ..operators import kmeans as KM

    emb, a1 = _sem_assign(spark, sf_dir)
    # the clustered+normed table feeds BOTH sides of the pair join
    normed = emb.join(a1, "vec_id").select(
        "vec_id", "cluster", "embedding", V.norm("embedding").alias("nr")
    )
    a = normed.select(
        "cluster",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.col("nr").alias("na"),
    )
    b = normed.select(
        "cluster",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.col("nr").alias("nb"),
    )
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            F.round(V.dot("ea", "eb") / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cos") >= SEM_THRESHOLD)
    )
    return pairs.groupBy("cluster", F.col("id_b").alias("id_drop")).agg(
        F.min("id_a").cast("bigint").alias("dup_of"),
        F.max("cos").alias("max_cos"),
    )


def _sem_assign(spark: SparkSession, sf_dir: str):
    """(embeddings, coarse assignment) — the SemDeDup clustering pass,
    shared by the dedup query and its balance diagnostic."""
    from ..operators import kmeans as KM

    emb = io.load_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", KM.quantize("embedding").alias("qv"))
    c0 = q.filter(F.col("vec_id") < SEM_K).select(
        F.col("vec_id").cast("bigint").alias("cid"), F.col("qv").alias("cv")
    )
    return emb, KM.assign(q, c0).select("vec_id", "cluster")


def cluster_balance(assign: DataFrame) -> DataFrame:
    """Cluster-balance diagnostic over a (.., cluster) assignment — the
    measured evidence behind SemDeDup's Σ|c|² tractability claim
    (r6 verdict #4): max-cluster share (ppm, integer-exact) and the
    actual candidate-pair count vs the all-pairs worst case. A
    max_share_ppm near 1e6 means one cluster absorbed the corpus and
    the within-cluster pair join degrades toward n² — re-seed or raise
    K before running the dedup at scale. q_skew_stats applied to
    cluster sizes.

    Scale: one partial-agg'd groupBy on the cluster key + a 1-row
    reduction; strictly cheaper than the dedup's pair join it gates."""
    sizes = assign.groupBy("cluster").agg(F.count("*").alias("n"))
    return sizes.agg(
        F.sum("n").cast("bigint").alias("n_vectors"),
        F.count("*").cast("bigint").alias("n_clusters"),
        F.max("n").cast("bigint").alias("max_cluster_rows"),
        F.expr("max(n) * 1000000 div sum(n)")
        .cast("bigint")
        .alias("max_share_ppm"),
        F.expr("sum(n * (n - 1) div 2)")
        .cast("bigint")
        .alias("candidate_pairs"),
        F.expr(
            "sum(n * (n - 1) div 2) * 1000000"
            " div (sum(n) * (sum(n) - 1) div 2)"
        )
        .cast("bigint")
        .alias("pair_fraction_ppm"),
    )


@register(
    "q_semdedup_balance",
    oracle=f"""
WITH {_sem_assign_ctes()},
sizes AS (SELECT cluster, count(*) AS n FROM a1 GROUP BY 1)
SELECT CAST(sum(n) AS BIGINT) AS n_vectors,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(max(n) AS BIGINT) AS max_cluster_rows,
       CAST(max(n) * 1000000 // sum(n) AS BIGINT) AS max_share_ppm,
       CAST(sum(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs,
       CAST(sum(n * (n - 1) // 2) * 1000000
            // (sum(n) * (sum(n) - 1) // 2) AS BIGINT)
         AS pair_fraction_ppm
FROM sizes
""",
)
def q_semdedup_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_semdedup companion diagnostic: replays the SAME coarse
    assignment (shared _sem_assign / _sem_assign_ctes, so query and
    diagnostic can never diverge) and reduces cluster sizes to the
    balance evidence — see cluster_balance. On the testdata corpus the
    pair_fraction_ppm column IS the measured Σ|c|²/n² saving."""
    _, a1 = _sem_assign(spark, sf_dir)
    return cluster_balance(a1)


# --- cross-document repeated spans (ExactSubstr-style audit) ---------------

CDS_K = 8  # tokens per span; Lee et al. use 50-token substrings at web scale


@register(
    "q_cross_doc_spans",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {TX.TOKENS_SQL.strip()} AS tok FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         {md5_bucket_sql('gram')} AS gram_h
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(tok) - {CDS_K} + 1),
                                 i -> array_to_string(tok[i:i+{CDS_K}-1], ' ')))
             AS gram
    FROM toks WHERE len(tok) >= {CDS_K}
  )
),
freq AS (
  SELECT gram_h, CAST(count(*) AS BIGINT) AS n_docs FROM grams GROUP BY 1
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(coalesce(count(*) FILTER (f.n_docs >= 2), 0) AS BIGINT) AS n_shared,
       CAST(coalesce(max(f.n_docs) FILTER (f.n_docs >= 2), 0) AS BIGINT)
         AS max_partners,
       CAST(1000000 * count(*) FILTER (f.n_docs >= 2) // count(*) AS BIGINT)
         AS shared_ppm
FROM grams g JOIN freq f USING (gram_h)
GROUP BY 1
""",
)
def q_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span audit — the corpus-level exact-
    substring duplication signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": boilerplate and
    licence blocks repeat VERBATIM across documents that no whole-doc
    or near-dup pass catches). Every overlapping {CDS_K}-token span is
    hashed; a span seen in >= 2 DISTINCT documents is shared, and each
    document reports its distinct-span count, shared-span count, the
    widest fan-out (max_partners), and shared_ppm — the integer
    fraction a span-level cleaner would rewrite. Complements
    q_span_dedup, which is strictly INTRA-document.

    Scale: the suffix-array construction of the paper is replaced by
    the shuffle-native equivalent — stride-1 k-gram hashing. Span rows
    are ~|tokens| per doc, deduped per (doc, span) map-side; the
    frequency table is one partial-agg'd groupBy on the span hash, and
    the join back fans each (doc, span) row to exactly ONE frequency
    row, so total join volume is |distinct spans per doc| — never
    quadratic. A boilerplate span shared by millions of docs makes a
    hot reducer key bounded by its own doc count; salting the count
    aggregation handles it, and the 32-bit span hash (collision-safe
    at test scale) widens to 128-bit at corpus scale."""
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return D.shared_span_stats(docs, CDS_K)


# --- exact set-similarity join via prefix filtering (PPJoin family) --------

JPJ_LIMIT = 400       # bounded subset keeps the oracle's all-pairs cheap
JPJ_NUM, JPJ_DEN = 7, 10  # Jaccard threshold tau = 7/10


@register(
    "q_jaccard_prefix_join",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < {JPJ_LIMIT}
),
{_SHINGLES_CTE}
SELECT a.id AS id_a, b.id AS id_b,
       CAST(1000000 * len(list_intersect(a.sh, b.sh))
            // (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            AS BIGINT) AS jacc_ppm
FROM shingled a JOIN shingled b ON a.id < b.id
WHERE len(list_intersect(a.sh, b.sh)) * {JPJ_DEN}
      >= {JPJ_NUM} * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
""",
)
def q_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard similarity self-join via PREFIX FILTERING (the
    AllPairs/PPJoin family, Bayardo et al. 2007 / Xiao et al. 2008) —
    the deterministic complement to MinHash: every pair with shingle
    Jaccard >= {JPJ_NUM}/{JPJ_DEN} is found, no probabilistic recall.
    The theorem: order every doc's shingle set by one global total
    order (document frequency ASC, then shingle — rare first), keep
    only the first n - ceil(tau*n) + 1 entries as the PREFIX; any
    qualifying pair MUST share a prefix entry (if not, their >= 
    ceil(tau*max(n_a,n_b)) common shingles all fit in a suffix shorter
    than that — contradiction). Candidates therefore come from an
    equi-join on prefix shingles only; exact Jaccard verifies each.
    The oracle runs the naive all-pairs theta join over the SAME
    corpus, so result equality empirically proves the filter lossless.

    Scale: df ranking and prefix extraction are two keyed shuffles +
    one per-doc array_sort (no global sort — the order is (df, gram),
    computable per element). Candidate volume is bounded by prefix
    posting lists, and rare-first ordering makes those the SHORTEST
    lists (a boilerplate shingle shared by everyone sits at the END of
    every prefix order and rarely enters one). Verification touches
    candidates only. The tau knob trades prefix length against
    candidate count exactly as published."""
    docs = (
        io.load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < JPJ_LIMIT)
        .select(F.col("doc_id").alias("id"), "text")
    )
    return D.jaccard_prefix_pairs(docs, JPJ_NUM, JPJ_DEN)


# --- MinHash recall audit against the exact prefix-join ground truth --------

MHR_NUM, MHR_DEN = 1, 2  # tau = 0.5, matching q_minhash_near_dup's verify


@register(
    "q_minhash_recall",
    oracle=f"""
WITH {_NEAR_CORPUS_SQL},
{_SHINGLES_CTE},
truth AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM shingled a JOIN shingled b ON a.id < b.id
  WHERE len(list_intersect(a.sh, b.sh)) * {MHR_DEN}
        >= {MHR_NUM} * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
),
sb AS (
  SELECT id, sh, list_transform(sh, s -> {md5_bucket_sql('s')}) AS sb
  FROM shingled
),
mh AS (
  SELECT id, sh,
         list_transform(generate_series(0, {K - 1}),
           j -> list_min(list_transform(sb,
                  x -> ((j * 2 + 1) * 1000003 * x + j * 7919 + 1) % 2147483647)))
           AS m
  FROM sb
),
banded AS (
  SELECT id, b.band_idx,
         md5(CAST(m[band_idx * {R} + 1] AS VARCHAR) || ',' ||
             CAST(m[band_idx * {R} + 2] AS VARCHAR) || ',' ||
             CAST(m[band_idx * {R} + 3] AS VARCHAR) || ',' ||
             CAST(m[band_idx * {R} + 4] AS VARCHAR)) AS band_hash
  FROM mh, (SELECT unnest(generate_series(0, {BANDS - 1})) AS band_idx) b
),
lsh AS (
  SELECT DISTINCT c.id_a, c.id_b
  FROM (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
             AND a.id < b.id) c
  JOIN shingled sa ON sa.id = c.id_a
  JOIN shingled sb2 ON sb2.id = c.id_b
  WHERE len(list_intersect(sa.sh, sb2.sh)) * {MHR_DEN}
        >= {MHR_NUM} * (len(sa.sh) + len(sb2.sh)
                        - len(list_intersect(sa.sh, sb2.sh)))
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
       (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_lsh,
       (SELECT CAST(count(*) AS BIGINT)
        FROM truth t JOIN lsh l ON t.id_a = l.id_a AND t.id_b = l.id_b)
         AS n_hits,
       CAST(1000000 * (SELECT count(*) FROM truth t JOIN lsh l
                       ON t.id_a = l.id_a AND t.id_b = l.id_b)
            // greatest((SELECT count(*) FROM truth), 1) AS BIGINT)
         AS recall_ppm
""",
)
def q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the MinHash+LSH detector against EXACT ground
    truth — the dedup twin of q_ann_recall: the prefix-filter join
    (deterministic, lossless) enumerates every pair with true Jaccard
    >= {MHR_NUM}/{MHR_DEN} over the near-copy corpus; the banded-LSH
    path ({K} hashes, {BANDS} bands of {R}) reports what it recovered.
    recall_ppm measures the banding curve 1-(1-s^r)^b empirically —
    the number a production dedup run tunes bands/rows against.

    Scale: truth is prefix-filter bounded (no all-pairs), LSH is banded
    equi-join; the audit itself is one pair-keyed join of two already-
    bounded pair sets + a global count. At 100 TB this runs on a
    sampled corpus slice while K/bands are tuned, exactly like the ANN
    recall loop."""
    docs = (
        io.load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < NEAR_LIMIT)
        .select(F.col("doc_id").alias("id"), "text")
    )
    corpus = per_call(  # feeds BOTH the truth and LSH branches
        docs.unionByName(
            docs.select(
                (F.col("id") + 100000).alias("id"),
                F.concat(F.col("text"), F.lit(" zza zzb zzc zzd")).alias("text"),
            )
        )
    )
    truth = D.jaccard_prefix_pairs(corpus, MHR_NUM, MHR_DEN).select(
        "id_a", "id_b"
    )
    lsh = D.minhash_near_dup_pairs(
        corpus, text_col="text", id_col="id", k=K, bands=BANDS, threshold=0.5
    ).select("id_a", "id_b")
    # r13 ONE PASS: the r12 audit ran the truth subtree twice (semi-join
    # probe + its own count) and the LSH subtree twice (semi-join build
    # + its own count) across three crossJoined aggregates. Both pair
    # sets are DISTINCT by construction (candidates deduped before
    # verification), so a single full-outer join on the pair key
    # computes all three counts in one pass over each subtree:
    # n_true = rows with a truth side, n_lsh = rows with an LSH side,
    # n_hits = rows with both — identical values, half the work.
    j = truth.withColumn("t", F.lit(1)).join(
        lsh.withColumn("l", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    return j.agg(
        F.count("t").cast("bigint").alias("n_true"),
        F.count("l").cast("bigint").alias("n_lsh"),
        F.sum(
            F.when(F.col("t").isNotNull() & F.col("l").isNotNull(), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_hits"),
    ).select(
        "n_true",
        "n_lsh",
        "n_hits",
        F.expr(
            "CAST(1000000 * n_hits div greatest(n_true, 1) AS BIGINT)"
        ).alias("recall_ppm"),
    )


# --- containment join (near-superset detection) ------------------------------

CJ_NUM, CJ_DEN = 9, 10  # containment threshold tau = 9/10


@register(
    "q_containment_join",
    oracle=f"""
WITH {_NEAR_CORPUS_SQL},
{_SHINGLES_CTE}
SELECT a.id AS id_a, b.id AS id_b,
       CAST(1000000 * len(list_intersect(a.sh, b.sh)) // len(a.sh)
            AS BIGINT) AS cont_ppm
FROM shingled a JOIN shingled b ON a.id <> b.id
WHERE len(list_intersect(a.sh, b.sh)) * {CJ_DEN} >= {CJ_NUM} * len(a.sh)
""",
)
def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT join: every ordered pair (a, b) where >= {CJ_NUM}/{CJ_DEN}
    of a's shingles also appear in b — the asymmetric complement of
    Jaccard that catches WHOLESALE INCLUSION (a document quoted or
    embedded inside a longer one), which symmetric similarity misses
    whenever the host is much longer than the quote. On the near-copy
    corpus every original is fully contained in its padded copy
    (cont = 1.0) while the copy is NOT fully contained in the original.

    The prefix-filter theorem adapts one-sidedly: only the PROBE side
    (a) is prefix-pruned (first n_a − ceil(tau·n_a) + 1 shingles in the
    global rare-first (df, gram) order — if a qualifying b missed all
    of them, a's >= ceil(tau·n_a) shared shingles would fit in the
    shorter suffix, contradiction); the INDEX side (b) must post ALL
    its shingles since containment bounds nothing about b's share.
    The oracle is the naive all-ordered-pairs theta join over the same
    corpus, so result equality proves the one-sided filter lossless.

    Scale: probe volume is prefix-bounded and rare-first (shortest
    posting lists); the index side is a full posting table — the same
    asymmetry every search engine lives with. Verify touches
    candidates only; exact integer cross-multiplied threshold."""
    docs = (
        io.load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < NEAR_LIMIT)
        .select(F.col("doc_id").alias("id"), "text")
    )
    from ..functions import text as TX

    corpus = docs.unionByName(
        docs.select(
            (F.col("id") + 100000).alias("id"),
            F.concat(F.col("text"), F.lit(" zza zzb zzc zzd")).alias("text"),
        )
    )
    sh = corpus.select("id", TX.word_shingles("text").alias("sh")).filter(
        F.size("sh") > 0
    )
    ex = sh.select("id", F.explode("sh").alias("g"))
    dfs = ex.groupBy("g").agg(F.count("*").cast("bigint").alias("df"))
    ordered = (
        ex.join(dfs, "g")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "g"))).alias("arr"))
    )
    n = F.size("arr")
    pref_len = n - F.expr(f"({CJ_NUM} * size(arr) + {CJ_DEN - 1}) div {CJ_DEN}") + 1
    probe = ordered.select(
        "id",
        F.explode(
            F.transform(F.slice("arr", F.lit(1), pref_len), lambda x: x["g"])
        ).alias("g"),
    )
    index = ordered.select(
        "id", F.explode(F.transform("arr", lambda x: x["g"])).alias("g")
    )
    pairs = (
        probe.alias("a")
        .join(
            index.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.id") != F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sets = ordered.select("id", F.transform("arr", lambda x: x["g"]).alias("s"))
    sa = sets.select(F.col("id").alias("id_a"), F.col("s").alias("s_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("_i", inter)
        .withColumn("_na", F.size("s_a"))
        .filter(F.col("_i") * CJ_DEN >= CJ_NUM * F.col("_na"))
        .select(
            "id_a",
            "id_b",
            F.expr("CAST(1000000 * _i div _na AS BIGINT)").alias("cont_ppm"),
        )
    )


# --- Fellegi-Sunter record-linkage scoring ------------------------------------

FS_MAX_KEY = 600        # bounded slice keeps the oracle's block join cheap
FS_B_OFFSET = 500000    # B-side ids = A-side id + offset (ground truth)
# integer log-odds-style agreement weights (m/u ratios pre-folded)
FS_W_CODE = {0: 24, 1: 10}   # hamming 0 / 1; >=2 scores FS_W_CODE_DIS
FS_W_CODE_DIS = -8
FS_W_BAL, FS_W_BAL_DIS = 6, -4
FS_W_SEG, FS_W_SEG_DIS = 5, -5
FS_T_MATCH, FS_T_REVIEW = 30, 10

_FS_HAM = """list_sum(list_transform(generate_series(1, 4),
      i -> CASE WHEN substr(a.code, i, 1) <> substr(b.code, i, 1)
                THEN 1 ELSE 0 END))"""


@register(
    "q_linkage_score",
    oracle=f"""
WITH base AS (
  SELECT c_custkey AS id,
         substr(c_name, length(c_name) - 3, 4) AS code,
         c_nationkey AS nation,
         c_mktsegment AS seg,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         {md5_bucket_sql('CAST(c_custkey AS VARCHAR)', salt='fs|')} AS h
  FROM customer WHERE c_custkey < {FS_MAX_KEY}
),
a AS (SELECT id, code, nation, seg, bal_band FROM base),
b AS (
  SELECT id + {FS_B_OFFSET} AS id,
         CASE WHEN h % 4 = 0
              THEN CAST(h % 10 AS VARCHAR) || substr(code, 2, 3)
              ELSE code END AS code,
         CASE WHEN h % 7 = 0 THEN (nation + 1) % 25 ELSE nation END AS nation,
         seg,
         CASE WHEN h % 5 = 0 THEN bal_band + 1 ELSE bal_band END AS bal_band
  FROM base
),
pairs AS (
  SELECT a.id AS a_id, b.id AS b_id,
         CAST({_FS_HAM} AS BIGINT) AS ham,
         a.bal_band = b.bal_band AS bal_eq,
         a.seg = b.seg AS seg_eq
  FROM a JOIN b ON a.nation = b.nation
),
scored AS (
  SELECT a_id, b_id,
         (CASE WHEN ham = 0 THEN {FS_W_CODE[0]}
               WHEN ham = 1 THEN {FS_W_CODE[1]}
               ELSE {FS_W_CODE_DIS} END
          + CASE WHEN bal_eq THEN {FS_W_BAL} ELSE {FS_W_BAL_DIS} END
          + CASE WHEN seg_eq THEN {FS_W_SEG} ELSE {FS_W_SEG_DIS} END)
           AS score,
         b_id - {FS_B_OFFSET} = a_id AS is_true
  FROM pairs
)
SELECT CASE WHEN score >= {FS_T_MATCH} THEN 'match'
            WHEN score >= {FS_T_REVIEW} THEN 'review'
            ELSE 'non-match' END AS link_class,
       is_true,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(score) AS BIGINT) AS min_score,
       CAST(max(score) AS BIGINT) AS max_score
FROM scored
GROUP BY 1, 2
""",
)
def q_linkage_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter record linkage, scored and CONFUSION-AUDITED: a
    second database B is derived from customers with deterministic
    md5-keyed corruptions (1/4 get a name-code typo, 1/7 move nation —
    which breaks blocking and becomes an honest false negative, 1/5
    drift a balance band). Candidates come from nation blocking;
    each pair scores integer agreement weights per field (the log
    m/u-ratio weights of the FS model, pre-folded to integers: code
    hamming 0/1/2+, balance band, segment) and classifies against the
    match/review thresholds. Because B's ids encode ground truth, the
    output is the per-class confusion table (link_class × is_true ×
    count + score range) — linkage quality as a measured artifact, the
    way a production MDM pipeline tunes its weights.

    Scale: one nation-blocked equi-join (never all-pairs; the
    q_fuzzy_match_names pigeonhole is the sharper blocking when no
    natural key exists), per-pair scoring is pure codegen arithmetic,
    and the report is class-bounded. All weights integer — exact on
    any partitioning."""
    c = io.load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < FS_MAX_KEY
    )
    h = md5_bucket(F.col("c_custkey").cast("string"), salt="fs|")
    base = c.select(
        F.col("c_custkey").alias("id"),
        F.expr("substr(c_name, length(c_name) - 3, 4)").alias("code"),
        F.col("c_nationkey").cast("bigint").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        h.alias("h"),
    )
    a = base.select("id", "code", "nation", "seg", "bal_band")
    b = base.select(
        (F.col("id") + FS_B_OFFSET).alias("id"),
        F.when(
            F.col("h") % 4 == 0,
            F.concat(
                (F.col("h") % 10).cast("string"), F.expr("substr(code, 2, 3)")
            ),
        )
        .otherwise(F.col("code"))
        .alias("code"),
        F.when(F.col("h") % 7 == 0, (F.col("nation") + 1) % 25)
        .otherwise(F.col("nation"))
        .alias("nation"),
        "seg",
        F.when(F.col("h") % 5 == 0, F.col("bal_band") + 1)
        .otherwise(F.col("bal_band"))
        .alias("bal_band"),
    )
    ham = F.expr(
        "aggregate(transform(sequence(1, 4),"
        " i -> CASE WHEN substr(a_code, i, 1) <> substr(b_code, i, 1)"
        " THEN 1 ELSE 0 END), 0, (acc, x) -> acc + x)"
    )
    pairs = (
        a.alias("a")
        .join(b.alias("b"), F.col("a.nation") == F.col("b.nation"))
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.col("a.code").alias("a_code"),
            F.col("b.code").alias("b_code"),
            (F.col("a.bal_band") == F.col("b.bal_band")).alias("bal_eq"),
            (F.col("a.seg") == F.col("b.seg")).alias("seg_eq"),
        )
        .withColumn("ham", ham.cast("bigint"))
    )
    score = (
        F.when(F.col("ham") == 0, F.lit(FS_W_CODE[0]))
        .when(F.col("ham") == 1, F.lit(FS_W_CODE[1]))
        .otherwise(F.lit(FS_W_CODE_DIS))
        + F.when(F.col("bal_eq"), F.lit(FS_W_BAL)).otherwise(F.lit(FS_W_BAL_DIS))
        + F.when(F.col("seg_eq"), F.lit(FS_W_SEG)).otherwise(F.lit(FS_W_SEG_DIS))
    )
    scored = pairs.select(
        "a_id",
        "b_id",
        score.alias("score"),
        (F.col("b_id") - FS_B_OFFSET == F.col("a_id")).alias("is_true"),
    )
    return scored.groupBy(
        F.when(F.col("score") >= FS_T_MATCH, "match")
        .when(F.col("score") >= FS_T_REVIEW, "review")
        .otherwise("non-match")
        .alias("link_class"),
        "is_true",
    ).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.min("score").cast("bigint").alias("min_score"),
        F.max("score").cast("bigint").alias("max_score"),
    )
