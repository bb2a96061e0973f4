"""Text-ETL queries — reference-parity operator coverage (SURVEY.md §2.3
P4-P14, §2.4 G1-G5, §2.6 set-ops/version-diff).

The driver testdata has no doc_blocks fixture, so block streams are
derived deterministically from `documents` (within each `source`, rows
ordered by doc_id form the block stream) with identical derivations in
the DuckDB oracles. The operators under test are the real engine
operators (sectionizer window recipe, caption-pairing window, chunker,
hash-embedder) — only the fixture is synthetic.

Chunk queries use size=200/overlap=50 (not the reference 700/200) so the
<=553-char testdata documents actually produce multi-chunk outputs; the
operators' defaults remain the reference values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from ..functions import md5_bucket_sql
from ..functions import text as TX
from ..operators.caption_pairing import pair_captions_window
from ..operators.chunker import fixed_chunks, recursive_chunks
from ..operators.embedder import hash_embed_expr
from ..operators.sectionizer import sectionize
from ..registry import register

CHUNK_SIZE = 200
OVERLAP = 50
STRIDE = CHUNK_SIZE - OVERLAP

# shared derivation: documents -> ordered block stream per source
_BLOCKS_SQL = """
SELECT source, doc_id, text, n_chars,
       CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INT)
         AS block_idx,
       n_chars < 150 AS is_heading,
       regexp_matches(lower(trim(text)), '^(рис|figure|рисунок|таблица|table)')
         AS is_caption
FROM documents
"""


def _blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = io.load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return docs.select(
        "source",
        "doc_id",
        "text",
        "n_chars",
        F.row_number().over(w).cast("int").alias("block_idx"),
        (F.col("n_chars") < 150).alias("is_heading"),
        F.lower(F.trim("text")).rlike(TX.CAPTION_PREFIX_RE).alias("is_caption"),
    )


# --- P4/P5/P6: predicates ---------------------------------------------------

@register(
    "q_caption_classify",
    oracle="""
SELECT doc_id,
       regexp_matches(lower(trim(text)), '^(рис|figure|рисунок|таблица|table)')
         AS is_caption,
       CASE WHEN regexp_matches(lower(trim(text)), '^(таблица|table)')
            THEN 'table' ELSE 'figure' END AS kind
FROM documents
WHERE regexp_matches(lower(trim(text)), '^(рис|figure|рисунок|таблица|table)')
""",
)
def q_caption_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 looks_like_caption + P6 caption_kind (docx_parser.py:98-111)
    applied to real document texts."""
    docs = io.load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn(
            "is_caption", TX.looks_like_caption(F.lit("Normal"), F.col("text"))
        )
        .withColumn("kind", TX.caption_kind("text"))
        .filter(F.col("is_caption"))
        .select("doc_id", "is_caption", "kind")
    )


# --- P7/P8: sanitize + unique names ------------------------------------------

@register(
    "q_sanitized_asset_names",
    oracle=r"""
WITH caps AS (
  SELECT source, doc_id,
         coalesce(nullif(substr(regexp_replace(regexp_replace(
                    trim(substr(text, 1, 40)),
                    '\s+', '_', 'g'), '[^\w\-.]', '', 'g'), 1, 128), ''),
                  'asset') AS base
  FROM documents
  WHERE regexp_matches(lower(trim(text)), '^(рис|figure|рисунок|таблица|table)')
),
ranked AS (
  SELECT source, doc_id, base,
         row_number() OVER (PARTITION BY base ORDER BY source, doc_id) AS rn
  FROM caps
)
SELECT source, doc_id,
       CASE WHEN rn = 1 THEN base
            ELSE base || '_' || CAST(rn - 1 AS VARCHAR) END AS asset_name
FROM ranked
""",
)
def q_sanitized_asset_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 sanitize_caption (docx_parser.py:114-117) + P8 unique-name
    disambiguation (docx_parser.py:120-127) as a deterministic window
    instead of the reference's stateful-sequential counter."""
    docs = io.load_table(spark, sf_dir, "documents")
    caps = docs.filter(
        F.lower(F.trim("text")).rlike(TX.CAPTION_PREFIX_RE)
    ).select(
        "source",
        "doc_id",
        TX.sanitize_caption(F.substring("text", 1, 40)).alias("base"),
    )
    w = Window.partitionBy("base").orderBy("source", "doc_id")
    ranked = caps.withColumn("rn", F.row_number().over(w))
    return ranked.select(
        "source",
        "doc_id",
        F.when(F.col("rn") == 1, F.col("base"))
        .otherwise(F.concat_ws("_", "base", (F.col("rn") - 1).cast("string")))
        .alias("asset_name"),
    )


# --- P9/P10: concat + whitespace normalization --------------------------------

@register(
    "q_title_text",
    oracle=r"""
SELECT doc_id,
       source || ': ' || regexp_replace(trim(text), '\s+', ' ', 'g')
         AS embed_input
FROM documents
WHERE doc_id < 100
""",
)
def q_title_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 'title: text' concat (qdrant_service.py:33) + P10 whitespace
    normalization (docx_parser.py:160)."""
    docs = io.load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        TX.title_text("source", TX.normalize_ws("text")).alias("embed_input"),
    )


# --- G1: sectionizer -----------------------------------------------------------

@register(
    "q_sectionize_docs",
    oracle=f"""
WITH blocks AS ({_BLOCKS_SQL}),
staged AS (
  SELECT *, CAST(sum(CASE WHEN is_heading THEN 1 ELSE 0 END)
              OVER (PARTITION BY source ORDER BY block_idx
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sec_id
  FROM blocks
)
SELECT source, sec_id,
       max(CASE WHEN is_heading THEN text END) AS title,
       string_agg(text, ' ' ORDER BY block_idx)
         FILTER (WHERE NOT is_heading AND length(trim(text)) > 0) AS body,
       CAST(sum(CASE WHEN NOT is_heading AND length(trim(text)) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_paras
FROM staged
WHERE sec_id > 0
GROUP BY source, sec_id
HAVING n_paras > 0
""",
)
def q_sectionize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 group-by-last-heading (docx_parser.py:54-86) via the
    fill-forward window recipe; short rows (<150 chars) act as headings
    in the derived block stream."""
    blocks = _blocks(spark, sf_dir)
    return sectionize(
        blocks,
        doc_col="source",
        order_col="block_idx",
        text_col="text",
        is_heading="is_heading",
    )


# --- G2: caption→asset pairing ---------------------------------------------------

@register(
    "q_caption_pairing",
    oracle=f"""
WITH blocks AS ({_BLOCKS_SQL}),
marked AS (
  SELECT *, (doc_id % 3 = 0) AND NOT is_caption AS is_asset FROM blocks
),
filled AS (
  SELECT *, last_value(CASE WHEN is_caption THEN block_idx END IGNORE NULLS)
              OVER (PARTITION BY source ORDER BY block_idx
                    ROWS UNBOUNDED PRECEDING) AS cap_idx,
            last_value(CASE WHEN is_caption THEN text END IGNORE NULLS)
              OVER (PARTITION BY source ORDER BY block_idx
                    ROWS UNBOUNDED PRECEDING) AS cap_text
  FROM marked
),
assets AS (
  SELECT source, block_idx AS asset_block_idx, cap_idx, cap_text,
         row_number() OVER (PARTITION BY source, cap_idx ORDER BY block_idx)
           AS rn
  FROM filled WHERE is_asset
)
SELECT source, asset_block_idx,
       CASE WHEN cap_idx IS NOT NULL AND rn = 1 THEN cap_idx END
         AS caption_block_idx,
       CASE WHEN cap_idx IS NOT NULL AND rn = 1 THEN cap_text END
         AS caption_text
FROM assets
""",
)
def q_caption_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 caption→asset pairing (docx_parser.py:166-197): last preceding
    caption, consumed by the first following asset only. Window twin of
    the sequential state machine (operators/caption_pairing.py has both;
    tests assert they agree)."""
    blocks = _blocks(spark, sf_dir).withColumn(
        "is_asset", (F.col("doc_id") % 3 == 0) & ~F.col("is_caption")
    )
    return pair_captions_window(blocks, doc_col="source", order_col="block_idx")


# --- G3: chunkers ------------------------------------------------------------------

@register(
    "q_chunk_fixed",
    oracle=f"""
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       substr(text, i * {STRIDE} + 1, {CHUNK_SIZE}) AS chunk_text,
       length(substr(text, i * {STRIDE} + 1, {CHUNK_SIZE})) AS chunk_len
FROM documents,
     unnest(generate_series(0, CAST(floor((length(text) - 1) / {STRIDE}) AS INT)))
       AS t(i)
WHERE length(text) > 0
""",
)
def q_chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 fixed-width variant (oracle-checkable): character windows of
    {size} with {overlap} overlap via posexplode — a pure narrow
    transform."""
    docs = io.load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(fixed_chunks("text", CHUNK_SIZE, OVERLAP)).alias(
            "chunk_idx", "chunk_text"
        ),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int"),
        "chunk_text",
        F.length("chunk_text").cast("bigint").alias("chunk_len"),
    )


# DuckDB twin of the recursive splitter's greedy merge, valid because
# the documents corpus satisfies the token-model preconditions (verified
# at all sfs: no \n/\t/\r, no repeated spaces, max token length 8 <<
# chunk_size) under which atomize() degenerates to whitespace
# tokenization and the merge loop becomes a per-doc recurrence over
# token prefix sums:
#   chunk covers tokens [t, e], e = max j with joined_len(t, j) <= size
#   next t = min u in [t, e+1] with joined_len(u, e) <= overlap
#            AND joined_len(u, e) + sep + len(tok[e+1]) <= size
# (both predicate sets are upward-closed in their variable, so the
# max/min are computable as filtered counts over generate_series).
# pytest cross-checks the full recursive algorithm against this token
# model on every doc (test_text_operators.py).
def _e_expr(t: str) -> str:
    return (
        f"{t} - 1 + len(list_filter(generate_series({t}, n), "
        f"j -> ps[CAST(j AS INT)] "
        f"- (CASE WHEN {t} > 1 THEN ps[CAST({t} AS INT) - 1] ELSE 0 END) "
        f"+ (j - {t}) <= {CHUNK_SIZE}))"
    )


_L_UE = (
    "(CASE WHEN u <= e THEN ps[CAST(e AS INT)] "
    "- (CASE WHEN u > 1 THEN ps[CAST(u AS INT) - 1] ELSE 0 END) "
    "+ (e - u) ELSE 0 END)"
)

_RECURSIVE_CHUNKS_ORACLE = f"""
WITH RECURSIVE
tokd AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
  WHERE length(trim(text)) > 0
),
tok_rows AS (
  SELECT doc_id, i, toks[CAST(i AS INT)] AS tok
  FROM tokd, unnest(generate_series(1, len(toks))) AS u(i)
),
pref AS (
  SELECT doc_id,
         list(tok ORDER BY i) AS toks,
         list(ps ORDER BY i) AS ps,
         count(*) AS n
  FROM (SELECT doc_id, i, tok,
               sum(len(tok)) OVER (PARTITION BY doc_id ORDER BY i) AS ps
        FROM tok_rows)
  GROUP BY doc_id
),
chunks AS (
  SELECT doc_id, toks, ps, n, 1 AS cidx, CAST(1 AS BIGINT) AS t,
         {_e_expr('CAST(1 AS BIGINT)')} AS e
  FROM pref
  UNION ALL
  SELECT doc_id, toks, ps, n, cidx + 1, nt AS t,
         {_e_expr('nt')} AS e
  FROM (
    SELECT doc_id, toks, ps, n, cidx, t, e,
           e + 2 - len(list_filter(generate_series(t, e + 1),
             u -> {_L_UE} <= {OVERLAP}
              AND {_L_UE} + (CASE WHEN u <= e THEN 1 ELSE 0 END)
                  + (ps[CAST(e AS INT) + 1] - ps[CAST(e AS INT)])
                  <= {CHUNK_SIZE})) AS nt
    FROM chunks
    WHERE e < n
  )
)
SELECT doc_id, CAST(cidx - 1 AS INT) AS chunk_idx,
       array_to_string(toks[CAST(t AS INT):CAST(e AS INT)], ' ') AS chunk_text,
       CAST(length(array_to_string(toks[CAST(t AS INT):CAST(e AS INT)], ' '))
            AS BIGINT) AS chunk_len
FROM chunks
"""


@register("q_chunk_recursive", oracle=_RECURSIVE_CHUNKS_ORACLE)
def q_chunk_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 faithful recursive splitter (chunk_splitter_service.py:14-23
    semantics) as a pandas UDF, value-checked chunk-for-chunk against a
    DuckDB recursive-CTE replay of the greedy merge (see
    _RECURSIVE_CHUNKS_ORACLE above) — every chunk boundary, every
    overlap-tail retention, and the length bound are oracle-verified,
    not just pytest invariants."""
    docs = io.load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(recursive_chunks("text", CHUNK_SIZE, OVERLAP)).alias(
            "chunk_idx", "chunk_text"
        ),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int"),
        "chunk_text",
        F.length("chunk_text").cast("bigint").alias("chunk_len"),
    )


# --- G4: hash embedding --------------------------------------------------------------

EMBED_DIM = 32


_EMBED_PROFILE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(lower(trim(text)), '\\s+') END AS tok
  FROM documents WHERE doc_id < 200
),
tf AS (
  SELECT doc_id,
         list_transform(generate_series(0, {EMBED_DIM - 1}),
           b -> CAST(len(list_filter(
                  list_transform(tok, t ->
                    {md5_bucket_sql('t')} % {EMBED_DIM}),
                  x -> x = b)) AS DOUBLE)) AS v
  FROM toks
),
emb AS (
  SELECT doc_id,
         CASE WHEN sqrt(list_reduce(list_transform(v, x -> x * x),
                                    (a, b) -> a + b)) > 0
              THEN list_transform(v, x -> x /
                     sqrt(list_reduce(list_transform(v, x -> x * x),
                                      (a, b) -> a + b)))
              ELSE v END AS e
  FROM tf
)
SELECT doc_id,
       CAST(len(list_filter(e, x -> x > 0)) AS INT) AS nnz,
       CAST(list_position(e, list_max(e)) AS INT) AS argmax_pos,
       round(list_reduce(list_transform(generate_series(1, {EMBED_DIM}),
             i -> e[i] * i), (a, b) -> a + b), 6) AS checksum
FROM emb
"""


def _embed_profile(emb: DataFrame) -> DataFrame:
    """(doc_id, e ARRAY<DOUBLE>) -> the canonical scalar profile
    (nnz / argmax / weighted checksum) both embed queries emit."""
    idx = F.sequence(F.lit(1), F.lit(EMBED_DIM)).cast("array<double>")
    return emb.select(
        "doc_id",
        F.size(F.filter("e", lambda x: x > 0)).cast("int").alias("nnz"),
        F.array_position("e", F.array_max("e")).cast("int").alias("argmax_pos"),
        F.round(
            F.aggregate(
                F.zip_with("e", idx, lambda x, i: x * i),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        ).alias("checksum"),
    )


@register("q_hash_embed_profile", oracle=_EMBED_PROFILE_ORACLE)
def q_hash_embed_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 deterministic feature-hash embedding (replacing the reference's
    per-chunk Ollama HTTP call, embedder_service.py:4-9) — built-in
    expressions only, so the whole embedding is oracle-checkable
    bit-exactly. Emits scalar profiles (nnz/argmax/weighted checksum)
    rather than the raw vector to keep the comparison canonical."""
    docs = io.load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return _embed_profile(
        docs.select("doc_id", hash_embed_expr("text", EMBED_DIM).alias("e"))
    )


@register("q_client_embed_profile", oracle=_EMBED_PROFILE_ORACLE)
def q_client_embed_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pluggable external-model client seam under the driver's gate:
    the same embedding profile as q_hash_embed_profile, but computed
    through operators/embedder.pluggable_embedder — batched EmbedClient
    calls inside an Arrow pandas UDF with retry/pad-truncate — using the
    deterministic local client. The client path must be bit-identical to
    the expression path (embed_text accumulates its norm in the same
    left-to-right fold order), so BOTH share one oracle. Swapping in an
    HTTP model changes only the client_factory."""
    from ..operators.embedder import HashEmbedClient, pluggable_embedder

    embed = pluggable_embedder(
        lambda: HashEmbedClient(EMBED_DIM), dim=EMBED_DIM, batch_size=128
    )
    docs = io.load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return _embed_profile(docs.select("doc_id", embed("text").alias("e")))


# --- P12/P14 + K4: vector-store point records -------------------------------------------

@register(
    "q_point_records",
    oracle=f"""
WITH chunks AS (
  SELECT doc_id, source, CAST(i AS INT) AS chunk_idx,
         substr(text, i * {STRIDE} + 1, {CHUNK_SIZE}) AS chunk_text
  FROM documents,
       unnest(generate_series(0, CAST(floor((length(text) - 1) / {STRIDE}) AS INT)))
         AS t(i)
  WHERE length(text) > 0 AND doc_id < 100
)
SELECT md5(CAST(doc_id AS VARCHAR) || '|' || CAST(chunk_idx AS VARCHAR)
           || '|' || chunk_text) AS point_id,
       chunk_text AS text,
       source AS paragraph_name,
       'doc_' || CAST(doc_id AS VARCHAR) AS document_name,
       'v1' AS document_version
FROM chunks
""",
)
def q_point_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 payload projection + P14 id generation (qdrant_service.py:
    31-39) with deterministic md5 ids instead of uuid4 (SURVEY.md §7
    hard-part 3) — idempotent re-runs upsert the same ids."""
    docs = io.load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    chunks = docs.select(
        "doc_id",
        "source",
        F.posexplode(fixed_chunks("text", CHUNK_SIZE, OVERLAP)).alias(
            "chunk_idx", "chunk_text"
        ),
    )
    return chunks.select(
        F.md5(
            F.concat_ws(
                "|",
                F.col("doc_id").cast("string"),
                F.col("chunk_idx").cast("string"),
                "chunk_text",
            )
        ).alias("point_id"),
        F.col("chunk_text").alias("text"),
        F.col("source").alias("paragraph_name"),
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias(
            "document_name"
        ),
        F.lit("v1").alias("document_version"),
    )


# --- version diff (set op over chunk hashes) ------------------------------------------------

@register(
    "q_version_diff",
    oracle=f"""
WITH v1 AS (
  SELECT doc_id, md5(substr(text, i * {STRIDE} + 1, {CHUNK_SIZE})) AS chunk_md5
  FROM documents,
       unnest(generate_series(0, CAST(floor((length(text) - 1) / {STRIDE}) AS INT)))
         AS t(i)
  WHERE length(text) > 0
),
v2 AS (
  SELECT doc_id, md5(substr(substr(text, 1, 300), i * {STRIDE} + 1, {CHUNK_SIZE}))
           AS chunk_md5
  FROM documents,
       unnest(generate_series(0,
                CAST(floor((length(substr(text, 1, 300)) - 1) / {STRIDE}) AS INT)))
         AS t(i)
  WHERE length(substr(text, 1, 300)) > 0
)
SELECT doc_id, chunk_md5 FROM v1
EXCEPT
SELECT doc_id, chunk_md5 FROM v2
""",
)
def q_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-diff via EXCEPT on chunk hashes between document_versions
    (SURVEY.md §2.6 set ops / §7 step 4): v2 simulates an edited release
    (text truncated to 300 chars); result = chunks only in v1."""
    docs = io.load_table(spark, sf_dir, "documents")

    def chunk_hashes(text_col: F.Column) -> DataFrame:
        return docs.select(
            "doc_id",
            F.explode(fixed_chunks(text_col, CHUNK_SIZE, OVERLAP)).alias("c"),
        ).select("doc_id", F.md5("c").alias("chunk_md5"))

    v1 = chunk_hashes(F.col("text"))
    v2 = chunk_hashes(F.substring("text", 1, 300))
    return v1.subtract(v2)
