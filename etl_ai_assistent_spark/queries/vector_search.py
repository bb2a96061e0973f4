"""Vector similarity-search queries (SURVEY.md §2.5 Q1-Q3 + extensions).

The flagship is q_topk_cosine — the reference's retrieval query
(scripts/test.out.py:14-19: embed question -> top-5 cosine >= 0.5),
re-expressed as a single declarative plan: the "question embedding" is the
stored embedding of vec_id=0 (deterministic, no network — SURVEY.md §7
hard-part 5), joined in-plan (no collect) and scored with pure built-in
array expressions. `ORDER BY score LIMIT k` compiles to
TakeOrderedAndProject: per-partition top-k heaps, merge of k-row heads —
no global sort, 100 TB-safe.

DuckDB oracle parity: both engines widen FLOAT->DOUBLE (exact), multiply
elementwise, and fold left-to-right, so scores are bit-identical before
the final round().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io
from .. import store as ST
from ..functions import bind, md5_bucket_sql
from ..functions import vector as V
from ..operators import similarity
from ..registry import register
from ..substrates import cached_substrates, per_call

QUERY_VEC_ID = 0
TOP_K = 5
THRESHOLD = 0.5  # reference test.out.py:18


def _query_row(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("__qvec")
    )


@register(
    "q_topk_cosine",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
  SELECT e.vec_id, e.label,
         round({V.cosine_duckdb('e.embedding', 'q.qv')}, 6) AS score
  FROM embeddings e CROSS JOIN q
)
SELECT vec_id, label, score
FROM scored
WHERE score >= {THRESHOLD}
ORDER BY score DESC, vec_id
LIMIT {TOP_K}
""",
)
def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1+Q2+Q3: top-5 cosine retrieval with a 0.5 score threshold."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    q = _query_row(emb)
    scored = emb.crossJoin(F.broadcast(q)).select(
        "vec_id",
        "label",
        F.round(V.cosine("embedding", "__qvec"), 6).alias("score"),
    )
    return (
        scored.filter(F.col("score") >= THRESHOLD)
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(TOP_K)
    )


N_QUERIES = 20
KNN_K = 3


_KNN_ORACLE = f"""
WITH queries AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {N_QUERIES}
),
pairs AS (
  SELECT q.query_id, e.vec_id AS item_id,
         round({V.cosine_duckdb('e.embedding', 'q.qv')}, 6) AS score
  FROM embeddings e CROSS JOIN queries q
  WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, item_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, item_id) AS rank
  FROM pairs
)
SELECT query_id, item_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {KNN_K}
"""


@register("q_knn_join", oracle=_KNN_ORACLE)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force kNN join: top-3 neighbors for each of the first
    20 vectors. The query side is broadcast; scoring is map-side."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    out = similarity.knn_join(emb, queries, k=KNN_K)
    return out.withColumn("rank", F.col("rank").cast("int"))


@register(
    "q_ivf_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
pos AS (
  SELECT e.label, i AS pos, CAST(e.embedding[i] AS DOUBLE) AS x
  FROM embeddings e, unnest(generate_series(1, len(e.embedding))) AS t(i)
),
cent AS (
  SELECT label, list(cx ORDER BY pos) AS centroid
  FROM (SELECT label, pos, round(avg(x), 9) AS cx FROM pos GROUP BY label, pos)
  GROUP BY label
),
best AS (
  SELECT c.label
  FROM cent c CROSS JOIN q
  ORDER BY {V.cosine_duckdb('c.centroid', 'q.qv')} DESC, c.label
  LIMIT 1
),
scored AS (
  SELECT e.vec_id, e.label,
         round({V.cosine_duckdb('e.embedding', 'q.qv')}, 6) AS score
  FROM embeddings e
  JOIN best b ON e.label = b.label
  CROSS JOIN q
)
SELECT vec_id, label, score
FROM scored
ORDER BY score DESC, vec_id
LIMIT {TOP_K}
""",
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: probe the nearest centroid's cluster only.

    At scale the embeddings table is partitioned by cluster id, so the
    semi-join prunes partitions instead of scanning the corpus.
    """
    import os as _os

    import duckdb as _duckdb

    emb = io.load_table(spark, sf_dir, "embeddings")
    # r13: the probe vector reads driver-side with DuckDB (footer-
    # indexed 1-row read — the clustering._probe_vector pattern) instead
    # of a .first() Spark job per call; parquet float32 values are
    # identical either way. The per-label centroid table is the IVF
    # coarse index — an index build routed through the bounded per-sf
    # substrate cache (serves many calls; cold run pays it once).
    [(q_raw,)] = _duckdb.sql(
        "SELECT embedding FROM read_parquet(?) WHERE vec_id = ?",
        params=[_os.path.join(sf_dir, "embeddings.parquet"), QUERY_VEC_ID],
    ).fetchall()
    q_vec = [float(x) for x in q_raw]

    cents = cached_substrates(
        "ivf_cents", spark, sf_dir, lambda: similarity.centroids(emb)
    )
    return similarity.ivf_topk(
        emb, q_vec, k=TOP_K, nprobe=1, threshold=-1.0, cents=cents
    )


@register(
    "q_pad_truncate",
    oracle="""
WITH sliced AS (
  SELECT vec_id, embedding[1:32] AS short_vec FROM embeddings WHERE vec_id < 50
),
padded AS (
  SELECT vec_id,
         list_concat(short_vec,
                     list_transform(generate_series(1, 64 - len(short_vec)),
                                    i -> CAST(0.0 AS FLOAT))) AS vec64
  FROM sliced
)
SELECT vec_id, CAST(len(vec64) AS INT) AS dim,
       round(list_reduce(list_transform(generate_series(1, len(vec64)),
             i -> CAST(vec64[i] AS DOUBLE)), (x, y) -> x + y), 6) AS checksum
FROM padded
""",
)
def q_pad_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 (embedder_service.py:6-9): pad with 0.0 / truncate to dim.

    Derives 32-dim variants by slicing, pads back to 64, and emits a
    deterministic checksum so the oracle verifies the padded values."""
    emb = io.load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    short = emb.select("vec_id", F.slice("embedding", 1, 32).alias("short_vec"))
    padded = short.select("vec_id", V.pad_truncate("short_vec", 64).alias("vec64"))
    return padded.select(
        "vec_id",
        F.size("vec64").alias("dim"),
        F.round(
            F.aggregate(V.as_double("vec64"), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("checksum"),
    )


# --- SRP-LSH approximate top-k -------------------------------------------

def _srp_signs_sql() -> str:
    from ..operators.similarity import srp_signs

    rows = ", ".join(
        f"({j}, [{', '.join(str(s) for s in sv)}])"
        for j, sv in enumerate(srp_signs())
    )
    return f"signs AS (SELECT * FROM (VALUES {rows}) AS t(j, sv))"


SRP_K = 3


_SRP_ORACLE = f"""
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
query_bands AS (
  SELECT * FROM item_bands WHERE id < {N_QUERIES}
),
cands AS (
  SELECT DISTINCT q.id AS query_id, i.id AS item_id
  FROM query_bands q
  JOIN item_bands i USING (band_idx, band_val)
  WHERE q.id <> i.id
),
scored AS (
  SELECT c.query_id, c.item_id,
         round({V.cosine_duckdb('ie.embedding', 'qe.embedding')}, 6) AS score
  FROM cands c
  JOIN embeddings ie ON ie.vec_id = c.item_id
  JOIN embeddings qe ON qe.vec_id = c.query_id
),
ranked AS (
  SELECT query_id, item_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, item_id) AS rank
  FROM scored
)
SELECT query_id, item_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {SRP_K}
"""


@register("q_srp_topk", oracle=_SRP_ORACLE)
def q_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate kNN (signed random projections): 16-bit
    signatures from deterministic md5-parity hyperplanes, banded 4×4;
    candidates come from the band equi-join (the cross product never
    materializes), exact cosine verifies, window keeps top-3 per query.
    The approximate twin of q_knn_join — same output shape, banding
    curve governs recall. At 100 TB: signatures are one narrow pass,
    the candidate join shuffles only (band, id) pairs."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    # r13: the corpus signing pass (Arrow-batched hyperplane product +
    # banding) is an INDEX BUILD — route it through the bounded per-sf
    # substrate cache so repeated serves pay only the candidate join +
    # verify; the probe side reuses the same table filtered to the
    # probe ids (signing is per-row deterministic, so the filtered
    # cache is value-identical to signing the probes directly)
    ib = cached_substrates(
        "srp_bands", spark, sf_dir, lambda: similarity.srp_bands(emb)
    )
    qb = ib.filter(F.col("id") < N_QUERIES)
    return similarity.srp_topk(
        emb, queries, k=SRP_K, item_bands=ib, query_bands=qb
    )


@register("q_ann_topk", oracle=_KNN_ORACLE)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-vs-approximate strategy chooser (similarity.ann_topk):
    below exact_max_rows it must route to the brute-force knn_join —
    which is what this corpus exercises, so the oracle is exactly
    q_knn_join's. The SRP branch is separately verified by q_srp_topk;
    the routing itself (the count() probe and the identical output
    contract on both branches) is what this query puts under the
    driver's gate."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return similarity.ann_topk(emb, queries, k=KNN_K)


@register(
    "q_label_centroids",
    oracle="""
SELECT e.label, CAST(i AS INT) AS pos,
       round(avg(CAST(e.embedding[i] AS DOUBLE)), 9) AS cx
FROM embeddings e, unnest(generate_series(1, len(e.embedding))) AS t(i)
GROUP BY e.label, i
""",
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector pooling: per-label mean embedding (the centroid table IVF
    probes, and the doc-from-chunks pooling shape). Implemented the
    scale-safe way — posexplode to (label, pos, x) rows, hash-agg mean
    per (label, pos) — so a 100 TB corpus pools with one shuffle of
    scalar triples, never holding whole vectors in aggregation state.
    The registered result stays in that exploded scalar form (label,
    pos, cx) — every centroid component is value-checked, and the output
    carries no raw ARRAY column (the driver's canonicalizer can't sort
    lists). operators/similarity.centroids re-assembles the vector for
    in-engine consumers. avg is rounded to 9 dp on both engines
    (order-insensitive parity)."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "x")
    ).select("label", (F.col("pos0") + 1).cast("int").alias("pos"), F.col("x").cast("double"))
    return exploded.groupBy("label", "pos").agg(
        F.round(F.avg("x"), 9).alias("cx")
    )


# --- the batch line-vectorizer pipeline (reference vectorize_out.py) -----

_EMB_TOKS = """
CASE WHEN trim(lower(line)) = '' THEN CAST([] AS VARCHAR[])
     ELSE string_split_regex(lower(trim(line)), '\\s+') END
"""


def _lines_fixture(spark: SparkSession, sf_dir: str) -> str:
    """One text line per document (newlines stripped) — the S4 source
    fixture for the vectorizer pipeline. Written DISTRIBUTED
    (df.write.text; spark.read.text consumes the part-file directory)
    so no unbounded `.collect()` reaches the driver at larger sf_dirs;
    line order across part files is irrelevant — every consumer
    deduplicates/aggregates order-insensitively (and so does the
    oracle's DISTINCT)."""
    path = ST.corpus_path("spark_graft_lines_v1", sf_dir, "documents")

    def build(tmp: str) -> None:
        io.load_table(spark, sf_dir, "documents").select(
            F.trim(F.regexp_replace("text", "\n", " ")).alias("value")
        ).write.text(tmp)

    ST.publish(path, build, validate=ST.has_success)
    return path


@register(
    "q_vectorize_lines",
    oracle=f"""
WITH lines AS (
  SELECT DISTINCT trim(text) AS line FROM documents WHERE trim(text) <> ''
),
tok AS (SELECT line, {_EMB_TOKS} AS t FROM lines),
tf AS (
  SELECT line, t,
         list_transform(generate_series(0, 63),
           g -> CAST(len(list_filter(
                  list_transform(t, x -> {md5_bucket_sql('x')} % 64),
                  b -> b = g)) AS DOUBLE)) AS tf
  FROM tok
),
normed AS (
  SELECT line, t, tf,
         sqrt(list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
                list_transform(tf, x -> x * x)), (a, v) -> a + v)) AS nrm
  FROM tf
)
SELECT md5(line) AS point_id,
       'hash-64' AS model,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(i AS INT) AS pos,
       CASE WHEN nrm > 0 THEN tf[i] / nrm ELSE tf[i] END AS val
FROM normed, unnest(generate_series(1, 64)) AS u(i)
""",
)
def q_vectorize_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's batch line-vectorizer CLI (vectorize_out.py:41-99)
    as one declarative pipeline: S4 text-lines source → P3 non-empty
    filter → G4 hash embedding → P14 deterministic ids → the K5 record
    shape {id, model, n_tokens, embedding}. The registered result
    posexplodes the vector to (point_id, pos, val) scalar rows — every
    component is value-checked BIT-exactly vs the oracle (identical
    double fold order, no rounding anywhere; the strongest parity
    statement in the suite) without putting a raw ARRAY column through
    the driver's canonicalizer. Every stage is a narrow map; embedding
    N lines never shuffles."""
    from ..functions import text as TX
    from ..operators.embedder import hash_embed_expr

    path = _lines_fixture(spark, sf_dir)
    lines = io.read_text_lines(spark, path).filter(F.col("line") != "").distinct()
    recs = lines.select(
        F.md5("line").alias("point_id"),
        F.lit("hash-64").alias("model"),
        TX.token_count("line").cast("bigint").alias("n_tokens"),
        hash_embed_expr("line", 64).alias("embedding"),
    )
    return recs.select(
        "point_id",
        "model",
        "n_tokens",
        F.posexplode("embedding").alias("pos0", "val"),
    ).select(
        "point_id",
        "model",
        "n_tokens",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        "val",
    )


@register(
    "q_int8_quantize",
    oracle="""
WITH e AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
  FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_aggregate(v, 'min') AS mn,
         list_aggregate(v, 'max') AS mx
  FROM e
),
q AS (
  SELECT vec_id, v, mn, mx,
         list_transform(v, x ->
           CAST(floor((x - mn) * 255.0 / (mx - mn) + 0.5) AS INT)) AS codes
  FROM s
)
SELECT vec_id,
       CAST(len(v) AS INT) AS n_dims,
       round(mn, 6) AS qmin,
       round(mx, 6) AS qmax,
       CAST(list_reduce(list_transform(generate_series(1, len(codes)),
              i -> CAST(codes[i] AS BIGINT) * i), (a, b) -> a + b) AS BIGINT)
         AS code_cksum,
       round(list_reduce(list_transform(generate_series(1, len(v)),
              i -> abs(v[i] - (mn + codes[i] * ((mx - mn) / 255.0)))),
              (a, b) -> greatest(a, b)), 6) AS max_abs_err
FROM q
""",
)
def q_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding store (the vector-DB
    compression staple: 4x smaller than float32, cheap SIMD distance):
    per-vector [min, max] affine-mapped to codes 0..255, plus the
    reconstruction-error audit a quantized index ships with. Narrow
    per-row map — no shuffle at all; at 100 TB this runs as a pure
    scan-transform-write alongside the parquet rewrite. Quantization and
    error fold are the same left-to-right double expressions on both
    engines (position-weighted integer code checksum pins every code
    exactly; max-of-abs is order-insensitive), so parity is bit-level."""
    from ..functions import vector as VX

    emb = io.load_table(spark, sf_dir, "embeddings")
    v = VX.as_double("embedding")
    mn = F.array_min(v)
    mx = F.array_max(v)
    # bound once (functions.bind): captured in the lambda, the min and
    # max would be recomputed per element, O(dim²) per row
    codes = bind(
        F.struct(v.alias("v"), mn.alias("lo"), mx.alias("hi")),
        lambda b: F.transform(
            b["v"],
            lambda x: F.floor(
                (x - b["lo"]) * F.lit(255.0) / (b["hi"] - b["lo"]) + F.lit(0.5)
            ).cast("int"),
        ),
    )
    base = emb.select(
        "vec_id",
        v.alias("v"),
        mn.alias("mn"),
        mx.alias("mx"),
        codes.alias("codes"),
    )
    idx = F.sequence(F.lit(1), F.size("codes"))
    return base.select(
        "vec_id",
        F.size("v").cast("int").alias("n_dims"),
        F.round("mn", 6).alias("qmin"),
        F.round("mx", 6).alias("qmax"),
        F.aggregate(
            F.zip_with(
                F.col("codes").cast("array<bigint>"),
                idx.cast("array<bigint>"),
                lambda c, i: c * i,
            ),
            F.lit(0).cast("bigint"),
            lambda a, b: a + b,
        ).alias("code_cksum"),
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("v"),
                    F.col("codes"),
                    lambda x, q: F.abs(
                        x - (F.col("mn") + q * ((F.col("mx") - F.col("mn")) / F.lit(255.0)))
                    ),
                ),
                F.lit(0.0),
                lambda a, e: F.greatest(a, e),
            ),
            6,
        ).alias("max_abs_err"),
    )


@register(
    "q_ann_recall",
    oracle=f"""
WITH exact_k AS (SELECT query_id, item_id FROM ({_KNN_ORACLE.strip()})),
srp_k AS (SELECT query_id, item_id FROM ({_SRP_ORACLE.strip()})),
hits AS (
  SELECT e.query_id, CAST(count(s.item_id) AS BIGINT) AS n_hits
  FROM exact_k e LEFT JOIN srp_k s
    ON e.query_id = s.query_id AND e.item_id = s.item_id
  GROUP BY 1
)
SELECT query_id, n_hits,
       CAST((1000000 * n_hits) // {KNN_K} AS BIGINT) AS recall_ppm
FROM hits
""",
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of the SRP-LSH index against exact brute-force
    kNN — the evaluation loop every production ANN deployment runs
    before trusting an approximate index. Per query: how many of the
    exact top-{KNN_K} the LSH candidates recovered, as an exact integer
    ppm (no floats anywhere). Both sides are the engine's own verified
    operators; at 100 TB this runs on a sampled query set while the
    banding parameters are tuned."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = similarity.knn_join(emb, queries, k=KNN_K).select("query_id", "item_id")
    srp = (
        similarity.srp_topk(emb, queries, k=SRP_K)
        .select("query_id", "item_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(srp, ["query_id", "item_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").cast("bigint").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            F.expr(f"(1000000 * n_hits) div {KNN_K}").cast("bigint").alias("recall_ppm"),
        )
    )


# --- array higher-order function breadth -----------------------------------


@register(
    "q_array_functions",
    oracle=f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) + 1000) AS qv
  FROM embeddings
)
SELECT vec_id,
       CAST(len(qv) AS INT) AS n_dims,
       CAST(len(list_filter(qv, x -> x > 1000)) AS INT) AS n_pos,
       CAST(list_sum(qv) AS BIGINT) AS sum_q,
       CAST(list_sum(list_reverse(list_sort(qv))[1:3]) AS BIGINT) AS top3_sum,
       CAST(len(list_distinct(qv)) AS INT) AS n_distinct,
       CAST(list_sum(list_transform(generate_series(1, len(qv) - 1),
              i -> abs(qv[i + 1] - qv[i]))) AS BIGINT) AS total_variation
FROM q
""",
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function breadth in one pass — the collection
    algebra a nested-data engine must own: transform (lattice
    quantization), filter + size (positive-coordinate count), aggregate
    (exact integer sum), sort_array + slice (top-3 coordinate mass),
    array_distinct (support size), and a zip_with-style adjacent
    difference (total variation via shifted self-slice). All integer
    after quantization, so every engine agrees bit-for-bit; all codegen
    (one narrow map, no explode, no shuffle)."""
    qv = F.transform(
        F.col("embedding"),
        lambda x: (F.floor(x.cast("double") * 1000) + F.lit(1000)).cast("bigint"),
    )
    emb = io.load_table(spark, sf_dir, "embeddings").select("vec_id", qv.alias("qv"))
    isum = lambda arr: F.aggregate(  # noqa: E731 — exact bigint fold
        arr, F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    return emb.select(
        "vec_id",
        F.size("qv").alias("n_dims"),
        F.size(F.filter("qv", lambda x: x > 1000)).alias("n_pos"),
        isum(F.col("qv")).cast("bigint").alias("sum_q"),
        isum(F.slice(F.sort_array("qv", asc=False), 1, 3))
        .cast("bigint")
        .alias("top3_sum"),
        F.size(F.array_distinct("qv")).alias("n_distinct"),
        isum(
            F.zip_with(
                F.slice("qv", 2, F.size("qv") - 1),
                F.slice("qv", 1, F.size("qv") - 1),
                lambda a, b: F.abs(a - b),
            )
        )
        .cast("bigint")
        .alias("total_variation"),
    )


# --- MMR diversity re-ranking (greedy, unrolled) -----------------------------

MMR_PROBES = 3
MMR_CAND = 12
MMR_K = 4
_PPM_COS = "CAST(round(1000000 * ({c})) AS BIGINT)"


def _mmr_round_cte(r: int) -> str:
    """Selection round r >= 2: anti-join survivors, max-sim to the
    selected set, argmax of (rel − maxsim) with item tie-break."""
    prev = f"selall{r - 1}"
    return f"""
sel{r} AS (
  SELECT probe_id, item_id, rel_ppm, maxsim_ppm, CAST({r} AS BIGINT) AS pos, vec
  FROM (
    SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY rel_ppm - maxsim_ppm DESC, item_id) AS rn
    FROM (
      SELECT c.probe_id AS probe_id, c.item_id AS item_id,
             c.rel_ppm AS rel_ppm, c.vec AS vec,
             max({_PPM_COS.format(c=V.cosine_duckdb('c.vec', 's.vec'))}) AS maxsim_ppm
      FROM cand c JOIN {prev} s ON c.probe_id = s.probe_id
      WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                        WHERE x.probe_id = c.probe_id
                          AND x.item_id = c.item_id)
      GROUP BY c.probe_id, c.item_id, c.rel_ppm, c.vec
    )
  ) WHERE rn = 1
),
selall{r} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM sel{r})"""


_MMR_ORACLE = (
    f"""
WITH probes AS (
  SELECT vec_id AS probe_id, embedding AS pv FROM embeddings
  WHERE vec_id < {MMR_PROBES}
),
cand AS (
  SELECT probe_id, item_id, rel_ppm, vec FROM (
    SELECT p.probe_id, e.vec_id AS item_id, e.embedding AS vec,
           {_PPM_COS.format(c=V.cosine_duckdb('e.embedding', 'p.pv'))} AS rel_ppm,
           row_number() OVER (PARTITION BY p.probe_id
             ORDER BY {_PPM_COS.format(c=V.cosine_duckdb('e.embedding', 'p.pv'))} DESC,
                      e.vec_id) AS rn
    FROM embeddings e CROSS JOIN probes p
    WHERE e.vec_id <> p.probe_id
  ) WHERE rn <= {MMR_CAND}
),
sel1 AS (
  SELECT probe_id, item_id, rel_ppm, CAST(0 AS BIGINT) AS maxsim_ppm,
         CAST(1 AS BIGINT) AS pos, vec
  FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY rel_ppm DESC, item_id) AS rn FROM cand)
  WHERE rn = 1
),
selall1 AS (SELECT * FROM sel1),"""
    + ",".join(_mmr_round_cte(r) for r in range(2, MMR_K + 1))
    + f"""
SELECT probe_id, pos, item_id, rel_ppm, maxsim_ppm FROM selall{MMR_K}
"""
)


@register("q_mmr_rerank", oracle=_MMR_ORACLE)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diversity re-ranking (Carbonell &
    Goldstein 1998), λ = 1/2: from each probe's top-{MMR_CAND} cosine
    candidates, greedily select {MMR_K} items maximizing
    rel − max-sim-to-already-selected — the result-diversification
    pass between retrieval and generation that keeps a RAG context
    window from spending all its slots on near-duplicates of hit #1.
    Relevance and similarity live as integer ppm (one shared
    round(1e6·cos) on both engines), so every argmax is exact; ties
    break on item_id. pos is selection order; maxsim_ppm is the
    redundancy penalty the winner paid (0 for the first pick).

    Scale: candidates per probe are bounded ({MMR_CAND}) BEFORE the
    greedy loop, so each unrolled round is an anti-join + a
    (probe-bounded × selected-bounded) similarity join + one argmax —
    probes × {MMR_CAND} × round rows, never corpus-sized. The
    selected set is cached per round for the call (substrates.per_call;
    it feeds the anti-join AND the sim join). The candidate fetch itself is the q_knn_join plan
    (broadcast probes, TakeOrdered per probe)."""
    emb = io.load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    probes = emb.filter(F.col("vec_id") < MMR_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pv")
    )
    ppm = (
        F.round(V.cosine("vec", "pv") * 1000000).cast("bigint")
    )
    w_rel = Window.partitionBy("probe_id").orderBy(
        F.desc("rel_ppm"), F.asc("item_id")
    )
    cand = per_call(  # feeds every greedy round
        emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("vec"))
        .crossJoin(F.broadcast(probes))
        .filter(F.col("item_id") != F.col("probe_id"))
        .select("probe_id", "item_id", "vec", ppm.alias("rel_ppm"))
        .withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") <= MMR_CAND)
        .drop("rn")
    )
    sel = per_call(
        cand.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") == 1)
        .select(
            "probe_id",
            "item_id",
            "rel_ppm",
            F.lit(0).cast("bigint").alias("maxsim_ppm"),
            F.lit(1).cast("bigint").alias("pos"),
            "vec",
        )
    )
    simppm = (
        F.round(V.cosine("vec", "svec") * 1000000).cast("bigint")
    )
    for r in range(2, MMR_K + 1):
        rem = cand.join(
            sel.select("probe_id", "item_id"), ["probe_id", "item_id"], "left_anti"
        )
        ms = (
            rem.join(
                sel.select("probe_id", F.col("vec").alias("svec")), "probe_id"
            )
            .groupBy("probe_id", "item_id", "rel_ppm", "vec")
            .agg(F.max(simppm).alias("maxsim_ppm"))
        )
        w_mmr = Window.partitionBy("probe_id").orderBy(
            F.desc(F.col("rel_ppm") - F.col("maxsim_ppm")), F.asc("item_id")
        )
        pick = (
            ms.withColumn("rn", F.row_number().over(w_mmr))
            .filter(F.col("rn") == 1)
            .select(
                "probe_id",
                "item_id",
                "rel_ppm",
                "maxsim_ppm",
                F.lit(r).cast("bigint").alias("pos"),
                "vec",
            )
        )
        sel = per_call(sel.unionByName(pick))
    return sel.select("probe_id", "pos", "item_id", "rel_ppm", "maxsim_ppm")


# --- IVF nprobe sweep: the recall/cost curve ---------------------------------

NPROBE_SWEEP = (1, 2, 3)
_CENT_CTES = f"""
pos AS (
  SELECT e.label, i AS pos, CAST(e.embedding[i] AS DOUBLE) AS x
  FROM embeddings e, unnest(generate_series(1, len(e.embedding))) AS t(i)
),
cent AS (
  SELECT label, list(cx ORDER BY pos) AS centroid
  FROM (SELECT label, pos, round(avg(x), 9) AS cx FROM pos GROUP BY label, pos)
  GROUP BY label
)"""


def _sweep_cte(np_: int) -> str:
    return f"""
topk{np_} AS (
  SELECT probe_id, item_id FROM (
    SELECT p.probe_id, e.vec_id AS item_id,
           row_number() OVER (PARTITION BY p.probe_id
             ORDER BY round({V.cosine_duckdb('e.embedding', 'p.pv')}, 6) DESC,
                      e.vec_id) AS rk
    FROM embeddings e
    JOIN (SELECT probe_id, label FROM crank WHERE rk <= {np_}) pl
      ON e.label = pl.label
    JOIN probes p ON p.probe_id = pl.probe_id
    WHERE e.vec_id <> p.probe_id
  ) WHERE rk <= {KNN_K}
),
row{np_} AS (
  SELECT CAST({np_} AS BIGINT) AS nprobe,
         CAST(count(*) AS BIGINT) AS n_hits
  FROM topk{np_} t
  JOIN exact_k x ON t.probe_id = x.query_id AND t.item_id = x.item_id
)"""


_SWEEP_ORACLE = (
    f"""
WITH probes AS (
  SELECT vec_id AS probe_id, embedding AS pv FROM embeddings
  WHERE vec_id < {N_QUERIES}
),
{_CENT_CTES.strip()},
crank AS (
  SELECT p.probe_id, c.label,
         row_number() OVER (PARTITION BY p.probe_id
           ORDER BY round({V.cosine_duckdb('c.centroid', 'p.pv')}, 6) DESC,
                    c.label) AS rk
  FROM cent c CROSS JOIN probes p
),
exact_k AS (SELECT query_id, item_id FROM ({_KNN_ORACLE.strip()})),
nx AS (SELECT CAST(count(*) AS BIGINT) AS n_expected FROM exact_k),"""
    + ",".join(_sweep_cte(np_) for np_ in NPROBE_SWEEP)
    + "\nSELECT r.nprobe, r.n_hits, nx.n_expected,\n"
    + "       CAST(1000000 * r.n_hits // nx.n_expected AS BIGINT) AS recall_ppm\n"
    + "FROM (\n"
    + "\nUNION ALL\n".join(f"SELECT * FROM row{np_}" for np_ in NPROBE_SWEEP)
    + "\n) r, nx"
)


@register("q_ivf_nprobe_sweep", oracle=_SWEEP_ORACLE)
def q_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF recall/cost CURVE, measured in one dataflow: for nprobe
    in {NPROBE_SWEEP}, recall@{KNN_K} of probe-the-nearest-nprobe-
    clusters against exact kNN over {N_QUERIES} probes — the tuning
    table every IVF deployment derives before fixing its operating
    point (q_ivf_topk serves one point; q_ann_recall audits SRP; this
    sweeps the knob). Scan cost grows ~linearly in nprobe while recall
    saturates; emitting the curve makes that trade recorded evidence.

    One shared centroid table and one shared probe×centroid RANKING
    feed all sweep points (persisted — computed once); each point is a
    cluster-pruned semi-join + per-probe window top-k + a hit count
    against the shared exact baseline. At 100 TB the cluster join is
    partition pruning (items are written cluster-partitioned), so the
    sweep's cost model is literally 'read nprobe/nlist of the store
    per point'. Scores ranked on round-6 cosine with item tie-breaks —
    identical in both engines."""
    emb = io.load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    probes = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pv")
    )
    # r13: the centroid table is the shared IVF coarse index — same
    # cached substrate q_ivf_topk serves from
    cents = cached_substrates(
        "ivf_cents", spark, sf_dir, lambda: similarity.centroids(emb)
    )

    def _build():
        # the probe×centroid ranking, the exact baseline and the
        # max-nprobe candidate set feed every sweep point; all three are
        # pure functions of the corpus, so they are cached with it
        w_c = Window.partitionBy("probe_id").orderBy(
            F.desc("cscore"), F.asc("label")
        )
        crank = (
            cents.crossJoin(F.broadcast(probes))
            .select(
                "probe_id",
                "label",
                F.round(V.cosine("centroid", "pv"), 6).alias("cscore"),
            )
            .withColumn("rk", F.row_number().over(w_c))
            .select("probe_id", "label", "rk")
        )
        exact = similarity.knn_join(
            emb,
            probes.select(
                F.col("probe_id").alias("vec_id"), F.col("pv").alias("embedding")
            ),
            k=KNN_K,
        ).select("query_id", "item_id")
        # r14 (guide §2.4/§1.2): the per-point candidate sets NEST —
        # point np's candidates are exactly the rows of the max-nprobe
        # set whose cluster rank ≤ np (crk is unique per (probe, label),
        # so carrying it through the join preserves the per-point
        # membership test). Score the max-nprobe set ONCE and filter per
        # point: the r13 form re-joined and re-scored the corpus per
        # sweep point (3 corpus-side joins + 3 cosine passes); this
        # computes one. Per-point top-k windows are unchanged, so ranks,
        # hits, and recall are identical.
        pl_all = crank.filter(F.col("rk") <= max(NPROBE_SWEEP)).select(
            "probe_id", "label", F.col("rk").alias("crk")
        )
        cand_all = (
            emb.join(pl_all, "label")
            .join(F.broadcast(probes), "probe_id")
            .filter(F.col("vec_id") != F.col("probe_id"))
            .select(
                "probe_id",
                F.col("vec_id").alias("item_id"),
                F.round(V.cosine("embedding", "pv"), 6).alias("score"),
                "crk",
            )
        )
        return crank, exact, cand_all

    _, exact, cand_all = cached_substrates("ivf_sweep", spark, sf_dir, _build)
    nx = exact.agg(F.count("*").cast("bigint").alias("n_expected"))
    w_r = Window.partitionBy("probe_id").orderBy(
        F.desc("score"), F.asc("item_id")
    )
    rows = []
    for np_ in NPROBE_SWEEP:
        cand = cand_all.filter(F.col("crk") <= np_)
        topk = (
            cand.withColumn("rk", F.row_number().over(w_r))
            .filter(F.col("rk") <= KNN_K)
            .select("probe_id", "item_id")
        )
        hits = topk.join(
            exact,
            (topk.probe_id == exact.query_id) & (topk.item_id == exact.item_id),
            "left_semi",
        ).agg(F.count("*").cast("bigint").alias("n_hits"))
        rows.append(hits.select(F.lit(np_).cast("bigint").alias("nprobe"), "n_hits"))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.crossJoin(F.broadcast(nx)).select(
        "nprobe",
        "n_hits",
        "n_expected",
        F.expr("CAST(1000000 * n_hits div n_expected AS BIGINT)").alias(
            "recall_ppm"
        ),
    )
