"""Embedding-cluster queries (semantic clustering for corpus curation).

q_kmeans_step gates ONE full Lloyd iteration (init → assign → update →
re-assign) of the integer-lattice k-means (operators/kmeans.py) against
a DuckDB replay of the identical integer arithmetic — the verification
pattern for iterative algorithms: prove one step bit-exact, then the
loop (exercised by tests/test_kmeans.py) is induction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io
from .. import store as ST
from ..functions import vector as V
from ..operators import kmeans as KM
from ..registry import register
from ..substrates import cached_substrates, per_call

K = 8
DIM = 64

_QUANT = (
    f"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {KM.Q_SCALE})"
    f" AS BIGINT) + {KM.Q_OFFSET})"
)


@register(
    "q_kmeans_step",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
),
c0 AS (
  SELECT CAST(vec_id AS BIGINT) AS cid, qv AS cv FROM q WHERE vec_id < {K}
),
d1 AS (
  SELECT v.vec_id, {V.dist2_duckdb('v.qv', 'c.cv', DIM)} * {KM.PACK} + c.cid AS p
  FROM q v, c0 c
),
a1 AS (
  SELECT vec_id, min(p) % {KM.PACK} AS cluster FROM d1 GROUP BY vec_id
),
dims AS (
  SELECT a.cluster, u.i AS dim, q.qv[u.i] AS val
  FROM a1 a JOIN q ON q.vec_id = a.vec_id,
       unnest(generate_series(1, {DIM})) u(i)
),
c1 AS (
  SELECT cluster AS cid,
         list(CAST(s // n AS BIGINT) ORDER BY dim) AS cv
  FROM (SELECT cluster, dim, CAST(sum(val) AS BIGINT) AS s,
               count(*) AS n
        FROM dims GROUP BY 1, 2)
  GROUP BY cluster
),
d2 AS (
  SELECT v.vec_id, {V.dist2_duckdb('v.qv', 'c.cv', DIM)} * {KM.PACK} + c.cid AS p
  FROM q v, c1 c
),
a2 AS (SELECT vec_id, min(p) AS p FROM d2 GROUP BY vec_id)
SELECT vec_id,
       CAST(p % {KM.PACK} AS BIGINT) AS cluster,
       CAST(p // {KM.PACK} AS BIGINT) AS dist
FROM a2
""",
)
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration of integer-lattice k-means over the
    embeddings table: id-ordered init (vec_id < {K}), packed-bigint
    nearest-centroid assignment (distance ties break on lower centroid
    id), exact integer centroid means, re-assignment. Everything is
    64-bit integer arithmetic, so the result is identical on any
    partitioning and any engine — the property that makes distributed
    clustering verifiable. Scale: assignment is a K-row broadcast plus
    one packed-min shuffle of N rows; the update shuffle is K·dim rows
    after map-side combine."""
    emb = io.load_table(spark, sf_dir, "embeddings").select(
        "vec_id", KM.quantize("embedding").alias("qv")
    )
    c0 = emb.filter(F.col("vec_id") < K).select(
        F.col("vec_id").cast("bigint").alias("cid"), F.col("qv").alias("cv")
    )
    a1 = KM.assign(emb, c0).select("vec_id", "cluster")
    c1 = KM.update(emb, a1)
    return KM.assign(emb, c1)


# --- product quantization: train → encode → ADC top-k ----------------------

M_SUB = 4  # PQ subspaces (64-dim → 4 × 16-dim)
PQ_K = 8  # codebook entries per subspace
PQ_W = DIM // M_SUB
PQ_TOPK = 10



def _pq_sub_ctes(
    i: int, src: str = "q", p: str = "", with_query: bool = True
) -> str:
    """One subspace's full replay: slice → one Lloyd iteration (init
    from vec_id < k, assign, exact-integer update) → encode (argmin vs
    the trained codebook) → the query's ADC lookup table → per-vector
    subspace distance. Mirrors operators/pq.py + operators/kmeans.py
    arithmetic exactly (packed-bigint tie-break, floor-div means).

    ``src`` is the (vec_id, qv) CTE to train/encode over and ``p``
    prefixes every generated CTE name, so the residual-IVFPQ oracle
    can replay a SECOND codebook family over residual vectors without
    name collisions; with_query=False omits the single-query
    qs/tab/ad tail (the residual query tables are per-probed-cell,
    built by the caller)."""
    lo, hi = i * PQ_W + 1, (i + 1) * PQ_W
    base = f"""
{p}s{i} AS (SELECT vec_id, qv[{lo}:{hi}] AS qv FROM {src}),
{p}c0_{i} AS (
  SELECT CAST(vec_id AS BIGINT) AS cid, qv AS cv FROM {p}s{i}
  WHERE vec_id < {PQ_K}
),
{p}d1_{i} AS (
  SELECT v.vec_id, {V.dist2_duckdb('v.qv', 'c.cv', PQ_W, var='j')} * {KM.PACK} + c.cid AS p
  FROM {p}s{i} v, {p}c0_{i} c
),
{p}a1_{i} AS (
  SELECT vec_id, min(p) % {KM.PACK} AS cluster FROM {p}d1_{i} GROUP BY vec_id
),
{p}dims_{i} AS (
  SELECT a.cluster, u.j AS dim, s.qv[u.j] AS val
  FROM {p}a1_{i} a JOIN {p}s{i} s ON s.vec_id = a.vec_id,
       unnest(generate_series(1, {PQ_W})) u(j)
),
{p}c1_{i} AS (
  SELECT cluster AS cid, list(CAST(sm // n AS BIGINT) ORDER BY dim) AS cv
  FROM (SELECT cluster, dim, CAST(sum(val) AS BIGINT) AS sm, count(*) AS n
        FROM {p}dims_{i} GROUP BY 1, 2)
  GROUP BY cluster
),
{p}d2_{i} AS (
  SELECT v.vec_id, {V.dist2_duckdb('v.qv', 'c.cv', PQ_W, var='j')} * {KM.PACK} + c.cid AS p
  FROM {p}s{i} v, {p}c1_{i} c
),
{p}code_{i} AS (
  SELECT vec_id, min(p) % {KM.PACK} AS code FROM {p}d2_{i} GROUP BY vec_id
)"""
    if not with_query:
        return base
    return base + f""",
qs_{i} AS (SELECT qv FROM s{i} WHERE vec_id = 0),
tab_{i} AS (SELECT c.cid, {V.dist2_duckdb('v.qv', 'c.cv', PQ_W, var='j')} AS d
    FROM c1_{i} c, qs_{i} v),
ad_{i} AS (
  SELECT k.vec_id, t.d FROM code_{i} k JOIN tab_{i} t ON t.cid = k.code
)"""


@register(
    "q_pq_adc_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
),{",".join(_pq_sub_ctes(i) for i in range(M_SUB))}
SELECT a0.vec_id,
       CAST(a0.d + a1.d + a2.d + a3.d AS BIGINT) AS adc_dist
FROM ad_0 a0
JOIN ad_1 a1 USING (vec_id)
JOIN ad_2 a2 USING (vec_id)
JOIN ad_3 a3 USING (vec_id)
ORDER BY adc_dist, vec_id
LIMIT {PQ_TOPK}
""",
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization end-to-end (operators/pq.py): train
    {M_SUB}×{PQ_K}-entry codebooks with one integer-lattice Lloyd
    iteration per subspace, encode the corpus to {M_SUB}-byte codes,
    then ADC top-{PQ_TOPK} for the vec_id-0 query — approximate distance
    = Σ of per-subspace lookup-table entries, all exact bigint
    arithmetic, so the DuckDB oracle unrolls training+encoding+scoring
    as CTEs and matches bit-for-bit.

    Scale: training is M independent bounded k-means; encoding is one
    K-row broadcast per subspace over the corpus scan; scoring reads
    ONLY the codes table (M small ints/vector, a 64× compression of the
    float store) + a broadcast M·K lookup table, finishing in a
    TakeOrderedAndProject — never a shuffle of vectors.

    The trained index is cached per (Spark app, sf_dir) by _pq_index:
    the FIRST call pays the offline build (training + encoding), later
    calls time pure ADC scoring — exactly how a compressed store is
    used (build once, query many; the q_bucketed_join first-run-pays
    bench pattern)."""
    from ..operators import pq as PQ

    _, codes, tables, _ = _pq_index(spark, sf_dir)
    return PQ.adc_topk(codes, tables, k=PQ_TOPK)


def _probe_vector(sf_dir: str) -> list[int]:
    """The serving query vector (vec_id 0) as lattice coordinates, read
    driver-side straight from the parquet fixture with DuckDB — a
    footer-indexed 1-row read, NOT a Spark job, so index CONSTRUCTION
    triggers no driver-side Spark action before the terminal codebook
    collects (r6 verdict #6). Quantization replicates KM.quantize
    exactly: parquet float32 widens exactly to Python double, and
    math.floor(double * Q_SCALE) is the same IEEE op Spark and DuckDB
    compute (pinned against KM.quantize in tests/test_pq.py)."""
    import math

    import duckdb

    [(emb,)] = duckdb.sql(
        "SELECT embedding FROM read_parquet(?) WHERE vec_id = 0",
        params=[os.path.join(sf_dir, "embeddings.parquet")],
    ).fetchall()
    return [
        int(math.floor(float(x) * KM.Q_SCALE)) + KM.Q_OFFSET for x in emb
    ]


def _probe_vectors(sf_dir: str, n: int) -> list[tuple[int, list[int]]]:
    """_probe_vector generalized to the serving batch: the first `n`
    probes' lattice coordinates, read driver-side with DuckDB (footer-
    indexed, no Spark job) — the same exact quantization replication.
    Bench-sized cohorts only; an unbounded probe stream goes through
    the executor-side path (pq.probe_tables_flat)."""
    import math

    import duckdb

    rows = duckdb.sql(
        "SELECT vec_id, embedding FROM read_parquet(?)"
        " WHERE vec_id < ? ORDER BY vec_id",
        params=[os.path.join(sf_dir, "embeddings.parquet"), n],
    ).fetchall()
    return [
        (
            int(vid),
            [int(math.floor(float(x) * KM.Q_SCALE)) + KM.Q_OFFSET for x in emb],
        )
        for vid, emb in rows
    ]


# --- ANN index as an on-disk store (r9 verdict #1) --------------------------
# The trained index family — PQ codebooks, codes, IVF centroids, coarse
# assignments, residual codebooks, residual codes — is an OFFLINE BUILD
# artifact, not per-app state: a vector store (reference shape: Qdrant's
# persistent collection, scripts/services/qdrant_service.py:24-42)
# trains once and serves forever. The artifacts follow the shared store
# contract (store.py: content-fingerprinted corpus key, atomic publish,
# validated adoption); a fresh Spark app ADOPTS the files in
# milliseconds instead of re-training (the r9 per-app cold builds were
# 3-10 s each at sf0.1). Coarse assignments and residual codes are
# directory-partitioned by cluster — each IVF cell is its own file set,
# so cell-pruned serving maps to partition pruning at the scan.
# q_ann_index_build is the maintenance registration whose DuckDB oracle
# recomputes the training from the corpus and audits the DISK artifact
# (the q_trigram_index_build pattern).

ANN_ARTIFACTS = (
    "codebooks",
    "codes",
    "centroids",
    "coarse",
    "res_codebooks",
    "res_codes",
)

# Explicit read schemas: adoption must not pay schema-inference jobs
# (the partition column `cluster` is declared too — Spark casts the
# directory values to it, replacing post-hoc casts)
_CODES_SCHEMA = "vec_id bigint, " + ", ".join(
    f"code_{i} bigint" for i in range(M_SUB)
)
_COARSE_SCHEMA = "vec_id bigint, cluster bigint"
_RES_CODES_SCHEMA = _CODES_SCHEMA + ", cluster bigint"
_CB_SCHEMA = "sub int, cid bigint, cv array<bigint>"
_CENT_SCHEMA = "cid bigint, cv array<bigint>"
_ANN_SCHEMAS = {
    "codebooks": _CB_SCHEMA,
    "codes": _CODES_SCHEMA,
    "centroids": _CENT_SCHEMA,
    "coarse": _COARSE_SCHEMA,
    "res_codebooks": _CB_SCHEMA,
    "res_codes": _RES_CODES_SCHEMA,
}


def _read_artifact(spark: SparkSession, path: str, name: str) -> DataFrame:
    return (
        spark.read.schema(_ANN_SCHEMAS[name])
        .parquet(os.path.join(path, name))
    )


def _ann_store_path(sf_dir: str) -> tuple[str, int]:
    return (
        ST.corpus_path("spark_graft_ann_store_v1", sf_dir, "embeddings"),
        ST.table_rows(sf_dir, "embeddings"),
    )


def _ann_store_valid(path: str, n_vecs: int) -> bool:
    """Cheap adoption validation (footer reads only): every artifact
    finished its write, and the codes cover the corpus exactly."""
    if not all(ST.has_success(os.path.join(path, a)) for a in ANN_ARTIFACTS):
        return False
    return ST.parquet_rows(os.path.join(path, "codes")) == n_vecs


def ann_store(spark: SparkSession, sf_dir: str) -> str:
    """Adopt (or atomically build) the ANN store for this corpus
    version; returns its directory."""
    path, n = _ann_store_path(sf_dir)
    ST.publish(
        path,
        lambda tmp: _build_ann_store(spark, sf_dir, tmp),
        validate=lambda p: _ann_store_valid(p, n),
    )
    return path


def _literal_codebooks(spark: SparkSession, cb_rows: list) -> list[DataFrame]:
    """Codebook row lists → literal K-row DataFrames (no lineage to
    replay on downstream collects)."""
    return [
        spark.createDataFrame(rows, "cid bigint, cv array<bigint>")
        for rows in cb_rows
    ]


def _load_codebook_rows(path: str, name: str) -> list[list]:
    """Read a stored codebook family driver-side (DuckDB, tiny file —
    M·K rows): list of per-subspace [(cid, cv), ...]."""
    import duckdb

    rows = duckdb.sql(
        "SELECT sub, cid, cv FROM read_parquet(?) ORDER BY sub, cid",
        params=[os.path.join(path, name, "*.parquet")],
    ).fetchall()
    out: list[list] = [[] for _ in range(M_SUB)]
    for s, cid, cv in rows:
        out[int(s)].append((int(cid), [int(x) for x in cv]))
    return out


def _load_centroid_rows(path: str) -> list[dict]:
    """Stored IVF centroids driver-side (K rows)."""
    import duckdb

    rows = duckdb.sql(
        "SELECT cid, cv FROM read_parquet(?) ORDER BY cid",
        params=[os.path.join(path, "centroids", "*.parquet")],
    ).fetchall()
    return [{"cid": int(c), "cv": [int(x) for x in v]} for c, v in rows]


def _write_codebooks(spark: SparkSession, cb_rows: list, path: str) -> None:
    rows = [
        (s, cid, cv) for s, fam in enumerate(cb_rows) for cid, cv in fam
    ]
    spark.createDataFrame(
        rows, "sub int, cid bigint, cv array<bigint>"
    ).coalesce(1).write.parquet(path)


def _build_ann_store(spark: SparkSession, sf_dir: str, tmp: str) -> None:
    """The offline index-build job: train + encode the whole family and
    write every artifact under `tmp` (published atomically by the
    caller). All arithmetic is the deterministic integer lattice, so
    the artifact is partition-invariant — any builder writes the same
    bytes-equivalent tables, which is what makes the build/adopt race
    benign and the DuckDB oracle able to audit the disk."""
    from ..operators import pq as PQ

    emb = per_call(
        io.load_table(spark, sf_dir, "embeddings").select(
            "vec_id", KM.quantize("embedding").alias("qv")
        )
    )
    # flat PQ family
    cbs = PQ.train_codebooks(emb, m=M_SUB, k=PQ_K, iters=1, dim=DIM)
    cb_rows = [
        [(int(r["cid"]), [int(x) for x in r["cv"]]) for r in cb.collect()]
        for cb in cbs
    ]
    _write_codebooks(spark, cb_rows, os.path.join(tmp, "codebooks"))
    # r13: encode via the single-projection expression form (zero
    # exchanges) — bit-equal to per-subspace KM.assign, pinned in
    # tests/test_pq.py
    PQ.encode_rows(emb, cb_rows, dim=DIM).write.parquet(
        os.path.join(tmp, "codes")
    )
    # IVF coarse quantizer
    coarse_assign, cents = KM.lloyd(emb, k=K, iters=1)
    coarse_assign = per_call(coarse_assign.select("vec_id", "cluster"))
    cent_rows = [
        (int(r["cid"]), [int(x) for x in r["cv"]]) for r in cents.collect()
    ]
    spark.createDataFrame(
        cent_rows, "cid bigint, cv array<bigint>"
    ).coalesce(1).write.parquet(os.path.join(tmp, "centroids"))
    # one directory per IVF cell: cell-pruned serving = partition
    # pruning at the scan (the inverted-list layout on disk)
    coarse_assign.write.partitionBy("cluster").parquet(
        os.path.join(tmp, "coarse")
    )
    # residual family (FAISS IVFADC): codebooks trained on
    # re-offset residuals, codes carry their cell for per-cell ADC
    cents_df = spark.createDataFrame(
        cent_rows, "cid bigint, cv array<bigint>"
    )
    rv = per_call(
        emb.join(coarse_assign, "vec_id")
        .join(F.broadcast(cents_df), F.col("cluster") == F.col("cid"))
        .select(
            "vec_id",
            "cluster",
            F.zip_with(
                "qv", "cv", lambda a, b: a - b + F.lit(RES_OFFSET)
            ).alias("qv"),
        )
    )
    res_cbs = PQ.train_codebooks(
        rv.select("vec_id", "qv"), m=M_SUB, k=PQ_K, iters=1, dim=DIM
    )
    res_rows = [
        [(int(r["cid"]), [int(x) for x in r["cv"]]) for r in cb.collect()]
        for cb in res_cbs
    ]
    _write_codebooks(spark, res_rows, os.path.join(tmp, "res_codebooks"))
    (
        PQ.encode_rows(rv.select("vec_id", "qv"), res_rows, dim=DIM)
        .join(coarse_assign, "vec_id")
        .write.partitionBy("cluster")
        .parquet(os.path.join(tmp, "res_codes"))
    )


def _pq_index(spark: SparkSession, sf_dir: str):
    """(codebook ROWS, persisted codes, ADC tables for query 0, q0) —
    the flat-PQ serving handle, loaded from the on-disk store
    (adopt-or-build). The adoption path runs ZERO Spark jobs:
    codebooks/probe/tables are driver-side footer reads + arithmetic;
    the codes handle is a schema-pinned lazy scan. Consumers needing
    codebook DataFrames lift the rows via _literal_codebooks."""
    from ..operators import pq as PQ

    def _build():
        path = ann_store(spark, sf_dir)
        cb_rows = _load_codebook_rows(path, "codebooks")
        codes = _read_artifact(spark, path, "codes")
        q0 = _probe_vector(sf_dir)
        return cb_rows, codes, PQ.adc_table_rows(q0, cb_rows), q0

    return cached_substrates("pq", spark, sf_dir, _build)


def _ivf_coarse(spark: SparkSession, sf_dir: str):
    """(persisted coarse assignment, K centroid rows) — the IVF half of
    the index, served from the on-disk store. The partition column
    reads back as its directory-inferred type, so it is re-cast to the
    bigint the downstream arithmetic expects."""

    def _build():
        path = ann_store(spark, sf_dir)
        return _read_artifact(spark, path, "coarse"), _load_centroid_rows(path)

    return cached_substrates("ivf", spark, sf_dir, _build)


# --- IVF-PQ composition: coarse pruning + compressed ADC scoring -----------

NPROBE = 2

_KM_CTES = f"""
k0 AS (
  SELECT CAST(vec_id AS BIGINT) AS cid, qv AS cv FROM q WHERE vec_id < {K}
),
kd1 AS (SELECT v.vec_id, {V.dist2_duckdb('v.qv', 'c.cv', DIM)} * {KM.PACK} + c.cid AS p
    FROM q v, k0 c),
ka1 AS (SELECT vec_id, min(p) % {KM.PACK} AS cluster FROM kd1 GROUP BY vec_id),
kdims AS (
  SELECT a.cluster, u.i AS dim, q.qv[u.i] AS val
  FROM ka1 a JOIN q ON q.vec_id = a.vec_id,
       unnest(generate_series(1, {DIM})) u(i)
),
k1 AS (
  SELECT cluster AS cid, list(CAST(s // n AS BIGINT) ORDER BY dim) AS cv
  FROM (SELECT cluster, dim, CAST(sum(val) AS BIGINT) AS s, count(*) AS n
        FROM kdims GROUP BY 1, 2)
  GROUP BY cluster
),
kd2 AS (SELECT v.vec_id, {V.dist2_duckdb('v.qv', 'c.cv', DIM)} * {KM.PACK} + c.cid AS p
    FROM q v, k1 c),
ka2 AS (SELECT vec_id, min(p) % {KM.PACK} AS cluster FROM kd2 GROUP BY vec_id),
qfull AS (SELECT qv FROM q WHERE vec_id = 0),
cd AS (SELECT c.cid, {V.dist2_duckdb('v.qv', 'c.cv', DIM)} * {KM.PACK} + c.cid AS p
    FROM k1 c, qfull v),
probes AS (SELECT cid FROM cd ORDER BY p LIMIT {NPROBE}),
cand AS (
  SELECT vec_id FROM ka2 WHERE cluster IN (SELECT cid FROM probes)
)"""


@register(
    "q_ivfpq_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
),{_KM_CTES},{",".join(_pq_sub_ctes(i) for i in range(M_SUB))}
SELECT a0.vec_id,
       CAST(a0.d + a1.d + a2.d + a3.d AS BIGINT) AS adc_dist
FROM ad_0 a0
JOIN ad_1 a1 USING (vec_id)
JOIN ad_2 a2 USING (vec_id)
JOIN ad_3 a3 USING (vec_id)
JOIN cand USING (vec_id)
ORDER BY adc_dist, vec_id
LIMIT {PQ_TOPK}
""",
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN stack composed end-to-end (FAISS IVFADC
    shape): an IVF coarse quantizer (one-iteration integer Lloyd's,
    {K} cells) prunes the corpus to the query's {NPROBE} nearest cells,
    and PQ ADC ({M_SUB}×{PQ_K} integer codebooks) scores ONLY those
    candidates from their {M_SUB}-byte codes — both stages exact bigint
    arithmetic, so the oracle replays coarse training, cell selection,
    PQ training, encoding, and scoring as one CTE chain.

    Scale: cell pruning drops (K-nprobe)/K of the corpus before any
    scoring (on a cluster-partitioned store it is partition pruning —
    the q_ivf_topk evidence); scoring reads codes only. The candidate
    semi-join keys on the bounded probe set; nothing all-pairs, nothing
    float."""
    topk, _ = _ivfpq_pipeline(spark, sf_dir)
    return topk


def _ivfpq_pipeline(spark: SparkSession, sf_dir: str):
    """The shared IVF-PQ composition: returns (ADC top-k DataFrame,
    quantized query vector) so q_ivfpq_topk and q_ivfpq_recall run the
    IDENTICAL pipeline (one definition, two gates). Index artifacts
    (quantized vectors, codebooks, codes, coarse cells) come from the
    per-app caches, so the query-time work is probe selection + the
    candidate semi-join + ADC scoring."""
    from ..operators import pq as PQ

    _, codes, tables, q0 = _pq_index(spark, sf_dir)
    coarse_assign, cents = _ivf_coarse(spark, sf_dir)
    # nprobe cell selection: packed (dist, cid) over K centroid rows —
    # bounded driver arithmetic, same tie-break as kmeans.assign
    packed = sorted(
        (
            sum((a - b) * (a - b) for a, b in zip(q0, r["cv"])) * KM.PACK
            + int(r["cid"]),
            int(r["cid"]),
        )
        for r in cents
    )
    probe_cells = [cid for _, cid in packed[:NPROBE]]
    # the candidate id set is corpus/K-sized per probed cell — hint the
    # broadcast so the semi-join never becomes a two-sided exchange
    # (codes stay in place; only survivor ids move)
    cand = F.broadcast(
        coarse_assign.filter(
            F.col("cluster").isin(probe_cells)
        ).select("vec_id")
    )
    return PQ.adc_topk(codes.join(cand, "vec_id"), tables, k=PQ_TOPK), q0




@register(
    "q_ivfpq_recall",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
),{_KM_CTES},{",".join(_pq_sub_ctes(i) for i in range(M_SUB))},
ivf_k AS (
  SELECT a0.vec_id
  FROM ad_0 a0
  JOIN ad_1 a1 USING (vec_id)
  JOIN ad_2 a2 USING (vec_id)
  JOIN ad_3 a3 USING (vec_id)
  JOIN cand USING (vec_id)
  ORDER BY a0.d + a1.d + a2.d + a3.d, vec_id
  LIMIT {PQ_TOPK}
),
exact_k AS (
  SELECT v.vec_id
  FROM q v, qfull f
  ORDER BY {V.dist2_duckdb('v.qv', 'f.qv', DIM)}, v.vec_id
  LIMIT {PQ_TOPK}
)
SELECT CAST(0 AS BIGINT) AS query_id,
       CAST((SELECT count(*) FROM exact_k e JOIN ivf_k i USING (vec_id))
            AS BIGINT) AS n_hits,
       CAST((1000000 * (SELECT count(*) FROM exact_k e JOIN ivf_k i
                        USING (vec_id))) // {PQ_TOPK} AS BIGINT) AS recall_ppm
""",
)
def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{PQ_TOPK} audit of the composed IVF-PQ pipeline against
    exact integer-lattice kNN — the tuning loop for nprobe × M × K
    (q_ann_recall's analogue for the compressed index; reference shape:
    the delegated ANN search quality check in the reference's
    scripts/test.out.py:14-19). Exact integer ppm: both rankings are
    bigint arithmetic, so the oracle replays the entire pipeline and
    the division is exact on both engines.

    Scale: the exact side is the brute-force TakeOrderedAndProject over
    the corpus (run on a sampled query set in production); the IVF-PQ
    side reads codes only. The top-k sets are k-row bounded, so the
    final overlap join is trivial."""
    ivf_topk, q0 = _ivfpq_pipeline(spark, sf_dir)
    emb = io.load_table(spark, sf_dir, "embeddings").select(
        "vec_id", KM.quantize("embedding").alias("qv")
    )
    exact = (
        emb.select("vec_id", V.dist2("qv", q0).alias("d"))
        .orderBy(F.asc("d"), F.asc("vec_id"))
        .limit(PQ_TOPK)
        .select("vec_id")
    )
    hits = exact.join(
        ivf_topk.select("vec_id").withColumn("hit", F.lit(1)),
        "vec_id",
        "left",
    )
    return hits.agg(F.count("hit").cast("bigint").alias("n_hits")).select(
        F.lit(0).cast("bigint").alias("query_id"),
        "n_hits",
        F.expr(f"(1000000 * n_hits) div {PQ_TOPK}")
        .cast("bigint")
        .alias("recall_ppm"),
    )


# --- multi-query ADC serving (batch ANN without per-query driver work) ------

NQ_PQ = 5  # probe batch: vec_id 0..4


def _pq_mq_ctes(i: int) -> str:
    """Multi-query extension of one subspace's replay: the probe set's
    lookup table (query_id, cid, d) and per-(probe, vector) subspace
    distances — builds on _pq_sub_ctes' s{i}/c1_{i}/code_{i}."""
    return f"""
mq_{i} AS (SELECT vec_id AS query_id, qv FROM s{i} WHERE vec_id < {NQ_PQ}),
mtab_{i} AS (SELECT v.query_id, c.cid, {V.dist2_duckdb('v.qv', 'c.cv', PQ_W, var='j')} AS d
    FROM c1_{i} c, mq_{i} v),
mad_{i} AS (
  SELECT t.query_id, k.vec_id, t.d
  FROM code_{i} k JOIN mtab_{i} t ON t.cid = k.code
)"""


# Shared by q_pq_multiquery_topk and its streaming serving twin
# (queries/streaming.q_stream_ann_lookup): per-batch top-k over
# probe-disjoint micro-batches equals the global per-probe top-k, so
# both replay against the identical full-pipeline CTE oracle.
PQ_MQ_ORACLE = f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
),{",".join(_pq_sub_ctes(i) for i in range(M_SUB))},{",".join(_pq_mq_ctes(i) for i in range(M_SUB))},
scored AS (
  SELECT a0.query_id, a0.vec_id,
         CAST(a0.d + a1.d + a2.d + a3.d AS BIGINT) AS adc_dist
  FROM mad_0 a0
  JOIN mad_1 a1 USING (query_id, vec_id)
  JOIN mad_2 a2 USING (query_id, vec_id)
  JOIN mad_3 a3 USING (query_id, vec_id)
),
ranked AS (
  SELECT query_id, vec_id, adc_dist,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, vec_id) AS INT) AS rnk
  FROM scored
)
SELECT query_id, vec_id, adc_dist, rnk FROM ranked WHERE rnk <= {PQ_TOPK}
"""


@register("q_pq_multiquery_topk", oracle=PQ_MQ_ORACLE)
def q_pq_multiquery_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN serving over PQ codes (operators/pq.adc_topk_multi_maps):
    {NQ_PQ} probes scored in ONE plan — each probe's M·K lookup entries
    are folded into one MAP row, the |batch| map rows attach to the
    un-melted codes by one broadcast nested-loop join, the M-term ADC
    sum is row-local, and a per-probe window takes top-{PQ_TOPK}. All
    bigint, so the oracle replays the entire multi-probe pipeline as
    CTEs.

    Scale: the corpus contributes one code row per vector regardless
    of probe count, and the map rows are |probes|·M·K small entries. An
    unbounded probe stream builds the same maps on executors per
    trigger (queries/streaming.py's serve loop). The trained index
    comes from the shared _pq_index cache (training excluded from
    query time, as in q_pq_adc_topk)."""
    from ..operators import pq as PQ

    cb_rows, codes, _, _ = _pq_index(spark, sf_dir)

    def _build():
        # the serving batch's lookup MAPS are a pure function of
        # (probes, codebooks) — index-build work, persisted once, so
        # each serving call pays only the map attach + top-k. r13:
        # folded to one MAP row per probe so serving computes the ADC
        # sum row-locally over the un-melted codes — the
        # melt+join+aggregate path expanded |corpus|·M·|probes| rows
        # per call. The bench-sized probe cohort ({NQ_PQ} rows) is
        # read and quantized DRIVER-SIDE (the _probe_vector pattern —
        # zero Spark jobs; the executor build of the same 5 map rows
        # cost ~13 s of broadcast/job machinery, r13 measured);
        # adc_table_rows replicates probe_tables_flat's integer
        # arithmetic exactly (pinned in tests/test_pq.py). Unbounded probe
        # streams keep the executor path — queries/streaming.py's
        # serve loop builds maps from probe_tables_flat per trigger.
        entries = []
        for vid, qv in _probe_vectors(sf_dir, NQ_PQ):
            tabs = PQ.adc_table_rows(qv, cb_rows)
            tbl = {
                i * PQ.ADC_KEY_SPAN + int(cid): int(d)
                for i, t in enumerate(tabs)
                for cid, d in t.items()
            }
            entries.append((vid, tbl))
        return spark.createDataFrame(
            entries, "query_id bigint, tbl map<bigint,bigint>"
        )

    maps = cached_substrates("pq_mq", spark, sf_dir, _build)
    return PQ.adc_topk_multi_maps(codes, maps, m=M_SUB, k=PQ_TOPK)


# --- residual-encoded IVF-PQ (the faithful FAISS IVFADC formulation) -------

# Residual coords qv - cv span [-Q_OFFSET*2, Q_OFFSET*2]; re-offsetting
# by 2*Q_OFFSET keeps them NON-NEGATIVE, preserving the lattice
# invariant every oracle replay depends on (floor-div == trunc-div only
# holds for non-negative sums — operators/kmeans.py's module note).
# Distances are offset-invariant (both sides shift equally), so ADC
# scores are unchanged by the re-offset.
RES_OFFSET = 2 * KM.Q_OFFSET


def _ivfpq_res_index(spark: SparkSession, sf_dir: str):
    """(residual codebooks, persisted codes+cluster, probe cells,
    per-cell ADC tables) — the residual-IVFADC serving handle, loaded
    from the on-disk store (training moved to _build_ann_store).
    Probe-cell selection + per-cell query-residual ADC tables are pure
    functions of (q0, centroids, residual codebooks) — bounded driver
    arithmetic, so the serving path never collects anything
    corpus-sized."""
    from ..operators import pq as PQ

    def _build():
        path = ann_store(spark, sf_dir)
        res_rows = _load_codebook_rows(path, "res_codebooks")
        codes = _read_artifact(spark, path, "res_codes")
        cents = _load_centroid_rows(path)
        *_, q0 = _pq_index(spark, sf_dir)
        packed = sorted(
            (
                sum((a - b) * (a - b) for a, b in zip(q0, r["cv"])) * KM.PACK
                + int(r["cid"]),
                int(r["cid"]),
            )
            for r in cents
        )
        probe_cells = [cid for _, cid in packed[:NPROBE]]
        cent_map = {int(r["cid"]): list(r["cv"]) for r in cents}
        tables_by_cell = {
            cell: PQ.adc_table_rows(
                [a - b + RES_OFFSET for a, b in zip(q0, cent_map[cell])],
                res_rows,
            )
            for cell in probe_cells
        }
        # first slot holds the driver-resident codebook ROWS (serving
        # uses only the precomputed tables; nothing needs DataFrames)
        return res_rows, codes, probe_cells, tables_by_cell

    return cached_substrates("ivfpq_res", spark, sf_dir, _build)


def _res_query_ctes(i: int) -> str:
    """Residual query-side replay for subspace i: per-PROBED-CELL query
    residual slices, their lookup tables against the residual codebook,
    and per-vector subspace distances keyed on the vector's OWN cell
    (t.pcell = a.cluster — each candidate scores against the table of
    the cell it lives in, the defining IVFADC property)."""
    lo, hi = i * PQ_W + 1, (i + 1) * PQ_W
    return f"""
qrs_{i} AS (SELECT pcell, qv[{lo}:{hi}] AS qv FROM qres),
rtab_{i} AS (SELECT v.pcell, c.cid, {V.dist2_duckdb('v.qv', 'c.cv', PQ_W, var='j')} AS d
    FROM rc1_{i} c, qrs_{i} v),
rad_{i} AS (
  SELECT k.vec_id, t.d
  FROM rcode_{i} k
  JOIN ka2 a ON a.vec_id = k.vec_id
  JOIN rtab_{i} t ON t.cid = k.code AND t.pcell = a.cluster
)"""


_RES_CTES = f"""
rvv AS (
  SELECT v.vec_id,
         list_transform(generate_series(1, {DIM}),
                        i -> v.qv[i] - k.cv[i] + {RES_OFFSET}) AS qv
  FROM q v JOIN ka2 a ON a.vec_id = v.vec_id JOIN k1 k ON k.cid = a.cluster
),
qres AS (
  SELECT p.cid AS pcell,
         list_transform(generate_series(1, {DIM}),
                        i -> f.qv[i] - k.cv[i] + {RES_OFFSET}) AS qv
  FROM probes p JOIN k1 k ON k.cid = p.cid, qfull f
)"""


def _ivfpq_res_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The residual-IVFADC serving path shared by topk + recall gates:
    probe-cell selection (bounded driver arithmetic over K collected
    centroids), per-cell query residuals and ADC tables, per-cell
    top-k over that cell's codes only, global re-top-k of the union
    (global top-k ⊆ union of per-cell top-ks, so this is exact)."""
    from ..operators import pq as PQ

    _, codes, probe_cells, tables_by_cell = _ivfpq_res_index(spark, sf_dir)
    parts = None
    for cell in probe_cells:
        part = PQ.adc_topk(
            codes.filter(F.col("cluster") == cell),
            tables_by_cell[cell],
            k=PQ_TOPK,
        )
        parts = part if parts is None else parts.unionByName(part)
    return parts.orderBy(F.asc("adc_dist"), F.asc("vec_id")).limit(PQ_TOPK)


@register(
    "q_ivfpq_residual_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
),{_KM_CTES},{_RES_CTES},{",".join(_pq_sub_ctes(i, src="rvv", p="r", with_query=False) for i in range(M_SUB))},{",".join(_res_query_ctes(i) for i in range(M_SUB))}
SELECT r0.vec_id,
       CAST(r0.d + r1.d + r2.d + r3.d AS BIGINT) AS adc_dist
FROM rad_0 r0
JOIN rad_1 r1 USING (vec_id)
JOIN rad_2 r2 USING (vec_id)
JOIN rad_3 r3 USING (vec_id)
ORDER BY adc_dist, vec_id
LIMIT {PQ_TOPK}
""",
)
def q_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF-PQ — the faithful FAISS IVFADC
    formulation: PQ codebooks are trained on RESIDUALS r = v −
    centroid(cell) instead of raw vectors, so the codebooks spend
    their {PQ_K} entries on the (much tighter) within-cell
    displacement distribution rather than re-describing the coarse
    structure the IVF already captured — the reason residual encoding
    typically beats raw-vector IVF-PQ on recall at equal bits on
    clustered real-world distributions. (On this synthetic
    near-uniform fixture the two recall gates land within noise of
    each other at k={PQ_TOPK} — the gates verify pipeline EXACTNESS;
    the recall numbers exist to drive tuning on real corpora.) The query is
    re-expressed as a residual PER PROBED CELL and each candidate
    scores against the lookup table of its own cell.

    All arithmetic stays on the non-negative integer lattice
    (residuals re-offset by {RES_OFFSET}; distances are offset-
    invariant), so the oracle replays coarse training, residual
    computation, residual-codebook training, encoding, per-cell query
    tables, and scoring bit-for-bit. Scale: identical to q_ivfpq_topk
    (codes-only scoring, cell-pruned candidates) plus nprobe×M×K table
    entries per query — still broadcast-trivial. q_ivfpq_residual_
    recall measures the recall this buys."""
    return _ivfpq_res_pipeline(spark, sf_dir)


@register(
    "q_ivfpq_residual_recall",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
),{_KM_CTES},{_RES_CTES},{",".join(_pq_sub_ctes(i, src="rvv", p="r", with_query=False) for i in range(M_SUB))},{",".join(_res_query_ctes(i) for i in range(M_SUB))},
res_k AS (
  SELECT r0.vec_id
  FROM rad_0 r0
  JOIN rad_1 r1 USING (vec_id)
  JOIN rad_2 r2 USING (vec_id)
  JOIN rad_3 r3 USING (vec_id)
  ORDER BY r0.d + r1.d + r2.d + r3.d, vec_id
  LIMIT {PQ_TOPK}
),
exact_k AS (
  SELECT v.vec_id
  FROM q v, qfull f
  ORDER BY {V.dist2_duckdb('v.qv', 'f.qv', DIM)}, v.vec_id
  LIMIT {PQ_TOPK}
)
SELECT CAST(0 AS BIGINT) AS query_id,
       CAST((SELECT count(*) FROM exact_k e JOIN res_k i USING (vec_id))
            AS BIGINT) AS n_hits,
       CAST((1000000 * (SELECT count(*) FROM exact_k e JOIN res_k i
                        USING (vec_id))) // {PQ_TOPK} AS BIGINT) AS recall_ppm
""",
)
def q_ivfpq_residual_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{PQ_TOPK} of residual-encoded IVF-PQ vs exact integer
    kNN — q_ivfpq_recall's twin for the residual index, closing the
    compression-ladder evidence: exact → int8 → PQ → IVF-PQ →
    residual IVF-PQ, each with a measured recall number in exact
    integer ppm. Comparing the two recall gates quantifies what
    residual encoding buys at identical (M, K, nprobe) — a gain on
    clustered corpora, a wash on this synthetic near-uniform
    fixture."""
    res_topk = _ivfpq_res_pipeline(spark, sf_dir)
    emb = io.load_table(spark, sf_dir, "embeddings").select(
        "vec_id", KM.quantize("embedding").alias("qv")
    )
    *_, q0 = _pq_index(spark, sf_dir)
    exact = (
        emb.select("vec_id", V.dist2("qv", q0).alias("d"))
        .orderBy(F.asc("d"), F.asc("vec_id"))
        .limit(PQ_TOPK)
        .select("vec_id")
    )
    hits = exact.join(
        res_topk.select("vec_id").withColumn("hit", F.lit(1)),
        "vec_id",
        "left",
    )
    return hits.agg(F.count("hit").cast("bigint").alias("n_hits")).select(
        F.lit(0).cast("bigint").alias("query_id"),
        "n_hits",
        F.expr(f"(1000000 * n_hits) div {PQ_TOPK}")
        .cast("bigint")
        .alias("recall_ppm"),
    )


# --- ANN index maintenance: build/adopt the disk store, audit the disk ------

# Position-weighted checksums: permuting any assignment, code, or
# codebook entry moves the sum, so a stale/truncated/mis-written
# artifact cannot hash-match a replay from the corpus. All exact
# bigint (max term ≈ 70 · |corpus|² « 2⁶³).
_CODE_WSUM_SQL = " + ".join(
    f"(SELECT sum(code * (vec_id + 1)) FROM {{p}}code_{i}) * {i + 1}"
    for i in range(M_SUB)
)
_CB_WSUM_SQL = " + ".join(
    f"(SELECT sum(({i} * 1000 + cid + 1) * list_sum(cv)) FROM {{p}}c1_{i})"
    for i in range(M_SUB)
)


@register(
    "q_ann_index_build",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
),{_KM_CTES},{",".join(_pq_sub_ctes(i, with_query=False) for i in range(M_SUB))},{_RES_CTES},{",".join(_pq_sub_ctes(i, src="rvv", p="r", with_query=False) for i in range(M_SUB))}
SELECT
  CAST((SELECT count(*) FROM ka2) AS BIGINT) AS n_vecs,
  CAST((SELECT sum(cluster * (vec_id + 1)) FROM ka2) AS BIGINT) AS coarse_wsum,
  CAST((SELECT sum((cid + 1) * list_sum(cv)) FROM k1) AS BIGINT) AS cent_wsum,
  CAST({_CB_WSUM_SQL.format(p="")} AS BIGINT) AS cb_wsum,
  CAST({_CODE_WSUM_SQL.format(p="")} AS BIGINT) AS code_wsum,
  CAST({_CB_WSUM_SQL.format(p="r")} AS BIGINT) AS res_cb_wsum,
  CAST({_CODE_WSUM_SQL.format(p="r")} AS BIGINT) AS res_code_wsum
""",
)
def q_ann_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index MAINTENANCE as a first-class query (r9 verdict #1,
    the q_trigram_index_build pattern): adopt — or atomically build —
    the on-disk ANN store for this corpus version, then emit
    position-weighted checksums over every STORED artifact (coarse
    assignments, IVF centroids, PQ codebooks, PQ codes, residual
    codebooks, residual codes). The aggregation reads the DISK tables,
    not a fresh in-plan build, while the DuckDB oracle replays coarse
    training, PQ training, encoding, residual computation, and
    residual encoding straight off the corpus — a stale, truncated, or
    corrupted store fails the gate on the exact artifact that drifted.
    This is the once-per-corpus-version cold cost the serving family
    (q_pq_adc_topk, q_ivfpq_topk, residual twins, multiquery) no
    longer pays per app; bench records it under INDEX_COLD."""
    path = ann_store(spark, sf_dir)

    def rd(name: str) -> DataFrame:
        return _read_artifact(spark, path, name)

    agg_cv = F.expr("aggregate(cv, CAST(0 AS BIGINT), (a, x) -> a + x)")
    code_w = sum(
        (F.col(f"code_{i}") * (i + 1) for i in range(1, M_SUB)),
        F.col("code_0"),
    )
    a_coarse = rd("coarse").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum(F.col("cluster") * (F.col("vec_id") + 1))
        .cast("bigint")
        .alias("coarse_wsum"),
    )
    a_cent = rd("centroids").agg(
        F.sum((F.col("cid") + 1) * agg_cv).cast("bigint").alias("cent_wsum")
    )

    def cb_wsum(name: str, out: str) -> DataFrame:
        return rd(name).agg(
            F.sum(
                (F.col("sub").cast("bigint") * 1000 + F.col("cid") + 1)
                * agg_cv
            )
            .cast("bigint")
            .alias(out)
        )

    def code_wsum(name: str, out: str) -> DataFrame:
        return rd(name).agg(
            F.sum(code_w * (F.col("vec_id") + 1)).cast("bigint").alias(out)
        )

    out = a_coarse
    for one_row in (
        a_cent,
        cb_wsum("codebooks", "cb_wsum"),
        code_wsum("codes", "code_wsum"),
        cb_wsum("res_codebooks", "res_cb_wsum"),
        code_wsum("res_codes", "res_code_wsum"),
    ):
        out = out.crossJoin(F.broadcast(one_row))
    return out


# --- incremental index maintenance: encode ONLY the arriving delta ----------


@register(
    "q_ann_delta_encode",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
),{",".join(_pq_sub_ctes(i, with_query=False) for i in range(M_SUB))}
SELECT c0.vec_id,
       CAST(c0.code AS BIGINT) AS code_0,
       CAST(c1.code AS BIGINT) AS code_1,
       CAST(c2.code AS BIGINT) AS code_2,
       CAST(c3.code AS BIGINT) AS code_3
FROM code_0 c0
JOIN code_1 c1 USING (vec_id)
JOIN code_2 c2 USING (vec_id)
JOIN code_3 c3 USING (vec_id)
WHERE c0.vec_id >= (SELECT (count(*) * 4) // 5 FROM embeddings)
""",
)
def q_ann_delta_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance: newly arrived vectors (the
    top fifth of the id space stands in for an append batch) are
    encoded against the STORED codebooks — no retraining, no touch of
    the existing codes. This is how a production vector store absorbs
    append-only corpus growth: maintenance cost is O(|delta|) encode
    work (K-row codebook broadcasts over the delta scan; the vec_id
    bound is a literal, so it reaches the parquet scan as a pushed
    filter), while periodic full rebuilds (q_ann_index_build) remain
    the codebook-refresh path when the distribution drifts.

    The oracle replays full-corpus PQ training (the stored codebooks'
    exact lineage) and encodes only the delta slice — bit-identical
    integer lattice arithmetic, so the gate proves stored-codebook
    encoding equals a from-scratch replay on the same corpus
    version."""
    from ..operators import pq as PQ

    path = ann_store(spark, sf_dir)
    n = ST.table_rows(sf_dir, "embeddings")
    split = (n * 4) // 5
    delta = (
        io.load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") >= split)
        .select("vec_id", KM.quantize("embedding").alias("qv"))
    )
    # r13: single-projection expression encode (operators/pq.encode_rows)
    # — the DataFrame-codebook form cost 4 broadcast crossJoins + 4
    # packed-min shuffles + 3 vec_id reassembly joins (16 Exchange
    # nodes) for what is one narrow map over the delta scan
    enc = PQ.encode_rows(delta, _load_codebook_rows(path, "codebooks"), dim=DIM)
    return enc.select(
        "vec_id",
        *[F.col(f"code_{i}").cast("bigint").alias(f"code_{i}") for i in range(M_SUB)],
    )


# --- ANN codes append-COMMIT: the growable store (r10 verdict #1b) ----------
#
# q_ann_delta_encode proved delta ENCODING against stored codebooks;
# nothing committed those codes — the serving store's validation pins
# codes rows == build-time corpus, so any growth forced a full rebuild.
# This store closes that gap with the segment design every vector
# store uses (Qdrant's incremental upsert against a persistent
# collection, scripts/services/qdrant_service.py:24-42): codebooks are
# trained ONCE on the base corpus; the codes artifact is a LIST OF
# SEGMENTS resolved through a manifest; an append batch is encoded
# (O(|delta|), K-row broadcasts over the delta scan only) and
# committed as a new segment + an atomic manifest swap. Readers
# resolve segments via the manifest only — never a directory glob —
# so a reader sees pre- or post-commit state, never a torn one.

ANN_GROW_NUM, ANN_GROW_DEN = 4, 5  # base corpus = first 80% of vec_ids


def _grow_manifest(path: str) -> dict:
    import json

    with open(os.path.join(path, "MANIFEST.json")) as f:
        return json.load(f)


def _write_grow_manifest(path: str, manifest: dict) -> None:
    """Atomic manifest swap: write-temp + os.replace. The manifest is
    the commit point — segment directories added before the swap are
    invisible to readers until it lands, and replaying the same commit
    writes identical bytes (deterministic encoding), so a racing
    double-commit is benign last-writer-wins."""
    import json
    import uuid

    tmp = os.path.join(path, f".manifest-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
    os.replace(tmp, os.path.join(path, "MANIFEST.json"))


def _grow_valid(path: str) -> bool:
    """Adoption validation across COMMITTED segments: every manifest
    segment finished its write and the segment rows sum to the
    manifest's corpus count (footer reads only)."""
    try:
        man = _grow_manifest(path)
    except (OSError, ValueError):
        return False
    if not ST.has_success(os.path.join(path, "codebooks")):
        return False
    total = 0
    for seg in man["segments"]:
        seg_dir = os.path.join(path, "codes", seg)
        if not ST.has_success(seg_dir):
            return False
        total += ST.parquet_rows(seg_dir)
    return total == man["n_vecs"]


def _grow_split(n: int) -> int:
    return (n * ANN_GROW_NUM) // ANN_GROW_DEN


def ann_grow_store(spark: SparkSession, sf_dir: str) -> str:
    """Adopt-or-build the BASE version of the growable flat-PQ store:
    codebooks trained on the base slice (vec_id < 4n/5 — the same
    append framing as q_ann_delta_encode) and the base codes committed
    as segment seg_0 under a manifest. One corpus version key per
    embeddings fingerprint; the append-commit mutates the artifact
    only through segment adds + manifest swaps."""
    from ..operators import pq as PQ

    path = ST.corpus_path("spark_graft_ann_grow_v1", sf_dir, "embeddings")
    n = ST.table_rows(sf_dir, "embeddings")
    split = _grow_split(n)

    def build(tmp: str) -> None:
        emb = per_call(
            io.load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < split)
            .select("vec_id", KM.quantize("embedding").alias("qv"))
        )
        cbs = PQ.train_codebooks(emb, m=M_SUB, k=PQ_K, iters=1, dim=DIM)
        cb_rows = [
            [(int(r["cid"]), [int(x) for x in r["cv"]]) for r in cb.collect()]
            for cb in cbs
        ]
        _write_codebooks(spark, cb_rows, os.path.join(tmp, "codebooks"))
        PQ.encode_rows(emb, cb_rows, dim=DIM).write.parquet(
            os.path.join(tmp, "codes", "seg_0")
        )
        _write_grow_manifest(tmp, {"n_vecs": split, "segments": ["seg_0"]})

    ST.publish(path, build, validate=_grow_valid)
    return path


def ann_commit_delta(spark: SparkSession, sf_dir: str) -> str:
    """The append COMMIT: encode the arrived cohort (vec_id >= 4n/5)
    against the STORED base codebooks — no retraining, no touch of
    seg_0 — and publish it as segment seg_1 (atomic dir rename via the
    same publish contract) followed by the manifest swap. Idempotent:
    a store whose manifest already covers the grown corpus is left
    untouched, so re-runs and racing committers converge on one
    state. Maintenance cost is O(|delta|): K-row codebook broadcasts
    over a pushed-filter delta scan, |delta| code rows written."""
    from ..operators import pq as PQ

    path = ann_grow_store(spark, sf_dir)
    n = ST.table_rows(sf_dir, "embeddings")
    split = _grow_split(n)
    man = _grow_manifest(path)
    if man["n_vecs"] >= n:
        return path  # delta already committed
    seg_dir = os.path.join(path, "codes", "seg_1")

    def build_seg(tmp: str) -> None:
        delta = (
            io.load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") >= split)
            .select("vec_id", KM.quantize("embedding").alias("qv"))
        )
        PQ.encode_rows(
            delta, _load_codebook_rows(path, "codebooks"), dim=DIM
        ).write.parquet(tmp)

    ST.publish(seg_dir, build_seg, validate=ST.has_success)
    _write_grow_manifest(
        path, {"n_vecs": n, "segments": man["segments"] + ["seg_1"]}
    )
    return path


def grow_codes(spark: SparkSession, path: str) -> DataFrame:
    """The committed codes view: the union of the manifest's segments,
    each a schema-pinned lazy scan. Readers NEVER glob the codes dir —
    the manifest is the consistency point."""
    man = _grow_manifest(path)
    out = None
    for seg in man["segments"]:
        df = spark.read.schema(_CODES_SCHEMA).parquet(
            os.path.join(path, "codes", seg)
        )
        out = df if out is None else out.unionByName(df)
    return out


def _pq_full_encode_ctes(i: int) -> str:
    """Encode the FULL corpus against the base-trained codebook gc1_i
    (produced by _pq_sub_ctes over the `tr` slice) — the oracle replay
    of commit-time encoding: stored-codebook encoding of base ∪ delta
    must equal this from-scratch replay bit-for-bit."""
    lo, hi = i * PQ_W + 1, (i + 1) * PQ_W
    return f"""
fe_s{i} AS (SELECT vec_id, qv[{lo}:{hi}] AS qv FROM q),
fe_d{i} AS (
  SELECT v.vec_id, {V.dist2_duckdb('v.qv', 'c.cv', PQ_W, var='j')} * {KM.PACK} + c.cid AS p
  FROM fe_s{i} v, gc1_{i} c
),
fe_code_{i} AS (
  SELECT vec_id, min(p) % {KM.PACK} AS code FROM fe_d{i} GROUP BY vec_id
)"""


_GROW_CODE_WSUM_SQL = " + ".join(
    f"(SELECT sum(code * (vec_id + 1)) FROM fe_code_{i}) * {i + 1}"
    for i in range(M_SUB)
)


@register(
    "q_ann_codes_commit",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
),
tr AS (
  SELECT * FROM q
  WHERE vec_id < (SELECT (count(*) * {ANN_GROW_NUM}) // {ANN_GROW_DEN}
                  FROM embeddings)
),{",".join(_pq_sub_ctes(i, src="tr", p="g", with_query=False) for i in range(M_SUB))},{",".join(_pq_full_encode_ctes(i) for i in range(M_SUB))}
SELECT
  CAST((SELECT count(*) FROM q) AS BIGINT) AS n_vecs,
  CAST(2 AS BIGINT) AS n_segments,
  CAST({_CB_WSUM_SQL.format(p="g")} AS BIGINT) AS cb_wsum,
  CAST({_GROW_CODE_WSUM_SQL} AS BIGINT) AS code_wsum
""",
)
def q_ann_codes_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index maintenance WRITE path: commit the append cohort's
    codes into the growable store (encode against stored base
    codebooks → publish segment seg_1 → atomic manifest swap), then
    audit the POST-COMMIT artifact — corpus coverage, segment count
    from the manifest, and position-weighted checksums over the stored
    codebooks and the manifest-resolved union of ALL code segments.
    The DuckDB oracle replays base-slice PQ training and a full-corpus
    encode from the raw embeddings, so a dropped segment, a stale
    manifest, a delta encoded against the wrong codebooks, or a torn
    commit all fail the gate. Pairs with q_ann_delta_encode (the
    encode step alone) to complete r10 verdict #1: corpus growth now
    costs O(|delta|) commit work instead of a full rebuild, and the
    artifact stays auditable after every commit."""
    path = ann_commit_delta(spark, sf_dir)
    man = _grow_manifest(path)
    codes = grow_codes(spark, path)
    code_w = sum(
        (F.col(f"code_{i}") * (i + 1) for i in range(1, M_SUB)),
        F.col("code_0"),
    )
    agg_cv = F.expr("aggregate(cv, CAST(0 AS BIGINT), (a, x) -> a + x)")
    a_codes = codes.agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum(code_w * (F.col("vec_id") + 1)).cast("bigint").alias("code_wsum"),
    )
    a_cb = (
        spark.read.schema(_CB_SCHEMA)
        .parquet(os.path.join(path, "codebooks"))
        .agg(
            F.sum(
                (F.col("sub").cast("bigint") * 1000 + F.col("cid") + 1)
                * agg_cv
            )
            .cast("bigint")
            .alias("cb_wsum")
        )
    )
    return (
        a_codes.crossJoin(F.broadcast(a_cb))
        .select(
            "n_vecs",
            F.lit(len(man["segments"])).cast("bigint").alias("n_segments"),
            "cb_wsum",
            "code_wsum",
        )
    )


_GROW_Q_CTES = ",".join(
    f"""
gqs_{i} AS (SELECT qv FROM fe_s{i} WHERE vec_id = 0),
gtab_{i} AS (SELECT c.cid, {V.dist2_duckdb('v.qv', 'c.cv', PQ_W, var='j')} AS d
    FROM gc1_{i} c, gqs_{i} v),
gad_{i} AS (
  SELECT k.vec_id, t.d FROM fe_code_{i} k JOIN gtab_{i} t ON t.cid = k.code
)"""
    for i in range(M_SUB)
)


@register(
    "q_ann_grown_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
),
tr AS (
  SELECT * FROM q
  WHERE vec_id < (SELECT (count(*) * {ANN_GROW_NUM}) // {ANN_GROW_DEN}
                  FROM embeddings)
),{",".join(_pq_sub_ctes(i, src="tr", p="g", with_query=False) for i in range(M_SUB))},{",".join(_pq_full_encode_ctes(i) for i in range(M_SUB))},{_GROW_Q_CTES}
SELECT a0.vec_id,
       CAST(a0.d + a1.d + a2.d + a3.d AS BIGINT) AS adc_dist
FROM gad_0 a0
JOIN gad_1 a1 USING (vec_id)
JOIN gad_2 a2 USING (vec_id)
JOIN gad_3 a3 USING (vec_id)
ORDER BY adc_dist, vec_id
LIMIT {PQ_TOPK}
""",
)
def q_ann_grown_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving off the GROWN store — the proof that the append commit
    changes nothing for readers: ADC top-{PQ_TOPK} for the vec_id-0
    probe over the manifest-resolved union of ALL committed code
    segments (base seg_0 + delta seg_1), scored against the stored
    base-trained codebooks. The plan is identical in shape to
    q_pq_adc_topk's serve path (map-literal lookups over a codes scan,
    TakeOrderedAndProject — no join, no vector shuffle); the only
    difference is that the codes arrive from two segments the commit
    published. The DuckDB oracle replays base-slice training +
    full-corpus encoding + ADC, so a reader that misses a segment,
    double-reads one, or scores delta codes against refreshed
    codebooks fails the gate. Together with q_ann_codes_commit this
    closes the maintenance loop: absorb appends at O(|delta|), serve
    the grown corpus unchanged."""
    from ..operators import pq as PQ

    path = ann_commit_delta(spark, sf_dir)
    cb_rows = _load_codebook_rows(path, "codebooks")
    tables = PQ.adc_table_rows(_probe_vector(sf_dir), cb_rows)
    return PQ.adc_topk(grow_codes(spark, path), tables, k=PQ_TOPK)
