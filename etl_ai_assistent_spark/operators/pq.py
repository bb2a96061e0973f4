"""Product quantization (PQ) for vector-store compression + fast ANN.

The similarity family's compression ladder: exact float (similarity.py)
→ int8 scalar quantization (q_int8_quantize) → PQ, which cuts a D-dim
vector into M subvectors and replaces each with the id of its nearest
codebook centroid — D floats become M small ints (here 64 dims → 4
bytes/vector at M=4, a 64x compression) while distances remain
approximable via ADC (asymmetric distance computation: the query stays
exact; each candidate's distance is the sum of M table lookups).

Built ENTIRELY on the integer lattice (operators/kmeans.py): codebooks
are trained by the deterministic integer Lloyd's per subspace, encoding
is the same packed-bigint argmin, and ADC scores are exact integer sums
of per-subspace squared distances — so training, encoding, and scoring
are bit-reproducible on any partitioning (the property float PQ lacks).

Scale shape: training runs M independent k-means over subvector slices
(each bounded like kmeans.lloyd); encoding is one K-row broadcast per
subspace over the corpus scan; ADC scoring broadcasts the M·K lookup
table built from ONE query vector and never shuffles the encoded
corpus (codes-sized rows, not float vectors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from . import kmeans as KM


def subvectors(vectors: DataFrame, m: int, dim: int) -> list[DataFrame]:
    """Split (vec_id, qv ARRAY<BIGINT>) into m (vec_id, qv) slices.
    Slice widths are equal; dim must divide m evenly (explicit error
    beats silent ragged subspaces). ``dim`` is the caller-declared
    vector width — taking it as a parameter keeps index CONSTRUCTION
    free of driver-side Spark jobs (probing the width with `.first()`
    would cost one job per subvectors call). Lazy enforcement is
    ASYMMETRIC: a NARROWER array yields short slices → loud
    codebook/encode size mismatch; a WIDER array is silently truncated
    to `dim` by F.slice — acceptable only because every call site
    passes the shared DIM constant (tests/test_pq.py pins the
    truncation behavior so a drift here is caught)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    w = dim // m
    return [
        vectors.select(
            "vec_id", F.slice("qv", i * w + 1, w).alias("qv")
        )
        for i in range(m)
    ]


def train_codebooks(
    vectors: DataFrame, m: int = 4, k: int = 8, iters: int = 3, *, dim: int
) -> list[DataFrame]:
    """Per-subspace codebooks via integer Lloyd's: list of m (cid, cv)
    DataFrames, each k rows. No driver-side Spark action happens before
    the terminal K-row collects inside each Lloyd iteration."""
    return [
        KM.lloyd(sub, k=k, iters=iters)[1]
        for sub in subvectors(vectors, m, dim)
    ]


def argmin_code_sql(vec_sql: str, cb_rows_one: list) -> str:
    """Nearest-centroid id for one subspace slice against DRIVER-
    RESIDENT codebook rows [(cid, cv), ...], as a PURE EXPRESSION:
    least over k of dist2(vec, cv)·PACK + cid, then % PACK. The packed
    form is bit-identical to KM.assign's min() (least ≡ min on
    bigints; distance ties break on the lower cid) but needs NO
    crossJoin, NO groupBy shuffle, and NO per-subspace join — the
    whole argmin runs inside the row's codegen stage. Requires
    cid < KM.PACK (the same bound KM.lloyd enforces)."""
    if any(int(cid) >= KM.PACK for cid, _ in cb_rows_one):
        raise ValueError(f"centroid id >= packing base {KM.PACK}")
    packed = [
        f"({V.dist2_sql(vec_sql, cv)} * {KM.PACK} + {int(cid)})"
        for cid, cv in cb_rows_one
    ]
    inner = packed[0] if len(packed) == 1 else (
        "least(" + ", ".join(packed) + ")"
    )
    return f"CAST(({inner}) % {KM.PACK} AS BIGINT)"


def encode_rows(
    vectors: DataFrame, cb_rows: list[list], *, dim: int
) -> DataFrame:
    """PQ codes (vec_id, code_0 .. code_{m-1}) from DRIVER-RESIDENT
    codebook rows (per-subspace [(cid, cv), ...] — what the on-disk
    ANN store serves): all m argmins in ONE projection over the vector
    scan, zero exchanges. Each code is the nearest centroid id in its
    subspace, ties on the lower id — the same answer as KM.assign per
    subvector slice, pinned in tests/test_pq.py on every
    partitioning."""
    m = len(cb_rows)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    w = dim // m
    return vectors.select(
        "vec_id",
        *[
            F.expr(
                argmin_code_sql(f"slice(qv, {i * w + 1}, {w})", fam)
            ).alias(f"code_{i}")
            for i, fam in enumerate(cb_rows)
        ],
    )


def adc_table_rows(query_qv: list[int], cb_rows: list[list]) -> list[dict]:
    """Per-subspace lookup tables for ONE quantized query vector from
    DRIVER-RESIDENT codebook rows (per-subspace [(cid, cv), ...] lists,
    e.g. read off the on-disk ANN store): m dicts {centroid_id: exact
    integer squared distance to the query's subvector}. K·m integers,
    zero Spark jobs."""
    m = len(cb_rows)
    w = len(query_qv) // m
    return [
        {
            int(cid): sum(
                (a - b) * (a - b)
                for a, b in zip(query_qv[i * w : (i + 1) * w], cv)
            )
            for cid, cv in cb_rows[i]
        }
        for i in range(m)
    ]


def adc_topk(
    codes: DataFrame, tables: list[dict], k: int = 10
) -> DataFrame:
    """ADC top-k: approximate distance = Σ_i table_i[code_i], computed
    as ONE expression of M inlined map-literal lookups over the codes
    table (no floats, no shuffle of vectors — one codes scan +
    TakeOrderedAndProject). Keys and values are BIGINT literals, so the
    M-term sum is 64-bit. Ties break on vec_id."""
    lookups = " + ".join(
        "map("
        + ", ".join(
            f"{V.literal_sql(int(c))}, {V.literal_sql(int(d))}"
            for c, d in tbl.items()
        )
        + f")[code_{i}]"
        for i, tbl in enumerate(tables)
    )
    return (
        codes.select(
            "vec_id", F.expr(f"CAST({lookups} AS BIGINT)").alias("adc_dist")
        )
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(k)
    )


def codebook_table(codebooks: list[DataFrame]) -> DataFrame:
    """The M per-subspace codebooks as ONE (subspace, cid, cv)
    DataFrame, so probe-table construction is a single equi-join on
    subspace instead of M separate crossJoin branches — M× fewer plan
    nodes per serving batch (the other half of the r11 verdict #6
    per-trigger fixed cost)."""
    out = None
    for i, cb in enumerate(codebooks):
        t = cb.select(F.lit(i).cast("int").alias("subspace"), "cid", "cv")
        out = t if out is None else out.unionByName(t)
    return out


def probe_tables_flat(
    queries: DataFrame, cb_table: DataFrame, *, m: int, dim: int
) -> DataFrame:
    """Every probe's per-subspace lookup table as one DataFrame,
    (query_id, subspace, cid, d), with no driver collect: explode each
    probe into its m subspace slices (one generator, not m plan
    branches), equi-join the broadcast (subspace, cid, cv) table, and
    score. |probes|·M·K rows, one join regardless of m."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    w = dim // m
    sliced = queries.select(
        F.col("vec_id").alias("query_id"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {m - 1}), i ->"
                f" struct(cast(i AS int) AS subspace,"
                f" slice(qv, i * {w} + 1, {w}) AS qslice))"
            )
        ).alias("s"),
    ).select("query_id", "s.subspace", "s.qslice")
    return sliced.join(F.broadcast(cb_table), "subspace").select(
        "query_id",
        "subspace",
        "cid",
        V.dist2("qslice", "cv").alias("d"),
    )


# ADC lookup-map serving (r13). A melted join form — codes unpivoted to
# (vec_id, subspace, cid), joined to the probe tables, re-summed by a
# groupBy — expands the scored relation to |corpus|·M·|batch| rows
# before the aggregate collapses them. The map form folds each probe's
# M·K lookup entries into ONE broadcastable MAP column and computes the
# ADC sum ROW-LOCALLY over the un-melted codes: the intermediate is
# |corpus|·|batch| rows, no melt, no groupBy — only the per-probe top-k
# window still shuffles. Values are exact bigint sums (element_at on
# keys that are always present — codes' cids come from argmin over the
# same codebooks the tables enumerate), pinned equal to single-probe
# adc_topk in tests/test_pq.py.

ADC_KEY_SPAN = 1 << 32  # map key = subspace * SPAN + cid; cid << SPAN


def probe_lookup_maps(tables: DataFrame) -> DataFrame:
    """(query_id, tbl) — each probe's (subspace, cid) → d lookup
    entries folded into one MAP<BIGINT,BIGINT> keyed
    subspace·SPAN + cid. |probes| rows of M·K entries each:
    broadcast-trivial for a serving batch."""
    key = (
        F.col("subspace").cast("bigint") * F.lit(ADC_KEY_SPAN)
        + F.col("cid").cast("bigint")
    )
    return tables.groupBy("query_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(key.alias("k"), F.col("d").alias("v")))
        ).alias("tbl")
    )


def adc_topk_multi_maps(
    codes: DataFrame, maps: DataFrame, m: int, k: int = 10
) -> DataFrame:
    """Batch ADC serving from un-melted codes and per-probe lookup
    maps: one broadcast nested-loop attach of the |batch| map rows,
    a row-local M-term sum, then the per-probe top-k window:
    (query_id, vec_id, adc_dist, rnk), ties on vec_id — per probe the
    same rows as single-probe adc_topk."""
    dist = None
    for i in range(m):
        term = F.element_at(
            F.col("tbl"),
            F.lit(i * ADC_KEY_SPAN) + F.col(f"code_{i}").cast("bigint"),
        )
        dist = term if dist is None else dist + term
    scored = codes.crossJoin(F.broadcast(maps)).select(
        "query_id", "vec_id", dist.cast("bigint").alias("adc_dist")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "adc_dist", "rnk")
    )
