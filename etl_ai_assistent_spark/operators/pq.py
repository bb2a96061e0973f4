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


def encode(
    vectors: DataFrame, codebooks: list[DataFrame], *, dim: int
) -> DataFrame:
    """PQ codes: (vec_id, code_0 .. code_{m-1}) — each the nearest
    centroid id in that subspace (packed-bigint argmin, deterministic
    tie-break on centroid id)."""
    m = len(codebooks)
    out = None
    for i, (sub, cb) in enumerate(zip(subvectors(vectors, m, dim), codebooks)):
        a = KM.assign(sub, cb).select(
            "vec_id", F.col("cluster").alias(f"code_{i}")
        )
        out = a if out is None else out.join(a, "vec_id")
    return out


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
    """PQ codes from DRIVER-RESIDENT codebook rows (per-subspace
    [(cid, cv), ...] — what the on-disk ANN store serves): all m
    argmins in ONE projection over the vector scan. encode() with
    codebook DataFrames costs m broadcast crossJoins + m packed-min
    shuffles + (m-1) vec_id equi-joins to reassemble the code row
    (16 Exchange nodes at m=4, r13 measured on q_ann_delta_encode);
    this is the same integer arithmetic with ZERO exchanges — one
    narrow map over the scan. tests/test_pq.py pins encode_rows ==
    encode on every partitioning."""
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


def adc_table(query_qv: list[int], codebooks: list[DataFrame]) -> list[dict]:
    """Per-subspace lookup tables for ONE quantized query vector:
    m dicts {centroid_id: exact integer squared distance to the query's
    subvector}. K·m integers — broadcast-trivial at any corpus size."""
    m = len(codebooks)
    w = len(query_qv) // m
    tables = []
    for i, cb in enumerate(codebooks):
        qsub = query_qv[i * w : (i + 1) * w]
        rows = cb.collect()  # K rows — bounded
        tables.append(
            {
                int(r["cid"]): sum(
                    (a - b) * (a - b) for a, b in zip(qsub, r["cv"])
                )
                for r in rows
            }
        )
    return tables


def adc_table_rows(query_qv: list[int], cb_rows: list[list]) -> list[dict]:
    """adc_table from DRIVER-RESIDENT codebook rows (per-subspace
    [(cid, cv), ...] lists, e.g. read off the on-disk ANN store with a
    DuckDB footer-indexed read) — the same m dicts with zero Spark
    jobs. adc_table pays one collect per subspace (~0.7 s of job
    overhead each on a fresh app), which is exactly the per-app cost
    the disk store exists to eliminate; tests pin the two equal."""
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


def probe_tables(
    queries: DataFrame, codebooks: list[DataFrame], *, dim: int
) -> DataFrame:
    """adc_table()'s MULTI-QUERY generalization with no driver collect:
    (query_id, subspace, cid, d) — every probe's per-subspace lookup
    table as one DataFrame, built by cross-joining each probe-slice
    against its K-row broadcast codebook. |probes|·M·K rows: still
    broadcast-trivial for a serving batch, but produced entirely on
    executors, so a million-probe batch scales out instead of looping
    on the driver."""
    m = len(codebooks)
    out = None
    for i, (sub, cb) in enumerate(zip(subvectors(queries, m, dim), codebooks)):
        t = (
            sub.withColumnRenamed("vec_id", "query_id")
            .crossJoin(F.broadcast(cb))
            .select(
                "query_id",
                F.lit(i).cast("int").alias("subspace"),
                "cid",
                V.dist2("qv", "cv").alias("d"),
            )
        )
        out = t if out is None else out.unionByName(t)
    return out


def melt_codes(codes: DataFrame, m: int) -> DataFrame:
    """The codes table unpivoted to (vec_id, subspace, cid) via stack
    (codegen). Split out of adc_topk_multi so a SERVING loop (the
    streaming ANN lookup's foreachBatch) can build it ONCE, persist
    it, and pay only the probe join per trigger — the melt is the
    corpus-sized, batch-independent half of the ADC plan (r11 verdict
    #6: per-trigger cost was dominated by re-running this fixed
    machinery for every micro-batch)."""
    pairs = ", ".join(f"{i}, code_{i}" for i in range(m))
    return codes.select(
        "vec_id",
        F.expr(f"stack({m}, {pairs}) AS (subspace, cid)"),
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
    """probe_tables with a PRE-MERGED codebook table: explode each
    probe into its m subspace slices (one generator, not m plan
    branches), equi-join the broadcast (subspace, cid, cv) table, and
    score. Same (query_id, subspace, cid, d) contract as
    probe_tables; one join regardless of m."""
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


def adc_topk_multi(
    codes: DataFrame, tables: DataFrame, m: int, k: int = 10
) -> DataFrame:
    """Batch ADC serving: top-k per probe from the codes table and a
    broadcast probe-table DataFrame. The codes unpivot to
    (vec_id, subspace, cid) via stack (codegen), one broadcast
    equi-join attaches each probe's subspace distance, a partial-agg'd
    groupBy sums the M lookups, and a per-query window takes top-k
    (ties on vec_id). The corpus never shuffles wider than
    (query_id, vec_id) pairs that survive the join — M rows per
    (probe, vector), no floats, no per-query driver work (contrast
    adc_topk's single-probe map literal)."""
    return adc_topk_multi_melted(melt_codes(codes, m), tables, k=k)


def adc_topk_multi_melted(
    melted: DataFrame, tables: DataFrame, k: int = 10
) -> DataFrame:
    """adc_topk_multi from a pre-melted (vec_id, subspace, cid) codes
    table — the serving-loop entry point that lets the melt be built
    once and cached across triggers."""
    scored = (
        melted.join(F.broadcast(tables), ["subspace", "cid"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").cast("bigint").alias("adc_dist"))
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


# ADC lookup-map serving (r13). The melted join form above expands the
# scored relation to |corpus|·M·|batch| rows BEFORE the hash aggregate
# re-collapses them — M join-output rows plus an aggregation buffer per
# (probe, vector). The map form folds each probe's M·K lookup entries
# into ONE broadcastable MAP column and computes the ADC sum ROW-
# LOCALLY over the un-melted codes: the intermediate is |corpus|·|batch|
# rows, no melt, no groupBy — only the per-probe top-k window still
# shuffles. Values are the same exact bigint sums (element_at on keys
# that are always present — codes' cids come from argmin over the same
# codebooks the tables enumerate), pinned equal to the join form in
# tests/test_pq.py.

ADC_KEY_SPAN = 1 << 32  # map key = subspace * SPAN + cid; cid << SPAN


def probe_lookup_maps(tables: DataFrame) -> DataFrame:
    """(query_id, tbl) — each probe's (subspace, cid) → d lookup
    entries folded into one MAP<BIGINT,BIGINT> keyed
    subspace·SPAN + cid. |probes| rows of M·K entries each:
    broadcast-trivial for a serving batch (same budget as the melted
    form's broadcast of the raw tables)."""
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
    a row-local M-term sum, then the per-probe top-k window. Same
    (query_id, vec_id, adc_dist, rnk) contract and bit-identical
    values as adc_topk_multi."""
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
