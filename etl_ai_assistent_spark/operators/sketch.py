"""Distributed sketches (100 TB posture; training-pipeline staples).

Approximate distinct counting (HyperLogLog) and frequency estimation
(count-min) re-built on DETERMINISTIC md5-derived hashes so both engines
— Spark and the DuckDB oracle — compute bit-identical sketch state.
Spark's own ``approx_count_distinct`` / ``count_min_sketch`` use private
seeds and binary outputs, so they can't be cross-checked; these
operators trade their constant factors for verifiability while keeping
the exact distributed shape:

- HLL: one narrow map (hash → register/rho) then ``groupBy(register)
  .max(rho)`` — partial-max combines map-side, the shuffle carries at
  most ``m`` rows per group (m=256 here, i.e. KILOBYTES per group at any
  input scale). The classic "count distinct over 100 TB without
  shuffling the keys" plan.
- Count-min: token stream → d×w counter grid via ``groupBy(row, col)
  .count()`` — again partial-agg'd map-side, shuffle bounded by d·w
  cells, never by corpus size. Point estimates then read the d cells of
  a candidate key and take the min.

Float discipline: every 2^-rho term is an exact power of two in
[2^-33, 2^-1]; any partial sum of ≤256 such terms (plus integer counts
of empty registers) fits in a double's 53-bit mantissa, so the register
sum is EXACT and order-independent — no fold-order tricks needed. The
single alpha·m²/S division is performed identically on both engines
from one shared float literal (ALPHA_256 below).

Reference parity: the reference has no sketches (its corpus is n=6
documents: scripts/services/*); these are the scale extensions
SURVEY.md §2.6 ● claims for cardinality/frequency profiling of training
corpora.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import md5_bucket

# m = 2^8 registers: register index from the first 2 md5 hex chars, the
# rho slice from the next 8 (a 32-bit window, so rho ∈ [1, 33]).
HLL_M = 256
# Standard HLL bias constant alpha_m for m=256 — ONE float literal
# shared by the Spark expression and the SQL oracle so the final
# division is bit-identical.
ALPHA_256 = 0.7213 / (1.0 + 1.079 / 256.0)


def _md5_slice_int(h: Column, start: int, length: int) -> Column:
    """Integer value of md5-hex substring [start, start+length) of one
    digest: HLL reads two slices of the same md5, so it cannot go
    through functions.md5_bucket (always the first 8 digits). DuckDB
    twin: the slices inside hll_register_rho_sql."""
    return F.conv(F.substring(h, start, length), 16, 10).cast("bigint")


# DuckDB twins of the HLL rules, for the oracles: the key hash and the
# (register, rho) pair of hll_register_rho, and the estimate of
# hll_estimate.


def hll_hash_sql(x: str) -> str:
    """The md5 hex digest hll_register_rho hashes a key to, over the
    SQL expression `x`."""
    return f"md5('hll|' || CAST({x} AS VARCHAR))"


def hll_register_rho_sql(h: str) -> str:
    """`register` and `rho` select items over the digest column `h`
    (an hll_hash_sql value)."""
    w = f"CAST(('0x' || substr({h}, 3, 8)) AS BIGINT)"
    return (
        f"CAST(CAST(('0x' || substr({h}, 1, 2)) AS BIGINT) AS INT) AS register,"
        f" CAST(CASE WHEN {w} = 0 THEN 33 ELSE 33 - length(bin({w}))"
        " END AS INT) AS rho"
    )


def hll_estimate_sql(max_rho: str) -> str:
    """The raw estimate hll_estimate computes, as an aggregate over the
    register rows of one group, `max_rho` naming their rho column."""
    return (
        f"round(CAST({ALPHA_256!r} AS DOUBLE) * {float(HLL_M * HLL_M)!r} /"
        f" (sum(1.0 / CAST(CAST(1 AS BIGINT) << {max_rho} AS DOUBLE))"
        f" + ({HLL_M} - count(*)) * 1.0), 6)"
    )


def hll_register_rho(key: Column) -> tuple[Column, Column]:
    """(register, rho) for one key: register = first-byte bucket in
    [0, 256); rho = 1 + leading zeros of the following 32-bit hash
    slice. ``conv(hex, 16, 2)`` yields the minimal binary string (same
    contract as DuckDB's bin()), so rho = 33 - length(bin); the all-zero
    slice (p = 2^-32 per key) maxes out at rho = 33 in both engines."""
    h = F.md5(F.concat(F.lit("hll|"), key.cast("string")))
    register = _md5_slice_int(h, 1, 2).cast("int")
    w = _md5_slice_int(h, 3, 8)
    bits = F.length(F.conv(F.substring(h, 3, 8), 16, 2))
    rho = F.when(w == 0, F.lit(33)).otherwise(F.lit(33) - bits).cast("int")
    return register, rho


def hll_registers(df: DataFrame, key: str, group_cols: list[str]) -> DataFrame:
    """Per-group HLL register table: (group..., register, max_rho).
    This IS the mergeable sketch state — unioning two register tables
    and re-maxing merges sketches, which is how per-partition /
    per-day sketches roll up without touching raw keys again."""
    register, rho = hll_register_rho(F.col(key))
    return (
        df.select(*group_cols, register.alias("register"), rho.alias("rho"))
        .groupBy(*group_cols, "register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Raw HLL estimate per group from a register table:
    E = alpha_m * m^2 / (sum(2^-max_rho) + empty_registers). Emitted
    rounded to 6 dp (the division is the only non-exact step and both
    engines perform it on identical inputs). ``filled`` (register count)
    rides along — it's the sketch's own saturation diagnostic, and all a
    reader needs for the small-range linear-counting switch (E <= 2.5m
    and empty registers exist → m*ln(m/empties)). The estimate stays
    RAW: ln() is the one transcendental whose last ulp java.lang.Math
    and libm may disagree on, and the verified corpus (~1300 distincts
    vs m=256) is in the raw regime anyway."""
    term = F.lit(1.0) / F.expr("shiftleft(cast(1 as bigint), max_rho)")
    return (
        registers.groupBy(*group_cols)
        .agg(
            F.count("*").cast("bigint").alias("filled"),
            F.sum(term).alias("_s_filled"),
        )
        .withColumn(
            "hll_estimate",
            F.round(
                F.lit(ALPHA_256)
                * F.lit(float(HLL_M * HLL_M))
                / (F.col("_s_filled") + (F.lit(HLL_M) - F.col("filled")) * F.lit(1.0)),
                6,
            ),
        )
        .drop("_s_filled")
    )


# --- count-min sketch -------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_build(tokens: DataFrame, token_col: str) -> DataFrame:
    """d×w count-min grid over a token stream: (row, col, cnt). Each
    token increments one cell per hash row; the groupBy partial-aggs
    map-side so the shuffle is bounded by d·w = 4096 cells regardless
    of corpus size."""
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                (md5_bucket(F.col(token_col), salt=f"cms{i}|") % CMS_WIDTH)
                .cast("int")
                .alias("col"),
            )
            for i in range(CMS_DEPTH)
        ]
    )
    return (
        tokens.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def cms_point_estimates(sketch: DataFrame, candidates: DataFrame, token_col: str) -> DataFrame:
    """CMS point estimate (min over the d cells) for each candidate
    token: one equi-join candidate×d rows against the 4096-cell sketch
    (broadcastable), then min per token. Estimates only ever
    OVER-count — est >= exact always, which the verified query asserts
    as a rode-along column."""
    probes = candidates.select(
        token_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        (md5_bucket(F.col(token_col), salt=f"cms{i}|") % CMS_WIDTH)
                        .cast("int")
                        .alias("col"),
                    )
                    for i in range(CMS_DEPTH)
                ]
            )
        ).alias("p"),
    ).select(token_col, F.col("p.row").alias("row"), F.col("p.col").alias("col"))
    return (
        probes.join(F.broadcast(sketch), ["row", "col"])
        .groupBy(token_col)
        .agg(F.min("cnt").alias("cms_est"))
    )
