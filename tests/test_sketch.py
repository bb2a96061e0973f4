"""Sketch-operator invariants (operators/sketch.py): HLL mergeability
and accuracy, count-min never-undercount. The bit-level Spark↔DuckDB
parity of both sketches is covered by q_hll_*/q_countmin_heavy in
test_parity.py; these tests pin the *algorithmic* properties the parity
gate can't express."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_ai_assistent_spark import io
from etl_ai_assistent_spark.functions import text as TX
from etl_ai_assistent_spark.operators import sketch as SK


def test_hll_registers_merge(spark, sf_small):
    """Unioning two halves' register tables and re-maxing gives exactly
    the whole corpus's register table — the mergeability that lets
    per-day/per-partition sketches roll up without touching raw keys."""
    orders = io.load_table(spark, sf_small, "orders").select(
        F.lit("all").alias("g"), "o_custkey"
    )
    whole = SK.hll_registers(orders, "o_custkey", ["g"])
    lo = SK.hll_registers(orders.filter("o_custkey % 2 = 0"), "o_custkey", ["g"])
    hi = SK.hll_registers(orders.filter("o_custkey % 2 = 1"), "o_custkey", ["g"])
    merged = (
        lo.unionByName(hi)
        .groupBy("g", "register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_hll_estimate_accuracy(spark, sf_small):
    """HLL with m=256 has stderr ~1.04/sqrt(256) = 6.5%. sf0.001's 150
    distinct custkeys sit in the small-range regime where raw HLL
    over-biases (~1.8x here) and the linear-counting switch is the
    standard fix — applied here from the emitted `filled` count, the
    corrected estimate must land inside 4 sigma. (A hash or rho bug
    blows this out by orders of magnitude.)"""
    orders = io.load_table(spark, sf_small, "orders").select(
        F.lit("all").alias("g"), "o_custkey"
    )
    regs = SK.hll_registers(orders, "o_custkey", ["g"])
    row = SK.hll_estimate(regs, ["g"]).collect()[0]
    est, empties = row["hll_estimate"], SK.HLL_M - row["filled"]
    if est <= 2.5 * SK.HLL_M and empties > 0:
        est = SK.HLL_M * math.log(SK.HLL_M / empties)
    exact = orders.select("o_custkey").distinct().count()
    assert abs(est - exact) / exact < 0.26, (est, exact)


def test_cms_never_undercounts(spark, sf_small):
    """CMS point estimates are >= the exact count for every token, and
    equal for tokens whose cells see no collisions."""
    docs = io.load_table(spark, sf_small, "documents")
    tokens = docs.select(F.explode(TX.tokens("text")).alias("token"))
    grid = SK.cms_build(tokens, "token")
    exact = tokens.groupBy("token").agg(F.count("*").cast("bigint").alias("n"))
    est = SK.cms_point_estimates(grid, exact, "token")
    rows = est.join(exact, "token").collect()
    assert rows
    assert all(r["cms_est"] >= r["n"] for r in rows)
    # grid total mass == token count (each token increments d cells)
    total = grid.agg(F.sum("cnt")).collect()[0][0]
    assert total == tokens.count() * SK.CMS_DEPTH


def test_hll_shuffle_is_register_bounded(spark, sf_small):
    """The estimate plan aggregates registers, never raw keys: the
    register table row count is hard-capped at m per group."""
    orders = io.load_table(spark, sf_small, "orders").select(
        F.lit("all").alias("g"), "o_custkey"
    )
    regs = SK.hll_registers(orders, "o_custkey", ["g"])
    assert regs.count() <= SK.HLL_M
    # partial aggregation (map-side combine) present in the plan
    plan = regs._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan.lower() or "HashAggregate" in plan, plan


def test_hll_merge_equals_direct_sketch(spark, sf_small):
    """Mergeability — the defining sketch property: nation-grain
    register tables re-maxed up to region grain must equal the sketch
    built directly at region grain (max is associative), so any rollup
    hierarchy can be answered from the finest-grain sketch store
    without re-reading keys (q_hll_merge_rollup's basis)."""
    from pyspark.sql import functions as F

    cust = io.load_table(spark, sf_small, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = io.load_table(spark, sf_small, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    with_region = cust.join(
        nation, cust.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "n_regionkey")

    direct = SK.hll_registers(with_region, "c_custkey", ["n_regionkey"])
    merged = (
        SK.hll_registers(cust, "c_custkey", ["c_nationkey"])
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_regionkey", "register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    assert direct.exceptAll(merged).count() == 0
    assert merged.exceptAll(direct).count() == 0
