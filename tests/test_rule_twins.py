"""Each cross-engine rule's Column builder and DuckDB twin agree value for
value over fixed inputs: the md5-prefix hash (with and without salt),
integer cents (negative half-cent ties included), the HLL key hash,
register, rho and estimate, and the dot, cosine and integer squared-L2
folds. Whole-query parity checks the rules only through the queries
that happen to use them; this checks each pair directly."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_ai_assistent_spark.functions import (
    cents,
    cents_sql,
    md5_bucket,
    md5_bucket_sql,
)
from etl_ai_assistent_spark.functions import vector as V
from etl_ai_assistent_spark.operators import sketch as SK

TEXTS = ["", "a", "hello world", "ünïcode ✓", "0", "O'Brien", "x" * 300]
MONEY = [
    0.0, 0.005, -0.005, 0.125, -0.125, 0.5, -0.5, 1.005, -1.005, 2.675,
    -2.675, 19.99, -19.99, 123456.785, -123456.785, 1e-9, 99999999.995,
]


def _duck(sql: str, ddl: str, rows: list[tuple]) -> list[tuple]:
    with duckdb.connect() as con:
        con.execute(f"CREATE TABLE t ({ddl})")
        con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * len(rows[0]))})", rows)
        return sorted(con.execute(sql).fetchall())


def _spark(spark, df_cols, schema: str, rows: list[tuple]) -> list[tuple]:
    df = spark.createDataFrame(rows, schema)
    return sorted(tuple(r) for r in df.select(*df_cols).collect())


@pytest.mark.parametrize("salt", ["", "s|", "o'k|"])
def test_md5_bucket_twins(spark, salt):
    rows = [(i, t) for i, t in enumerate(TEXTS)]
    want = _spark(
        spark, ["i", md5_bucket(F.col("x"), salt=salt)], "i int, x string", rows
    )
    got = _duck(f"SELECT i, {md5_bucket_sql('x', salt=salt)} FROM t", "i INT, x VARCHAR", rows)
    assert got == want
    assert all(0 <= h < 2**32 for _, h in got)


def test_cents_twins(spark):
    rows = [(i, v) for i, v in enumerate(MONEY)]
    want = _spark(spark, ["i", cents("x")], "i int, x double", rows)
    got = _duck(f"SELECT i, {cents_sql('x')} FROM t", "i INT, x DOUBLE", rows)
    assert got == want
    by_value = dict(zip(MONEY, (c for _, c in got)))
    assert by_value[-0.125] == -12 and by_value[0.125] == 13


def test_hll_twins(spark):
    rows = [(k % 3, k) for k in range(2000)]
    register, rho = SK.hll_register_rho(F.col("k"))
    want = _spark(spark, ["g", "k", register, rho], "g int, k bigint", rows)
    got = _duck(
        f"SELECT g, k, {SK.hll_register_rho_sql('h')}"
        f" FROM (SELECT g, k, {SK.hll_hash_sql('k')} AS h FROM t)",
        "g INT, k BIGINT",
        rows,
    )
    assert got == want

    regs = SK.hll_registers(spark.createDataFrame(rows, "g int, k bigint"), "k", ["g"])
    want = sorted(
        tuple(r) for r in SK.hll_estimate(regs, ["g"]).select("g", "hll_estimate").collect()
    )
    got = _duck(
        f"SELECT g, {SK.hll_estimate_sql('max_rho')} FROM ("
        f"SELECT g, register, max(rho) AS max_rho FROM ("
        f"SELECT g, {SK.hll_register_rho_sql('h')}"
        f" FROM (SELECT g, {SK.hll_hash_sql('k')} AS h FROM t)) GROUP BY 1, 2)"
        " GROUP BY 1",
        "g INT, k BIGINT",
        rows,
    )
    assert got == want


def test_vector_fold_twins(spark):
    rng = np.random.default_rng(7)
    dim = 64
    rows = [
        (
            i,
            [float(x) for x in rng.standard_normal(dim).astype(np.float32)],
            [float(x) for x in rng.standard_normal(dim).astype(np.float32)],
            [int(x) for x in rng.integers(-3000, 3000, dim)],
            [int(x) for x in rng.integers(-3000, 3000, dim)],
        )
        for i in range(40)
    ]
    want = _spark(
        spark,
        ["i", V.dot("a", "b"), V.cosine("a", "b"), V.dist2("p", "q"), V.dist2("p", "q")],
        "i int, a array<float>, b array<float>, p array<bigint>, q array<bigint>",
        rows,
    )
    got = _duck(
        f"SELECT i, {V.dot_duckdb('a', 'b')}, {V.cosine_duckdb('a', 'b')},"
        f" {V.dist2_duckdb('p', 'q', dim)}, {V.dist2_duckdb('p', 'q', dim, var='j')}"
        " FROM t",
        "i INT, a FLOAT[], b FLOAT[], p BIGINT[], q BIGINT[]",
        rows,
    )
    assert got == want
