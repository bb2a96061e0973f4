"""functions/vector.py builds vector math as one SQL expression.

Two properties are pinned here:
- building a request plan costs a bounded number of py4j round trips,
  the same at dim 8 as at dim 1024 (a per-element ``F.lit`` would make
  it grow with the dimension);
- inlined constants keep their exact bits, so cosine and dist2 equal a
  NumPy left-to-right fold bit for bit, and non-finite query components
  give what the ``F.array(F.lit(...))`` form gave.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from py4j import protocol as proto
from pyspark.sql import functions as F

from etl_ai_assistent_spark.functions import vector as V
from etl_ai_assistent_spark.operators import pq as PQ
from etl_ai_assistent_spark.operators import similarity as S

# py4j commands allowed to build one request plan. The four request
# plans below measured 23 to 105 on Spark 4.1, at any vector width; one F.lit
# costs 3, so a per-element literal array at dim 64 alone exceeds this.
MAX_ROUND_TRIPS = 128
SPECIALS = [0.0, -0.0, 5e-324, 1.7976931348623157e308, 1e-5]


def _bits(x: float) -> int:
    return struct.unpack("<q", struct.pack("<d", x))[0]


def _same(a: float, b: float) -> bool:
    """Bit-identical doubles; any NaN equals any NaN (the JVM and NumPy
    may disagree on the NaN payload, never on NaN-ness)."""
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return _bits(a) == _bits(b)


def _fold_dot(a, b) -> float:
    acc = np.float64(0.0)
    for x, y in zip(a, b):
        acc = acc + np.float64(x) * np.float64(y)
    return float(acc)


def _fold_cosine(a, b) -> float:
    with np.errstate(all="ignore"):
        return float(
            np.float64(_fold_dot(a, b))
            / (np.sqrt(np.float64(_fold_dot(a, a))) * np.sqrt(np.float64(_fold_dot(b, b))))
        )


class _RoundTrips:
    """Counts the py4j commands sent to the JVM while active, leaving out
    the memory-release commands Python's garbage collector sends for
    dead JavaObjects at times of its own choosing."""

    def __init__(self, spark, monkeypatch):
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        self.n = 0

        def counting(command, *args, **kwargs):
            if not command.startswith(proto.MEMORY_COMMAND_NAME):
                self.n += 1
            return send(command, *args, **kwargs)

        monkeypatch.setattr(client, "send_command", counting)

    def measure(self, build) -> int:
        before = self.n
        build()
        return self.n - before


def _request_plans(spark, dim: int, rng) -> dict:
    items = spark.createDataFrame(
        [(0, 0, [0.5] * dim)], "vec_id bigint, label int, embedding array<float>"
    )
    cents = spark.createDataFrame(
        [(0, [0.5] * dim)], "label int, centroid array<double>"
    )
    codes = spark.createDataFrame(
        [(0, 1, 2, 3, 4)],
        "vec_id bigint, code_0 bigint, code_1 bigint, code_2 bigint, code_3 bigint",
    )
    qv = [int(x) for x in rng.integers(0, 2000, dim)]
    cb_rows = [
        [(cid, [int(x) for x in rng.integers(0, 2000, dim // 4)]) for cid in range(8)]
        for _ in range(4)
    ]
    q = [float(x) for x in rng.standard_normal(dim)]
    ints = spark.createDataFrame([(0, qv)], "vec_id bigint, qv array<bigint>")
    return {
        "topk_cosine": lambda: S.topk_cosine(items, q),
        "ivf_topk": lambda: S.ivf_topk(items, q, cents=cents),
        "adc_topk": lambda: PQ.adc_topk(codes, PQ.adc_table_rows(qv, cb_rows)),
        "dist2": lambda: ints.select("vec_id", V.dist2("qv", qv).alias("d")),
    }


def test_request_plans_build_in_constant_round_trips(spark, monkeypatch):
    rng = np.random.default_rng(3)
    plans = {dim: _request_plans(spark, dim, rng) for dim in (8, 1024)}
    for bs in plans.values():
        for build in bs.values():
            build()  # first use resolves JVM classes and caches schemas
    rt = _RoundTrips(spark, monkeypatch)
    counts = {
        dim: {name: rt.measure(build) for name, build in bs.items()}
        for dim, bs in plans.items()
    }
    assert counts[8] == counts[1024], counts
    assert max(counts[1024].values()) <= MAX_ROUND_TRIPS, counts


def test_double_literals_keep_their_bits(spark):
    rng = np.random.default_rng(11)
    raw = rng.integers(-(2**63), 2**63 - 1, 6000, dtype=np.int64).view(np.float64)
    values = SPECIALS + [float(x) for x in raw if np.isfinite(x)][:4000]
    arr = "array(" + ", ".join(V.literal_sql(x) for x in values) + ")"
    got = spark.range(1).select(F.expr(arr).alias("a")).collect()[0]["a"]
    assert len(got) == len(values)
    bad = [(x, y) for x, y in zip(values, got) if _bits(x) != _bits(y)]
    assert not bad, bad[:5]


def test_cosine_and_dist2_equal_numpy_fold(spark):
    rng = np.random.default_rng(7)
    dim = 16

    def vec():
        return [
            float(x)
            for x in rng.standard_normal(dim) * 10.0 ** rng.integers(-3, 4, dim)
        ]

    rows = [vec() for _ in range(250)]
    queries = [vec() for _ in range(10)]
    for s in SPECIALS:
        q = vec()
        q[3] = s
        queries.append(q)
    df = spark.createDataFrame(
        list(enumerate(rows)), "vec_id bigint, v array<double>"
    )
    got = df.select(
        "vec_id", *[V.cosine("v", q).alias(f"c{j}") for j, q in enumerate(queries)]
    ).collect()
    mismatches = [
        (r["vec_id"], j)
        for r in got
        for j, q in enumerate(queries)
        if not _same(r[f"c{j}"], _fold_cosine(rows[r["vec_id"]], q))
    ]
    assert not mismatches, mismatches[:5]

    ints = [[int(x) for x in rng.integers(-(10**6), 10**6, dim)] for _ in range(50)]
    qi = [int(x) for x in rng.integers(-(10**6), 10**6, dim)]
    idf = spark.createDataFrame(
        list(enumerate(ints)), "vec_id bigint, qv array<bigint>"
    )
    for r in idf.select("vec_id", V.dist2("qv", qi).alias("d")).collect():
        acc = np.int64(0)
        for x, y in zip(ints[r["vec_id"]], qi):
            acc = acc + (np.int64(x) - np.int64(y)) * (np.int64(x) - np.int64(y))
        assert r["d"] == int(acc)


@pytest.mark.parametrize("special", [math.nan, math.inf, -math.inf])
def test_non_finite_query_matches_lit_array_form(spark, special):
    """The deleted Column form: a query as F.array(F.lit(...)) cast to
    DOUBLE, scored with Python-lambda zip_with/aggregate."""

    def lambda_dot(a, b):
        prod = F.zip_with(a, b, lambda x, y: x * y)
        return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)

    rng = np.random.default_rng(5)
    q = [float(x) for x in rng.standard_normal(8)]
    q[2] = special
    rows = [[float(x) for x in rng.standard_normal(8)] for _ in range(5)]
    rows.append([0.0] * 8)
    df = spark.createDataFrame(list(enumerate(rows)), "vec_id bigint, v array<float>")
    v = F.col("v").cast("array<double>")
    qlit = F.array(*[F.lit(x) for x in q]).cast("array<double>")
    old = lambda_dot(v, qlit) / (
        F.sqrt(lambda_dot(v, v)) * F.sqrt(lambda_dot(qlit, qlit))
    )
    got = df.select(
        "vec_id", old.alias("old"), V.cosine("v", q).alias("new")
    ).collect()
    assert all(_same(r["old"], r["new"]) for r in got), got


def test_column_operand_is_rejected(spark):
    with pytest.raises(TypeError, match="not a Column"):
        V.cosine(F.col("v"), [1.0, 2.0])
