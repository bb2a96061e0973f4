"""bench.measure: every benched query gets its traced layers, and a
measurement failure never costs the query its timing."""

from __future__ import annotations

import functools

import pytest

import bench
from docbench import trace
from etl_ai_assistent_spark.registry import queries

QUERIES = ("q_pricing_summary", "q_revenue_by_nation")
LAYER_KEYS = {
    "builder.s", "builder.jobs", "plan.s", "exec.s", "exec.stages",
    "exec.tasks", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.input_bytes", "plan.exchanges", "plan.smj", "plan.bhj",
    "run.stages", "run.tasks", "run.shuffle_write_bytes", "run.spill_bytes",
    "run.input_bytes",
}


@pytest.fixture
def builders(spark, sf_small, monkeypatch):
    # the quiet gate waits on the host's CPU, not on this code
    monkeypatch.setattr(bench, "_quiet_gate", lambda: 0.0)
    qs = queries()
    return {n: functools.partial(qs[n], spark, sf_small) for n in QUERIES}


def test_every_query_carries_layers(spark, builders):
    m = bench.measure(spark, builders, runs=2)
    assert m["errors"] == {}
    assert set(m["queries"]) == set(QUERIES)
    for n in QUERIES:
        layers = m["layers"][n]
        assert LAYER_KEYS <= set(layers)
        assert 1 <= layers["exec.stages"] <= layers["run.stages"]
        for k, v in layers.items():
            assert isinstance(v, float if k.endswith(".s") else int), (k, v)
        assert m["queries"][n] > 0 and m["runs_actual"][n] >= 2


def test_builder_shuffle_is_in_the_run_totals(spark, monkeypatch):
    monkeypatch.setattr(bench, "_quiet_gate", lambda: 0.0)

    def eager():
        # a builder that runs its own shuffle job before returning
        keys = spark.range(2000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        return spark.range(len(keys))

    m = bench.measure(spark, {"q_eager": eager}, runs=1)
    layers = m["layers"]["q_eager"]
    assert layers["builder.jobs"] >= 1
    assert layers["exec.shuffle_write_bytes"] == 0
    assert layers["run.shuffle_write_bytes"] > 0
    assert layers["run.stages"] > layers["exec.stages"]


def test_tracer_failure_keeps_the_timing(spark, builders, monkeypatch):
    def boom(_spark):
        raise RuntimeError("status store unavailable")

    monkeypatch.setattr(trace, "stage_watermark", boom)
    m = bench.measure(spark, builders, runs=2)
    assert m["errors"] == {}
    assert m["layers"] == {}
    for n in QUERIES:
        assert m["queries"][n] > 0


def test_broken_builder_is_an_error(spark, builders):
    def broken():
        raise ValueError("no such table")

    m = bench.measure(spark, {"q_broken": broken, **builders}, runs=1)
    assert m["errors"] == {"q_broken": "ValueError: no such table"}
    assert "q_broken" not in m["queries"] and "q_broken" not in m["layers"]
    assert set(m["layers"]) == set(QUERIES)
