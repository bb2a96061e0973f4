"""tools/merge_bench_passes.py: per-query minima across passes, and no
pass's own measurements presented as the merged artifact's."""

from __future__ import annotations

import importlib.util
import pathlib

_TOOL = pathlib.Path(__file__).resolve().parents[1] / "tools" / "merge_bench_passes.py"
_spec = importlib.util.spec_from_file_location("merge_bench_passes", _TOOL)
MB = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(MB)


def _pass(q_a: float, q_b: float, **fields) -> dict:
    return {
        "metric": "headline_query_total",
        "value": round(q_a + q_b, 3),
        "unit": "sec",
        "sf": 0.1,
        "queries": {"q_a": q_a, "q_b": q_b},
        "runs_min_mean_max": {"q_a": [q_a, q_a, q_a], "q_b": [q_b, q_b, q_b]},
        "cold": {"q_a": q_a * 2},
        "runs_actual": {"q_a": 3, "q_b": 3},
        "quiet": True,
        **fields,
    }


def test_pass_specific_fields_stay_per_pass():
    a = _pass(
        1.0, 4.0,
        reconciliation_vs_committed={"n_compared": 2, "flagged_over_2x": {}},
        storm_telemetry={"q_b": [{"sec": 4.0, "steal_pct": 9.0}]},
        max_query_stage_window={"q_b": 48},
        storm_residual={"q_b": True},
        cores=8,
    )
    b = _pass(
        2.0, 3.0,
        reconciliation_vs_committed={
            "n_compared": 2,
            "flagged_over_2x": {"q_a": {"sec": 2.0, "ratio": 2.5}},
        },
        max_query_stage_window={"q_a": 51},
        cores=32,
        commit="b",  # only pass B records this
    )
    merged = MB.merge({"A": a, "B": b})

    assert merged["queries"] == {"q_a": 1.0, "q_b": 3.0}
    assert merged["value"] == 4.0
    assert merged["merge_protocol"]["min_source_pass"] == {"q_a": "A", "q_b": "B"}
    # q_b's min came from B, which was not storm-flagged
    assert merged["quiet"] is True and "storm_residual" not in merged
    # fields every pass shares describe the run and stay top-level
    assert merged["sf"] == 0.1 and merged["metric"] == "headline_query_total"

    for key in (
        "reconciliation_vs_committed",
        "storm_telemetry",
        "max_query_stage_window",
        "cores",
    ):
        assert key not in merged, key
    passes = merged["merge_protocol"]["passes"]
    for tag, src in (("A", a), ("B", b)):
        for key in ("reconciliation_vs_committed", "max_query_stage_window", "cores"):
            assert passes[tag][key] == src[key], (tag, key)
    assert passes["A"]["storm_telemetry"] == a["storm_telemetry"]
    assert "storm_telemetry" not in passes["B"]
    assert "commit" not in merged and "commit" not in passes["A"]
    assert passes["B"]["commit"] == "b"


def test_per_pass_fields_never_top_level_even_when_equal():
    recon = {"n_compared": 2, "flagged_over_2x": {}}
    merged = MB.merge(
        {
            "A": _pass(1.0, 1.0, reconciliation_vs_committed=recon),
            "B": _pass(1.0, 1.0, reconciliation_vs_committed=recon),
        }
    )
    assert "reconciliation_vs_committed" not in merged
    assert merged["merge_protocol"]["passes"]["B"]["reconciliation_vs_committed"] == recon


def test_layers_come_from_each_minimums_pass():
    la = {"q_a": {"exec.s": 0.9, "exec.stages": 3}, "q_b": {"exec.s": 3.9, "exec.stages": 7}}
    lb = {"q_a": {"exec.s": 1.9, "exec.stages": 4}, "q_b": {"exec.s": 2.8, "exec.stages": 8}}
    merged = MB.merge({"A": _pass(1.0, 4.0, layers=la), "B": _pass(2.0, 3.0, layers=lb)})
    assert merged["merge_protocol"]["min_source_pass"] == {"q_a": "A", "q_b": "B"}
    assert merged["layers"] == {"q_a": la["q_a"], "q_b": lb["q_b"]}
    assert "layers" not in merged["merge_protocol"]["passes"]["A"]
