"""Merge per-query minima across full bench passes (the r12/r13
min-of-passes protocol): single-pass minima on this shared host embed
sub-threshold co-tenant pressure the storm probes cannot always flag,
so the committed BENCH_LOCAL.json is the per-query min across passes on
identical code, with a merge_protocol block recording both passes and
each minimum's source.

Usage: python tools/merge_bench_passes.py A=/tmp/BENCH_PASS_A.json B=/tmp/BENCH_PASS_B.json
Writes the merged artifact to BENCH_LOCAL.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# Measurements of one pass's run, never of the merged minima: kept per
# pass under merge_protocol.passes[tag], whatever their values.
PER_PASS = (
    "reconciliation_vs_committed",
    "storm_telemetry",
    "max_query_stage_window",
    "stage_window_warning",
    "errors",
)
# Recomputed from all passes below.
MERGED = {
    "queries", "value", "runs_min_mean_max", "cold", "runs_actual",
    "layers", "quiet", "storm_residual",
    "merge_protocol",
}


def merge(passes: dict[str, dict]) -> dict:
    """The merged artifact of full bench passes keyed by tag. A field
    that is neither merged nor in PER_PASS stays top-level only when
    every pass carries it with the same value (sf, runs per query, the
    embedded trend files); otherwise it is pass-specific metadata and
    moves under merge_protocol.passes[tag] with the PER_PASS fields."""
    first = passes[sorted(passes)[0]]
    other = {k for p in passes.values() for k in p} - MERGED
    shared = {
        k for k in other - set(PER_PASS)
        if k in first and all(k in p and p[k] == first[k] for p in passes.values())
    }
    base = {k: v for k, v in first.items() if k in shared}

    names = set()
    for p in passes.values():
        names |= set(p["queries"])
    queries, src, spread, cold, runs_actual, layers = {}, {}, {}, {}, {}, {}
    for n in sorted(names):
        cands = [(p["queries"][n], t) for t, p in passes.items() if n in p["queries"]]
        best, tag = min(cands)
        queries[n] = best
        src[n] = tag
        mins = [p["runs_min_mean_max"][n] for t, p in passes.items() if n in p.get("runs_min_mean_max", {})]
        if mins:
            spread[n] = [
                round(min(m[0] for m in mins), 3),
                round(sum(m[1] for m in mins) / len(mins), 3),
                round(max(m[2] for m in mins), 3),
            ]
        colds = [p["cold"][n] for p in passes.values() if n in p.get("cold", {})]
        if colds:
            cold[n] = round(min(colds), 3)
        ra = [p.get("runs_actual", {}).get(n) for p in passes.values()]
        ra = [x for x in ra if x]
        if ra:
            runs_actual[n] = max(ra)
        # layers describe the traced run of the pass that gave the min
        if n in passes[tag].get("layers", {}):
            layers[n] = passes[tag]["layers"][n]
    base["queries"] = queries
    base["value"] = round(sum(queries.values()), 3)
    base["runs_min_mean_max"] = spread
    base["cold"] = cold
    base["runs_actual"] = runs_actual
    if layers:
        base["layers"] = layers
    residual = {}
    for n in sorted(names):
        # a merged min is storm-flagged only if its SOURCE pass flagged it
        if passes[src[n]].get("storm_residual", {}).get(n):
            residual[n] = True
    base["quiet"] = not residual
    if residual:
        base["storm_residual"] = residual
    base["merge_protocol"] = {
        "passes": {
            t: {
                "headline": p["value"],
                "quiet": p.get("quiet"),
                "storm_residual": sorted(p.get("storm_residual", {})),
                **{k: p[k] for k in sorted(other - shared) if k in p},
            }
            for t, p in passes.items()
        },
        "note": (
            "per-query minima merged across full bench passes on identical"
            " code (the r12 min-of-passes protocol); spread = [min of mins,"
            " mean of pass means, max of maxes], cold = min of first-run"
            " times per pass, layers = the min's source pass; fields that"
            " describe one pass are under passes[tag]"
        ),
        "min_source_pass": src,
    }
    return base


def main() -> None:
    passes = {}
    for arg in sys.argv[1:]:
        tag, path = arg.split("=", 1)
        with open(path) as f:
            passes[tag] = json.load(f)
    merged = merge(passes)
    with open(os.path.join(REPO, "BENCH_LOCAL.json"), "w") as f:
        json.dump(merged, f, indent=1)
    print(
        "merged", len(merged["queries"]), "queries; headline",
        merged["value"], "from passes",
        {t: p["value"] for t, p in passes.items()},
    )


if __name__ == "__main__":
    main()
