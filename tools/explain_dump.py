"""Dump .explain("formatted") for named queries to <outdir>/<name>_<suffix>.txt.

Usage: python tools/explain_dump.py <outdir> <suffix> q_a,q_b,...
Builds each query DataFrame at $SPARK_GRAFT_SF_DIR (default sf0.1), writes
the formatted physical plan under <outdir> (outside the repo: plans are
diffed, not committed; `plan_id=<n>` is masked, since plan ids count
every plan the session built and differ between two runs of one
commit) and prints one JSON line per query with its
docbench.trace.plan_shape counts (Exchanges, SortMergeJoins,
BroadcastHashJoins) — the plan-shape evidence for a change.

Streaming queries that execute inside their builder (foreachBatch) cannot be
explained without running; for those, registry entries listed in _SURROGATES
dump the plan of the per-trigger batch computation instead (noted in-file).
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from docbench import trace  # noqa: E402
from etl_ai_assistent_spark.io import DEFAULT_SF_DIR as SF_DIR  # noqa: E402


def _stream_ann_lookup_surrogate(spark, sf_dir):
    """The per-trigger ADC plan of q_stream_ann_lookup, over the probe
    cohort as one batch: the same function its foreachBatch closure
    calls. The streaming wrapper itself only adds the sink."""
    from etl_ai_assistent_spark import io as eio
    from etl_ai_assistent_spark.queries.streaming import ann_lookup_plan, ann_probes

    plan = ann_lookup_plan(spark, sf_dir)
    return plan(ann_probes(eio.load_table(spark, sf_dir, "embeddings")))


_SURROGATES = {
    "q_stream_ann_lookup": _stream_ann_lookup_surrogate,
}


def main() -> None:
    outdir, suffix, names_csv = sys.argv[1], sys.argv[2], sys.argv[3]
    outdir = os.path.realpath(outdir)
    if os.path.commonpath([outdir, REPO]) == REPO:
        sys.exit(f"explain_dump: {outdir} is inside the repo; plans are not committed")
    names = [n.strip() for n in names_csv.split(",") if n.strip()]
    from etl_ai_assistent_spark.registry import queries
    from etl_ai_assistent_spark.session import get_spark

    spark = get_spark("explain-dump")
    qs = queries()
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        # Drop what earlier queries cached, as bench.measure does, so a
        # dump shows the query's own plan, not InMemoryRelation scans of
        # another query's persisted intermediates.
        spark.catalog.clearCache()
        try:
            if name in _SURROGATES:
                df = _SURROGATES[name](spark, SF_DIR)
                note = (
                    "# surrogate: per-trigger batch computation of the"
                    " streaming query (the foreachBatch body's plan)\n"
                )
            else:
                df = qs[name](spark, SF_DIR)
                note = ""
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(outdir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(note + re.sub(r"plan_id=\d+", "plan_id=<n>", buf.getvalue()))
            rec = {"query": name, **trace.plan_shape(df), "path": path}
        except Exception as exc:  # noqa: BLE001 — keep dumping the rest
            rec = {"query": name, "error": f"{type(exc).__name__}: {exc}"[:500]}
        print(json.dumps(rec), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
