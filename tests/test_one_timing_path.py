"""Queries are timed by bench.measure (bench.py over docbench/trace.py)
alone; every other module, tool and test times through it."""

from __future__ import annotations

import io
import pathlib
import tokenize

REPO = pathlib.Path(__file__).resolve().parents[1]
TIMERS = {REPO / "bench.py", REPO / "docbench"}
SKIP = {".git", "__pycache__", "spark-warehouse", "runs", ".docbench_work"}
CLOCKS = {"perf_counter", "perf_counter_ns"}


def _clock_lines(src: str) -> list[int]:
    """Lines naming a perf_counter clock in code (strings and comments
    do not count)."""
    return [
        tok.start[0]
        for tok in tokenize.generate_tokens(io.StringIO(src).readline)
        if tok.type == tokenize.NAME and tok.string in CLOCKS
    ]


def test_bench_measure_is_the_only_timer():
    timers = []
    for path in REPO.rglob("*.py"):
        rel = path.relative_to(REPO)
        if SKIP.intersection(rel.parts) or TIMERS.intersection(
            [path, *path.parents]
        ):
            continue
        timers += [f"{rel}:{n}" for n in _clock_lines(path.read_text())]
    assert timers == []
    assert _clock_lines((REPO / "bench.py").read_text())
