"""Spark's status store and listener bus are read by docbench/trace.py
alone; every other module measures through it."""

from __future__ import annotations

import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parents[1]
READER = REPO / "docbench" / "trace.py"
SKIP = {".git", "__pycache__", "spark-warehouse", "runs", ".docbench_work"}
_CALL = re.compile(r"\b(?:statusStore|listenerBus)\(\)")


def test_trace_is_the_only_status_store_reader():
    readers = []
    for path in REPO.rglob("*.py"):
        if SKIP.intersection(path.relative_to(REPO).parts) or path == READER:
            continue
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            if _CALL.search(line):
                readers.append(f"{path.relative_to(REPO)}:{lineno}")
    assert readers == []
    assert _CALL.search(READER.read_text())
