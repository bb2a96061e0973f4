"""Static guard: every top-level function and class in the package has a
caller outside the tests.

An operator that only tests call is a second implementation kept alive
for comparison; the DuckDB oracle and the pure-Python replicas in the
tests already do that job. Registered queries are the driver contract
and are exempt. A name counts as used when package code, the benchmark
(`docbench/`, its tests excluded), `tools/`, `bench.py` or
`__spark_entry__.py` references it as a name, an attribute or an import;
mentions in strings, comments and docstrings do not count, and neither
does a definition's reference to itself."""

from __future__ import annotations

import ast
import os
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> why it stays although only tests call it
ALLOWED = {
    "embedding_near_dup_allpairs": "the exact all-pairs recall reference the banded near-dup path is measured against",
    "apply_delta": "the model in the Z-relation law tests/test_incremental.py checks the delta operators against",
    "vacuum": "the destructive half of q_snapshot_retention's plan; the query itself only audits",
    "check_all": "the verify skill's entry point for the oracle parity gate",
    "gc_versions": "the maintenance sweep of superseded store versions that FIXTURES.md documents",
    "FlakyStoreClient": "a test fake of the VectorStoreClient contract that exercises upsert retries",
    "read_json_dataset": "an io source wrapper; it hides the format behind the package's schema",
    "read_xml": "an io source wrapper; it hides the format behind the package's options",
    "write_xml": "an io sink wrapper; it hides the format behind the package's options",
    "write_parquet": "an io sink wrapper; it hides the partitioned parquet layout",
}


def _py_files(*roots: str) -> list[str]:
    out = []
    for root in roots:
        if os.path.isfile(root):
            out.append(root)
            continue
        for dirpath, _, files in os.walk(root):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _refs(node: ast.AST) -> Counter:
    c: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            c[n.id] += 1
        elif isinstance(n, ast.Attribute):
            c[n.attr] += 1
        elif isinstance(n, ast.alias):
            c[n.name.split(".")[-1]] += 1
    return c


def _is_registered(d: ast.AST) -> bool:
    return any(
        isinstance(dec, ast.Call)
        and isinstance(dec.func, ast.Name)
        and dec.func.id == "register"
        for dec in d.decorator_list
    )


def unreferenced(repo: str = REPO) -> list[str]:
    """`file:name` of every non-registered top-level def or class in the
    package that nothing outside the tests references."""
    package = os.path.join(repo, "etl_ai_assistent_spark")
    users = _py_files(
        package,
        os.path.join(repo, "docbench"),
        os.path.join(repo, "tools"),
        os.path.join(repo, "bench.py"),
        os.path.join(repo, "__spark_entry__.py"),
    )
    trees = {
        p: ast.parse(open(p).read(), p)
        for p in users
        if not os.path.basename(p).startswith("test_")
    }
    total: Counter = Counter()
    for tree in trees.values():
        total += _refs(tree)
    out = []
    for path in _py_files(package):
        for d in trees[path].body:
            if not isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if _is_registered(d):
                continue
            own = _refs(d)[d.name]
            if total[d.name] - own == 0:
                out.append(f"{os.path.relpath(path, repo)}:{d.name}")
    return out


def test_no_test_only_definitions():
    found = [f for f in unreferenced() if f.split(":")[1] not in ALLOWED]
    assert not found, (
        "only tests use these package definitions; delete them (point the "
        "tests at the live path, the oracle or a replica) or give a reason "
        f"in ALLOWED: {found}"
    )


def test_allowlist_has_no_stale_entries():
    names = {f.split(":")[1] for f in unreferenced()}
    assert set(ALLOWED) <= names, sorted(set(ALLOWED) - names)
