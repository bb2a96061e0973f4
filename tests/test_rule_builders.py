"""Static guard: the cross-engine arithmetic rules have one Column builder
each, in `functions/`.

Value-exact parity with the DuckDB oracles rests on two rules both
engines apply identically: the 32-bit md5-prefix hash
(`functions.md5_bucket`, conv(substring(md5(x), 1, 8), 16, 10)) and money
as integer cents (`functions.cents`, floor(x * 100 + 0.5)). Package code
outside `functions/` calls those builders; it never writes either
expression out, as Column code or as the SQL text of a Spark `expr`.
The oracles' DuckDB SQL is not Spark code and is not checked."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

from etl_ai_assistent_spark import functions

PKG = pathlib.Path(functions.__file__).resolve().parent.parent
HOME = pathlib.Path(functions.__file__).resolve().parent

# "module path::top-level function" -> why it writes a rule out itself
ALLOWED = {
    "streaming/pipeline.py::stateful_user_totals": "the NumPy twin of cents inside a pandas state function, which cannot call a Column builder",
    "operators/sketch.py::_md5_slice_int": "HLL reads two hex slices, (1, 2) and (3, 8), of one digest; md5_bucket is always the first 8 digits",
}

# Spark calls whose string arguments are Spark SQL
SQL_CALLS = {"expr", "selectExpr", "sql", "filter", "where"}
SQL_HASH = re.compile(r"conv\s*\(\s*substr(ing)?\s*\(", re.I)
SQL_CENTS = re.compile(r"floor\s*\([^()]*\*\s*100(\.0*)?\s*\+\s*0?\.5\s*\)", re.I)


def _name(func: ast.expr) -> str | None:
    if isinstance(func, ast.Attribute):
        return func.attr
    if isinstance(func, ast.Name):
        return func.id
    return None


def _number(node: ast.expr) -> float | None:
    """A numeric literal, bare or wrapped in lit(...)."""
    if isinstance(node, ast.Call) and _name(node.func) == "lit" and node.args:
        node = node.args[0]
    if isinstance(node, ast.Constant) and isinstance(node.value, (int, float)):
        return node.value
    return None


def _is_hash(node: ast.Call) -> bool:
    """conv(substring(...), 16, 10): a hex prefix read as an integer."""
    return (
        _name(node.func) == "conv"
        and len(node.args) == 3
        and isinstance(node.args[0], ast.Call)
        and _name(node.args[0].func) in ("substring", "substr")
        and [_number(a) for a in node.args[1:]] == [16, 10]
    )


def _is_cents(node: ast.Call) -> bool:
    """floor(<x> * 100 + 0.5), the 0.5 bare or as lit(0.5)."""
    if _name(node.func) != "floor" or len(node.args) != 1:
        return False
    arg = node.args[0]
    return (
        isinstance(arg, ast.BinOp)
        and isinstance(arg.op, ast.Add)
        and _number(arg.right) == 0.5
        and isinstance(arg.left, ast.BinOp)
        and isinstance(arg.left.op, ast.Mult)
        and _number(arg.left.right) == 100
    )


def _sql_text(node: ast.expr) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(_sql_text(v) for v in node.values)
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
        return _sql_text(node.left) + _sql_text(node.right)
    return ""


def _rule(node: ast.AST) -> str | None:
    if not isinstance(node, ast.Call):
        return None
    if _is_hash(node):
        return "md5 hash"
    if _is_cents(node):
        return "cents"
    if _name(node.func) in SQL_CALLS:
        text = " ".join(_sql_text(a) for a in node.args)
        if SQL_HASH.search(text):
            return "md5 hash (SQL)"
        if SQL_CENTS.search(text):
            return "cents (SQL)"
    return None


def rule_copies(source: str) -> list[tuple[str, int, str]]:
    """(top-level function or '<module>', line, rule) per inline copy."""
    out = []
    for top in ast.parse(source).body:
        scope = (
            top.name
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            else "<module>"
        )
        for node in ast.walk(top):
            rule = _rule(node)
            if rule:
                out.append((scope, node.lineno, rule))
    return out


def _package_copies() -> dict[str, list[str]]:
    found: dict[str, list[str]] = {}
    for path in sorted(PKG.rglob("*.py")):
        if HOME in path.parents:
            continue
        rel = path.relative_to(PKG).as_posix()
        for scope, line, rule in rule_copies(path.read_text()):
            found.setdefault(f"{rel}::{scope}", []).append(f"{rule} at line {line}")
    return found


def test_rules_built_only_in_functions():
    offenders = {
        k: v for k, v in _package_copies().items() if k not in ALLOWED
    }
    assert not offenders, (
        "inline md5-prefix hash or cents outside functions/; call "
        f"functions.md5_bucket / functions.cents instead: {offenders}"
    )


def test_allowlist_has_no_stale_entries():
    found = _package_copies()
    stale = sorted(set(ALLOWED) - set(found))
    assert not stale, f"allowlisted but no longer writes a rule out: {stale}"


@pytest.mark.parametrize(
    "snippet",
    [
        'F.conv(F.substring(F.md5(F.col("x")), 1, 8), 16, 10).cast("bigint")',
        'F.conv(F.substring(F.md5(F.concat(F.lit("s|"), c)), 1, 8), 16, 10)',
        'F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")',
        'F.floor(F.col("p") * (1 - F.col("d")) * 100 + 0.5).cast("bigint")',
        'np.floor(v * 100.0 + 0.5)',
        'F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")',
        'df.selectExpr("conv(substring(md5(x), 1, 8), 16, 10) AS h")',
    ],
)
def test_detector_catches_inline_copies(snippet):
    assert rule_copies(f"def f():\n    return {snippet}\n")


@pytest.mark.parametrize(
    "snippet",
    [
        'md5_bucket(F.col("x"), salt="s|") % 8',
        'cents("value")',
        'F.conv(F.substring(h, 3, 8), 16, 2)',
        'F.floor(F.abs(a - b) * F.lit(1000000.0) / n + F.lit(0.5))',
        'F.round(F.col("value") * 100, 0).cast("bigint")',
    ],
)
def test_detector_passes_other_arithmetic(snippet):
    assert not rule_copies(f"def f():\n    return {snippet}\n")
