"""Static guard: each cross-engine rule is spelled once per engine, in
the module that builds it.

Value-exact parity with the DuckDB oracles rests on rules both engines
apply identically. Each has a Column builder and a DuckDB twin side by
side:

- the 32-bit md5-prefix hash: `functions.md5_bucket` and
  `functions.md5_bucket_sql`;
- money as integer cents, floor(x * 100 + 0.5): `functions.cents` and
  `functions.cents_sql`;
- the HLL key hash: `operators.sketch.hll_register_rho` and
  `operators.sketch.hll_hash_sql`.

Package code elsewhere calls those builders. It never writes a rule
out, as Column code (`F.conv(F.substring(...), 16, 10)`,
`F.floor(x * 100 + 0.5)`) or in any string: every string constant that
is not a docstring is scanned, f-strings with their `{...}` parts in
place, so Spark SQL handed to `expr`/`selectExpr` and the oracles' DuckDB
SQL are both covered. The tokenizer twin is `functions.text.TOKENS_SQL`
and the vector folds' twins are `functions.vector.*_duckdb`;
`tests/test_rule_twins.py` evaluates every pair on both engines."""

from __future__ import annotations

import ast
import collections
import pathlib
import re

import pytest

from etl_ai_assistent_spark import functions

PKG = pathlib.Path(functions.__file__).resolve().parent.parent

# "module path::top-level function" -> why it writes a rule out itself
ALLOWED = {
    "streaming/pipeline.py::stateful_user_totals": "the NumPy twin of cents inside a pandas state function, which cannot call a Column builder",
    "operators/sketch.py::_md5_slice_int": "HLL reads two hex slices, (1, 2) and (3, 8), of one digest; md5_bucket is always the first 8 digits",
}

# rule -> (pattern over string text, package-relative path of the
# module or package that builds it)
SQL_RULES = {
    "md5 hash": (
        re.compile(
            r"conv\s*\(\s*substr(ing)?\s*\("
            r"|'0x'\s*\|\|\s*substr\s*\(\s*md5\s*\(",
            re.I,
        ),
        "functions/",
    ),
    "cents": (
        re.compile(
            r"floor\s*\((?:[^()]|\([^()]*\))*?\*\s*100(\.0*)?\s*\+\s*0?\.5\s*\)",
            re.I,
        ),
        "functions/",
    ),
    "HLL key hash": (
        re.compile(r"md5\s*\(\s*'hll\|'", re.I),
        "operators/sketch.py",
    ),
}


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


def _text(node: ast.JoinedStr) -> str:
    """An f-string's text with each replacement field as `{<source>}`."""
    return "".join(
        v.value if isinstance(v, ast.Constant) else "{" + ast.unparse(v.value) + "}"
        for v in node.values
    )


def _strings(tree: ast.AST):
    """Every string constant but docstrings (a string standing alone as a
    statement, which nothing executes): plain ones, and f-strings whole."""
    skip = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
            skip.add(id(node.value))
        if isinstance(node, ast.JoinedStr):
            skip.update(id(v) for v in node.values)
    for node in ast.walk(tree):
        if id(node) in skip:
            continue
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node, node.value
        elif isinstance(node, ast.JoinedStr):
            yield node, _text(node)


def rule_copies(source: str, rel: str) -> list[tuple[str, int, str]]:
    """(top-level function or '<module>', line, rule) per inline copy in
    the module at package-relative path `rel`; a string spelling a rule
    several times gives one entry each."""
    out = []
    for top in ast.parse(source).body:
        scope = (
            top.name
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            else "<module>"
        )
        for node in ast.walk(top):
            if isinstance(node, ast.Call) and not rel.startswith("functions/"):
                if _is_hash(node):
                    out.append((scope, node.lineno, "md5 hash"))
                if _is_cents(node):
                    out.append((scope, node.lineno, "cents"))
        for node, text in _strings(top):
            for rule, (pattern, home) in SQL_RULES.items():
                if rel.startswith(home):
                    continue
                out += [(scope, node.lineno, f"{rule} (SQL)")] * len(
                    pattern.findall(text)
                )
    return out


def package_copies(root: pathlib.Path = PKG) -> dict[str, list[str]]:
    """"path::scope" -> the rules it writes out, over the package at `root`."""
    found: dict[str, list[str]] = {}
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for scope, line, rule in rule_copies(path.read_text(), rel):
            found.setdefault(f"{rel}::{scope}", []).append(f"{rule} at line {line}")
    return found


def spelling_counts(root: pathlib.Path = PKG) -> collections.Counter:
    """Inline spellings per rule outside ALLOWED, e.g. over an older
    checkout: `spelling_counts(pathlib.Path("<checkout>/etl_ai_assistent_spark"))`."""
    return collections.Counter(
        hit.split(" at line")[0]
        for key, hits in package_copies(root).items()
        if key not in ALLOWED
        for hit in hits
    )


def test_rules_built_only_in_their_modules():
    offenders = {k: v for k, v in package_copies().items() if k not in ALLOWED}
    assert not offenders, (
        "inline md5-prefix hash, cents or HLL key hash; call functions.md5_bucket"
        "/md5_bucket_sql, functions.cents/cents_sql or sketch.hll_hash_sql"
        f" instead: {offenders}"
    )


def test_allowlist_has_no_stale_entries():
    found = package_copies()
    stale = sorted(set(ALLOWED) - set(found))
    assert not stale, f"allowlisted but no longer writes a rule out: {stale}"


def test_allowlist_entries_have_reasons():
    assert all(reason.strip() for reason in ALLOWED.values())


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
        "\"SELECT CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS tok_h\"",
        "f\"CAST(('0x' || substr(md5('s|' || {x}), 1, 8)) AS BIGINT)\"",
        'f"CAST(floor({x} * 100 + 0.5) AS BIGINT)"',
        '"CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100\\n + 0.5) AS BIGINT)) AS BIGINT)"',
        "\"md5('hll|' || CAST(user_id AS VARCHAR))\"",
    ],
)
def test_detector_catches_inline_copies(snippet):
    assert rule_copies(f"def f():\n    return {snippet}\n", "queries/q.py")


@pytest.mark.parametrize(
    "snippet",
    [
        'md5_bucket(F.col("x"), salt="s|") % 8',
        'cents("value")',
        'F.conv(F.substring(h, 3, 8), 16, 2)',
        'F.floor(F.abs(a - b) * F.lit(1000000.0) / n + F.lit(0.5))',
        'F.round(F.col("value") * 100, 0).cast("bigint")',
        "f\"{md5_bucket_sql('tok')} % 64\"",
        "\"CAST(round(l_extendedprice * 100) AS BIGINT)\"",
        '"CAST(floor((x - mn) * 255.0 / (mx - mn) + 0.5) AS INT)"',
        "\"CAST(('0x' || substr(h, 3, 8)) AS BIGINT)\"",
    ],
)
def test_detector_passes_other_arithmetic(snippet):
    assert not rule_copies(f"def f():\n    return {snippet}\n", "queries/q.py")


def test_detector_skips_docstrings_and_home_modules():
    doc = 'def f():\n    """CAST(floor(x * 100 + 0.5) AS BIGINT)"""\n    return 1\n'
    assert not rule_copies(doc, "queries/q.py")
    twin = "def f(x):\n    return f\"CAST(floor({x} * 100 + 0.5) AS BIGINT)\"\n"
    assert not rule_copies(twin, "functions/__init__.py")
    hll = "def f(x):\n    return f\"md5('hll|' || CAST({x} AS VARCHAR))\"\n"
    assert not rule_copies(hll, "operators/sketch.py")
    assert rule_copies(hll, "functions/__init__.py")
