"""Static guard: every name the package defines has a caller outside the
tests, and every option it offers is set by one.

Three checks, each with its own allowlist (name -> reason) and its own
stale-entry test:

- definitions: every top-level function and class has a non-test
  reference. An operator that only tests call is a second implementation
  kept alive for comparison; the DuckDB oracle and the pure-Python
  replicas in the tests already do that job. Registered queries are the
  driver contract and are exempt.
- constants: every module-level assignment is read by non-test code.
- parameters: every defaulted parameter of a top-level function (or of a
  class's `__init__`) is passed, by keyword or by position, at some
  non-test call site. A parameter no caller sets is a constant with an
  unused configuration surface; each one doubles what a test has to cover.

Non-test code is the package, the benchmark (`docbench/`, its tests
excluded), `tools/`, `bench.py` and `__spark_entry__.py`. References are
resolved by module: a bare name counts only in its defining module, or in
a module that imports it (aliases included, re-exports followed); an
attribute counts only when its base resolves to the defining module.
Mentions in strings, comments and docstrings do not count, and neither
does a definition's reference to itself. Calls resolve through the same
import bindings, to one module's function or class; a call with `*args`
counts as passing every positional parameter from its position on, and
one with `**kwargs` as passing every parameter."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "etl_ai_assistent_spark"

# name -> why it stays although only tests call it
ALLOWED = {
    "embedding_near_dup_allpairs": "the exact all-pairs recall reference the banded near-dup path is measured against",
    "apply_delta": "the model in the Z-relation law tests/test_incremental.py checks the delta operators against",
    "vacuum": "the destructive half of q_snapshot_retention's plan; the query itself only audits",
    "compact": "the log-bounding step q_cdc_mor's docstring relies on; tests/test_mor.py checks reads are invariant under it",
    "check_all": "the verify skill's entry point for the oracle parity gate",
    "gc_versions": "the maintenance sweep of superseded store versions that FIXTURES.md documents",
    "FlakyStoreClient": "a test fake of the VectorStoreClient contract that exercises upsert retries",
    "read_json_dataset": "an io source wrapper; it hides the format behind the package's schema",
    "read_xml": "an io source wrapper; it hides the format behind the package's options",
    "write_xml": "an io sink wrapper; it hides the format behind the package's options",
    "write_parquet": "an io sink wrapper; it hides the partitioned parquet layout",
}

# module constant -> why it stays although non-test code never reads it
ALLOWED_CONSTANTS: dict[str, str] = {}

# "function.parameter" -> why the option stays although only tests set it
ALLOWED_PARAMETERS = {
    "ann_topk.exact_max_rows": "the chooser's bound; tests/test_sinks.py sets 1 to reach the SRP-LSH branch no fixture is large enough to take",
    "upsert_points.batch_size": "tests/test_sinks.py bounds the batches below the fixture's partition size to see rows split across client calls",
    "judge_scores.client_factory": "the judge seam: tests/test_judge.py swaps in counting and constant judges for the lexical default",
    "write_parquet.partition_by": "the partitioned layout write_parquet exists for (see ALLOWED); tests write it and the flat one",
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


def _module_name(path: str, repo: str) -> str:
    parts = os.path.relpath(path, repo)[: -len(".py")].split(os.sep)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Index:
    """The parsed non-test code, with each file's import bindings."""

    def __init__(self, repo: str = REPO):
        files = _py_files(
            os.path.join(repo, PACKAGE),
            os.path.join(repo, "docbench"),
            os.path.join(repo, "tools"),
            os.path.join(repo, "bench.py"),
            os.path.join(repo, "__spark_entry__.py"),
        )
        self.trees: dict[str, ast.Module] = {}
        self.is_pkg: dict[str, bool] = {}
        for p in files:
            if os.path.basename(p).startswith("test_"):
                continue
            mod = _module_name(p, repo)
            self.trees[mod] = ast.parse(open(p).read(), p)
            self.is_pkg[mod] = os.path.basename(p) == "__init__.py"
        self.bindings = {m: self._bindings(m, t) for m, t in self.trees.items()}

    def _absolute(self, mod: str, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        base = mod.split(".")
        if not self.is_pkg[mod]:
            base.pop()
        base = base[: len(base) - (node.level - 1)]
        return ".".join(base + ([node.module] if node.module else []))

    def _bindings(self, mod: str, tree: ast.Module) -> dict[str, tuple]:
        """local name -> ("mod", module) or ("sym", module, name), for
        every import anywhere in the file."""
        out: dict[str, tuple] = {}
        for n in ast.walk(tree):
            if isinstance(n, ast.Import):
                for a in n.names:
                    if a.asname:
                        out[a.asname] = ("mod", a.name)
                    else:
                        top = a.name.split(".")[0]
                        out[top] = ("mod", top)
            elif isinstance(n, ast.ImportFrom):
                src = self._absolute(mod, n)
                for a in n.names:
                    full = f"{src}.{a.name}"
                    target = ("mod", full) if full in self.trees else ("sym", src, a.name)
                    out[a.asname or a.name] = target
        return out

    def _follow(self, target: tuple | None, depth: int = 0) -> tuple | None:
        """Follow a symbol re-exported by an import to its definition."""
        if target and target[0] == "sym" and depth < 8:
            b = self.bindings.get(target[1], {}).get(target[2])
            if b is not None:
                return self._follow(b, depth + 1)
        return target

    def resolve(self, mod: str, expr: ast.AST) -> tuple | None:
        """What `expr`, read in module `mod`, names."""
        if isinstance(expr, ast.Name):
            b = self.bindings[mod].get(expr.id)
            return self._follow(b) if b else ("sym", mod, expr.id)
        if isinstance(expr, ast.Attribute):
            base = self.resolve(mod, expr.value)
            if base and base[0] == "mod":
                sub = f"{base[1]}.{expr.attr}"
                if sub in self.trees:
                    return ("mod", sub)
                return self._follow(("sym", base[1], expr.attr))
        return None

    def package_modules(self) -> list[str]:
        return sorted(m for m in self.trees if m.split(".")[0] == PACKAGE)

    def uses(self) -> dict[tuple, list[ast.AST]]:
        """(module, name) -> the Load references that resolve to it."""
        out: dict[tuple, list[ast.AST]] = {}
        for mod, tree in self.trees.items():
            for n in ast.walk(tree):
                if not isinstance(n, (ast.Name, ast.Attribute)):
                    continue
                if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load):
                    continue
                t = self.resolve(mod, n)
                if t and t[0] == "sym":
                    out.setdefault((t[1], t[2]), []).append(n)
        return out


def _is_registered(d: ast.AST) -> bool:
    return any(
        isinstance(dec, ast.Call)
        and isinstance(dec.func, ast.Name)
        and dec.func.id == "register"
        for dec in d.decorator_list
    )


def _outside(refs: list[ast.AST], node: ast.AST) -> int:
    inner = {id(n) for n in ast.walk(node)}
    return sum(id(r) not in inner for r in refs)


def _relpath(idx: _Index, mod: str) -> str:
    path = mod.replace(".", os.sep)
    return path + (f"{os.sep}__init__.py" if idx.is_pkg[mod] else ".py")


def unreferenced(repo: str = REPO) -> list[str]:
    """`file:name` of every non-registered top-level def or class in the
    package that nothing outside the tests references."""
    idx = _Index(repo)
    uses = idx.uses()
    out = []
    for mod in idx.package_modules():
        for d in idx.trees[mod].body:
            if not isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if _is_registered(d):
                continue
            if not _outside(uses.get((mod, d.name), []), d):
                out.append(f"{_relpath(idx, mod)}:{d.name}")
    return out


def _assigned_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
        targets = [stmt.target]
    else:
        return []
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name) and not n.id.startswith("__")
    ]


def unread_constants(repo: str = REPO) -> list[str]:
    """`file:name` of every module-level assignment in the package that no
    non-test code reads."""
    idx = _Index(repo)
    uses = idx.uses()
    out = []
    for mod in idx.package_modules():
        for stmt in idx.trees[mod].body:
            for name in _assigned_names(stmt):
                if not uses.get((mod, name)):
                    out.append(f"{_relpath(idx, mod)}:{name}")
    return out


def _defaulted(fn: ast.FunctionDef, skip_self: bool) -> tuple[list[str], list[str]]:
    """(positional parameter names, defaulted parameter names)."""
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args][int(skip_self):]
    pos_defaults = positional[len(positional) - len(a.defaults):] if a.defaults else []
    kw_defaults = [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return positional, pos_defaults + kw_defaults


def _passed(call: ast.Call, positional: list[str]) -> set[str] | None:
    """Parameter names the call sets; None when `**kwargs` may set any."""
    if any(k.arg is None for k in call.keywords):
        return None
    out = {k.arg for k in call.keywords}
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            out.update(positional[i:])
            break
        if i < len(positional):
            out.add(positional[i])
    return out


def _callables(idx: _Index) -> dict[tuple, tuple]:
    """(module, name) -> (positional, defaulted) parameter names of every
    top-level function and class `__init__` in the package."""
    out = {}
    for mod in idx.package_modules():
        for d in idx.trees[mod].body:
            if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out[(mod, d.name)] = _defaulted(d, False)
            elif isinstance(d, ast.ClassDef):
                for m in d.body:
                    if isinstance(m, ast.FunctionDef) and m.name == "__init__":
                        out[(mod, d.name)] = _defaulted(m, True)
    return out


def unset_parameters(repo: str = REPO) -> list[str]:
    """`file:function.parameter` of every defaulted parameter of a package
    function or class that no non-test call site passes."""
    idx = _Index(repo)
    funcs = _callables(idx)
    passed: dict[tuple, set[str]] = {k: set() for k in funcs}
    for mod, tree in idx.trees.items():
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            target = idx.resolve(mod, call.func)
            if not target or target[0] != "sym" or target[1:] not in funcs:
                continue
            positional, defaulted = funcs[target[1:]]
            got = _passed(call, positional)
            passed[target[1:]] |= set(defaulted) if got is None else got
    return [
        f"{_relpath(idx, mod)}:{name}.{p}"
        for (mod, name), (_, defaulted) in sorted(funcs.items())
        for p in defaulted
        if p not in passed[(mod, name)]
    ]


def defaulted_parameters(repo: str = REPO) -> int:
    """How many defaulted parameters the package's functions and classes
    offer: the option surface the parameter check governs."""
    return sum(len(d) for _, d in _callables(_Index(repo)).values())


def _short(found: list[str]) -> set[str]:
    return {f.split(":")[1] for f in found}


def test_no_test_only_definitions():
    found = [f for f in unreferenced() if f.split(":")[1] not in ALLOWED]
    assert not found, (
        "only tests use these package definitions; delete them (point the "
        "tests at the live path, the oracle or a replica) or give a reason "
        f"in ALLOWED: {found}"
    )


def test_allowlist_has_no_stale_entries():
    names = _short(unreferenced())
    assert set(ALLOWED) <= names, sorted(set(ALLOWED) - names)


def test_no_unread_constants():
    found = [f for f in unread_constants() if f.split(":")[1] not in ALLOWED_CONSTANTS]
    assert not found, (
        "no non-test code reads these module constants; delete them (or "
        f"move them into the tests that read them): {found}"
    )


def test_constant_allowlist_has_no_stale_entries():
    names = _short(unread_constants())
    assert set(ALLOWED_CONSTANTS) <= names, sorted(set(ALLOWED_CONSTANTS) - names)


def test_no_unset_parameters():
    found = [f for f in unset_parameters() if f.split(":")[1] not in ALLOWED_PARAMETERS]
    assert not found, (
        "no non-test caller sets these defaulted parameters; make each a "
        "constant and delete the branches it guarded, or give a reason in "
        f"ALLOWED_PARAMETERS: {found}"
    )


def test_parameter_allowlist_has_no_stale_entries():
    names = _short(unset_parameters())
    assert set(ALLOWED_PARAMETERS) <= names, sorted(set(ALLOWED_PARAMETERS) - names)
