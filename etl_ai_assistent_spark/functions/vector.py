"""Vector math as Spark SQL text — the one place where dot, norm,
cosine and squared-L2 expressions are built.

Every function here takes each operand as either SQL text (a column
name, or an expression such as ``slice(qv, 1, 16)``) or a constant
Python vector, and returns ONE ``F.expr``. A constant is inlined as an
``array(...)`` literal inside that one string.

Why text: every Column node composed in Python — each ``F.lit``, each
Python-lambda ``zip_with``/``aggregate`` — is at least one py4j round
trip to the JVM, so a query vector written as ``F.array(F.lit(...))``
made a request's plan cost O(dim) round trips to build. On a 4-core VM
that was ~250 ms of plan-building time for one exact top-k request at dim 64,
against ~120 ms as text (most of what remains is Catalyst analysing
each DataFrame operation). As text, building a request plan costs the
same number of round trips at dim 1024 as at dim 8
(tests/test_vector.py counts them).

Exactness: results are bit-identical to the Column form's.
- For column operands the text is the same expression tree the Column
  form built. Floating-point math is done in DOUBLE regardless of
  storage type (embeddings are ARRAY<FLOAT>; float->double widening is
  exact) as an elementwise product folded LEFT TO RIGHT from 0.0 by
  ``aggregate(zip_with(...))`` — the order the DuckDB oracle's
  ``list_transform`` + ``list_reduce`` uses, so scores hash-match it
  without tolerance.
- A constant is inlined as one ``array(...)`` literal wherever it is
  used (cosine names it three times). A finite double is written
  ``repr(x) + 'D'``: Python's repr is the shortest string that
  round-trips, and Spark parses DOUBLE literals with Java's
  correctly-rounded ``Double.parseDouble``, so the JVM sees the
  identical bits (signed zero and subnormals included). NaN and ±inf
  have no literal syntax and are written ``CAST('NaN' AS DOUBLE)`` /
  ``'Infinity'`` / ``'-Infinity'``. An integer is written ``<n>L``
  (BIGINT), the type of the integer-lattice vectors it meets
  (operators/kmeans.py).

The ``*_duckdb`` functions return the DuckDB oracle text of the same
folds over SQL operands (an ``*_sql`` name here is Spark SQL text):
the double products summed left to right by ``list_reduce``, the
integer squared L2 by ``list_sum``.

Higher-order functions (zip_with/aggregate lambdas) evaluate
INTERPRETED on the JVM — they are not whole-stage-codegen'd — and a
Column captured inside a lambda is evaluated again per array element.
When a dot/norm feeds many expressions (LSH signing, minhash), bind it
once with functions.bind (see operators/dedup.minhash_bands,
operators/similarity.srp_bands).

Reference semantics covered:
- cosine top-k retrieval math (reference scripts/test.out.py:14-19,
  distance=COSINE per qdrant_service.py:21)
- pad/truncate to fixed dim (embedder_service.py:4-9)
"""

from __future__ import annotations

import math
import numbers
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# A str operand is SQL text, pasted into the expression as-is: a plain
# column name works, a name that needs quoting (a reserved word, a dot,
# a space) must be backticked by the caller. Anything else is a constant
# vector. A Column is rejected.
Operand = str | Sequence[float]


def literal_sql(x) -> str:
    """One scalar as a SQL literal of exactly its value: ``<n>L`` for an
    integer, ``repr(x)D`` for a finite double, a string cast for NaN and
    ±inf (which have no literal syntax)."""
    if isinstance(x, numbers.Integral):
        return f"{int(x)}L"
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    name = "NaN" if math.isnan(x) else ("Infinity" if x > 0 else "-Infinity")
    return f"CAST('{name}' AS DOUBLE)"


def _operand(v: Operand) -> str:
    if isinstance(v, str):
        return v
    if isinstance(v, Column):
        raise TypeError(
            "vector operands are SQL text or a constant vector, not a"
            " Column; pass the column name (backticked if it needs it)"
        )
    return "array(" + ", ".join(literal_sql(x) for x in v) + ")"


def _dot_sql(a: Operand, b: Operand) -> str:
    return (
        f"aggregate(zip_with(CAST({_operand(a)} AS ARRAY<DOUBLE>),"
        f" CAST({_operand(b)} AS ARRAY<DOUBLE>), (x, y) -> x * y),"
        " 0.0D, (acc, x) -> acc + x)"
    )


def _norm_sql(v: Operand) -> str:
    return f"sqrt({_dot_sql(v, v)})"


def dist2_sql(a: Operand, b: Operand) -> str:
    """SQL text of the exact integer squared L2 between two BIGINT
    vectors, folded left to right from a BIGINT zero."""
    return (
        f"aggregate(zip_with({_operand(a)}, {_operand(b)},"
        " (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, d) -> acc + d)"
    )


def dot_duckdb(a: str, b: str) -> str:
    """DuckDB twin of dot: DOUBLE products folded left to right."""
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def cosine_duckdb(a: str, b: str) -> str:
    """DuckDB twin of cosine."""
    return (
        f"{dot_duckdb(a, b)} / (sqrt({dot_duckdb(a, a)}) * sqrt({dot_duckdb(b, b)}))"
    )


def dist2_duckdb(a: str, b: str, n: int, var: str = "i") -> str:
    """DuckDB twin of dist2 over the first `n` elements, `var` naming
    the lambda's index variable."""
    d = f"({a}[{var}] - {b}[{var}])"
    return (
        f"CAST(list_sum(list_transform(generate_series(1, {n}),"
        f" {var} -> {d} * {d})) AS BIGINT)"
    )


def as_double(v: Column | str) -> Column:
    v = F.col(v) if isinstance(v, str) else v
    return v.cast("array<double>")


def dot(a: Operand, b: Operand) -> Column:
    """Elementwise DOUBLE product, then a left-to-right fold from 0.0.
    No shuffle, no UDF."""
    return F.expr(_dot_sql(a, b))


def norm(v: Operand) -> Column:
    return F.expr(_norm_sql(v))


def cosine(a: Operand, b: Operand) -> Column:
    """Cosine similarity in [-1, 1]: dot(a, b) / (norm(a) * norm(b))."""
    return F.expr(f"{_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)})")


def dist2(a: Operand, b: Operand) -> Column:
    """Exact integer squared L2 between two ARRAY<BIGINT> operands."""
    return F.expr(dist2_sql(a, b))


def pad_truncate(v: Column | str, dim: int) -> Column:
    """P11 (embedder_service.py:6-9): pad with 0.0 to `dim` or truncate.

    Spark arrays are 1-indexed in slice().
    """
    v = F.col(v) if isinstance(v, str) else v
    padded = F.concat(
        v, F.array_repeat(F.lit(0.0).cast("float"), dim - F.size(v))
    )
    return F.when(F.size(v) < dim, padded).otherwise(F.slice(v, 1, dim))
