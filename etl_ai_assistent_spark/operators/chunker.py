"""G3 — the chunk splitter (reference chunk_splitter_service.py:14-23).

The reference wraps LangChain's RecursiveCharacterTextSplitter
(chunk_size=700, chunk_overlap=200). Two engine implementations:

- ``recursive_chunks``   faithful reimplementation of the recursive
  separator-hierarchy algorithm (written from scratch against the
  documented semantics: split on the coarsest separator present, recurse
  into oversized pieces with finer separators, then greedily merge pieces
  into <=chunk_size windows carrying >=overlap tail context). Runs as an
  Arrow-batched pandas UDF returning ARRAY<STRING> — Python is required
  (data-dependent recursion), so it rides the vectorized slow path.
- ``fixed_chunks``       pure built-in column expression: fixed-width
  character windows with overlap (stride = size - overlap). This is the
  oracle-checkable variant and the 100 TB default when byte-exact
  LangChain parity is not required — it stays in whole-stage codegen.

Both are per-row narrow transforms: no shuffle, chunking 100 TB is
embarrassingly parallel.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_CHUNK_SIZE = 700  # reference chunk_splitter_service.py:15
DEFAULT_OVERLAP = 200
SEPARATORS: tuple[str, ...] = ("\n\n", "\n", " ", "")


def split_text_recursive(
    text: str,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
) -> list[str]:
    """Pure-Python recursive character splitting; unit-testable driver
    for the pandas UDF."""

    def atomize(s: str, seps: Sequence[str]) -> Iterable[str]:
        """Break s into pieces each <= chunk_size using the separator
        hierarchy; pieces keep no separators (space rejoin on merge)."""
        if len(s) <= chunk_size:
            if s:
                yield s
            return
        sep, rest = seps[0], seps[1:]
        if sep == "":
            for i in range(0, len(s), chunk_size):
                yield s[i : i + chunk_size]
            return
        if sep not in s:
            yield from atomize(s, rest)
            return
        for part in s.split(sep):
            if not part:
                continue
            if len(part) > chunk_size:
                yield from atomize(part, rest)
            else:
                yield part

    pieces = list(atomize(text or "", SEPARATORS))
    if not pieces:
        return []

    chunks: list[str] = []
    cur: list[str] = []
    cur_len = 0
    for piece in pieces:
        extra = len(piece) + (1 if cur else 0)
        if cur and cur_len + extra > chunk_size:
            chunks.append(" ".join(cur))
            # retain tail pieces as the <=overlap prefix of the next chunk
            tail: list[str] = []
            tail_len = 0
            for p in reversed(cur):
                if tail_len + len(p) + (1 if tail else 0) > overlap:
                    break
                tail.insert(0, p)
                tail_len += len(p) + (1 if len(tail) > 1 else 0)
            cur, cur_len = tail, tail_len
            # the retained tail plus the incoming piece must still fit the
            # budget: shrink the tail from the front until it does (atomize
            # guarantees len(piece) <= chunk_size, so this terminates with
            # the invariant intact even when the tail empties)
            while cur and cur_len + len(piece) + 1 > chunk_size:
                dropped = cur.pop(0)
                cur_len -= len(dropped) + (1 if cur else 0)
            extra = len(piece) + (1 if cur else 0)
        cur.append(piece)
        cur_len += extra
    if cur:
        chunks.append(" ".join(cur))
    # LangChain strip_whitespace=True semantics: chunks are trimmed and
    # whitespace-only chunks dropped (found by hypothesis: text=' ')
    return [c for c in (c.strip() for c in chunks) if c]


def recursive_chunks(
    text: Column | str,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
) -> Column:
    """ARRAY<STRING> of recursive chunks, as an Arrow-batched pandas UDF."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _chunk(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: split_text_recursive(t, chunk_size, overlap)
        )

    return _chunk(F.col(text) if isinstance(text, str) else text)


def fixed_chunks(
    text: Column | str,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
) -> Column:
    """ARRAY<STRING> of fixed-width character windows (stride size-overlap)
    — pure built-in expressions, whole-stage-codegen friendly, and
    SQL-oracle expressible. Empty/whitespace text -> empty array."""
    stride = chunk_size - overlap
    t = F.col(text) if isinstance(text, str) else text
    n = F.length(t)
    # guard: sequence(0, -1) would generate a DESCENDING range, not empty
    starts = F.when(
        n > 0, F.sequence(F.lit(0), F.floor((n - 1) / stride).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(starts, lambda i: F.substring(t, i * stride + 1, chunk_size))
