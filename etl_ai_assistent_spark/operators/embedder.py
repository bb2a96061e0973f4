"""G4 — the embedding operator (reference embedder_service.py:4-9).

The reference calls an external Ollama model per text (one HTTP call per
chunk — the anti-pattern SURVEY.md §4 flags). The engine's default is a
deterministic feature-hash embedding: tokenize -> md5-bucket -> TF vector
-> L2 normalize. Seeded by nothing, network-free, reproducible — the
property the verified pipeline needs (SURVEY.md §7 hard-parts 3/5). An
external-model client can implement the same ``embed(text) ->
array<float>`` contract behind pluggable_embedder().

``hash_embed_expr`` is that embedding as a pure built-in column
expression — JVM-side and mirrorable in DuckDB SQL for the oracle gate.
NOTE: the higher-order functions (transform/filter/aggregate) run
INTERPRETED, not whole-stage-codegen'd, and a Column captured inside a
lambda is re-evaluated per array element — bind expensive inputs once
with functions.bind (operators/dedup.minhash_bands does the same).
``embed_text`` is its bit-exact driver-side twin.

``pluggable_embedder`` is the production seam the reference's external
model slots into (embedder_service.py:4-9: one HTTP call per chunk, the
anti-pattern): the same array<double> column contract, but batched
through an EmbedClient with retry + pad/truncate, constructed once per
executor task rather than once per row.

All are narrow per-row transforms: embedding 100 TB never shuffles.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import bind, md5_bucket
from ..functions import text as TX

DEFAULT_DIM = 64  # testdata embedding dim; reference uses 1024
MAX_RETRIES = 3  # attempts per client batch, here and in operators/upsert.py


def hash_embed_expr(text: Column | str, dim: int = DEFAULT_DIM) -> Column:
    """ARRAY<DOUBLE> L2-normalized hashed-TF embedding, built-ins only.
    `buckets`, `tf` and the norm are each bound once (functions.bind), so
    a row hashes each token once instead of once per (bucket, element) pair."""
    toks = TX.tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    buckets = F.transform(toks, lambda t: md5_bucket(t) % dim)

    def counts(bs: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda b: F.size(F.filter(bs, lambda x: x == b.cast("bigint"))).cast(
                "double"
            ),
        )

    def normalize(tf: Column) -> Column:
        return bind(
            F.sqrt(F.aggregate(tf, F.lit(0.0), lambda a, x: a + x * x)),
            lambda norm: F.when(
                norm > 0, F.transform(tf, lambda x: x / norm)
            ).otherwise(tf),
        )

    return bind(buckets, lambda bs: bind(counts(bs), normalize))


def _bucket(token: str, dim: int) -> int:
    return int(hashlib.md5(token.encode("utf-8")).hexdigest()[:8], 16) % dim


def embed_text(text: str, dim: int = DEFAULT_DIM) -> np.ndarray:
    """Driver-side single-text twin of hash_embed_expr (for tests and
    ad-hoc query vectors). BIT-exact against the expression form: the
    squared-norm accumulates left-to-right (the aggregate/list_reduce
    fold order both engines use) rather than np.sum's pairwise order —
    an ulp in the norm would otherwise leak through the division and
    flake rounded checksums at scale."""
    toks = (text or "").lower().split()
    tf = np.zeros(dim, dtype=np.float64)
    if toks:
        np.add.at(tf, [_bucket(t, dim) for t in toks], 1.0)
    n2 = 0.0
    for x in tf:
        n2 += x * x
    n = np.sqrt(n2)
    return tf / n if n > 0 else tf


# --- pluggable external-model client seam --------------------------------

class EmbedClient:
    """The contract an external embedding service adapter implements
    (reference embedder_service.py:4-9 — the Ollama HTTP call). One
    method, batch-in/batch-out: ``embed_batch(texts) -> list of float
    vectors`` (any dim; pad/truncate to the operator's dim happens in
    the engine, mirroring the reference's P11 pad-with-0.0 contract,
    embedder_service.py:6-9). Implementations must be constructible
    inside an executor task (no live sockets captured in the closure)."""

    def embed_batch(self, texts: list[str]) -> list[list[float]]:
        raise NotImplementedError


class HashEmbedClient(EmbedClient):
    """The local, deterministic client — the fake that stands in for an
    HTTP model in tests and hermetic runs; bit-identical to
    hash_embed_expr."""

    def __init__(self, dim: int = DEFAULT_DIM):
        self.dim = dim

    def embed_batch(self, texts: list[str]) -> list[list[float]]:
        return [embed_text(t, self.dim).tolist() for t in texts]


def pluggable_embedder(
    client_factory,
    *,
    dim: int = DEFAULT_DIM,
    batch_size: int = 64,
):
    """Column factory: ``pluggable_embedder(lambda: MyClient())("text")``
    returns an ARRAY<DOUBLE> column computed by the client in batches of
    ``batch_size`` with up to MAX_RETRIES immediate attempts per batch —
    the knobs a production HTTP embedder needs (the reference
    calls the model one chunk at a time with no retry; this is that
    seam done batch-first). The client is constructed once per executor
    task via ``client_factory`` (a picklable zero-arg callable), never
    shipped live from the driver. Vectors shorter than ``dim`` are
    padded with 0.0, longer ones truncated (P11 semantics)."""

    def _fit(vec: list[float]) -> list[float]:
        if len(vec) >= dim:
            return [float(x) for x in vec[:dim]]
        return [float(x) for x in vec] + [0.0] * (dim - len(vec))

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _embed(s: pd.Series) -> pd.Series:
        client = client_factory()
        out: list[list[float]] = []
        texts = s.fillna("").tolist()
        for start in range(0, len(texts), batch_size):
            batch = texts[start : start + batch_size]
            for attempt in range(MAX_RETRIES):
                try:
                    vecs = client.embed_batch(batch)
                    break
                except Exception:
                    if attempt == MAX_RETRIES - 1:
                        raise
            out.extend(_fit(v) for v in vecs)
        return pd.Series(out, index=s.index)

    def apply(text: Column | str) -> Column:
        return _embed(F.col(text) if isinstance(text, str) else text)

    return apply
