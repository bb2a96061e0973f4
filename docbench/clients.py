"""Counting wrappers around the engine's hermetic embed and store clients.

The traced ingest run hands these to `pluggable_embedder` and
`upsert_points`; they count calls into a Spark accumulator and then do
exactly what the wrapped client does. Workers import this module by
name, so the checkout root must be on the workers' PYTHONPATH.
"""

from __future__ import annotations

from etl_ai_assistent_spark.operators.embedder import HashEmbedClient
from etl_ai_assistent_spark.operators.upsert import LocalParquetStoreClient


class CountingEmbedClient(HashEmbedClient):
    def __init__(self, batches):
        super().__init__()
        self._batches = batches

    def embed_batch(self, texts: list[str]) -> list[list[float]]:
        self._batches.add(1)
        return super().embed_batch(texts)


class CountingStoreClient(LocalParquetStoreClient):
    def __init__(self, out_dir: str, attempts, batches):
        super().__init__(out_dir)
        self._attempts = attempts
        self._batches = batches

    def upsert_batch(self, points: list[dict]) -> None:
        self._attempts.add(1)
        super().upsert_batch(points)
        self._batches.add(1)


def embed_factory(batches):
    return lambda: CountingEmbedClient(batches)


def store_factory(out_dir: str, attempts, batches):
    return lambda: CountingStoreClient(out_dir, attempts, batches)
