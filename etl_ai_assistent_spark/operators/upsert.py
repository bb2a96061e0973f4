"""K4 external batched-upsert sink (reference qdrant_service.py:24-42).

The reference pushes every parsed paragraph to its vector store with one
network upsert PER CHUNK inside a Python loop — the per-row-RPC
anti-pattern. The Spark-first shape is: executors push PARTITION-LOCAL
BATCHES through ``foreachPartition``, with the store client constructed
inside the task (never a live socket captured in a closure), bounded
batch sizes, and per-batch retry. Total RPC count is
ceil(rows / batch_size), parallelized across executors — at 100 TB the
sink scales with the cluster and the store's ingest quota, not the
driver.

Like the EmbedClient seam (operators/embedder.py), the client contract
is one batch method. The hermetic/test adapter writes parquet locally
and is deterministic; a production adapter (HTTP vector store, JDBC,
etc.) implements the same two methods and nothing else changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from .embedder import MAX_RETRIES


class VectorStoreClient:
    """Contract an external point-store adapter implements. Construction
    happens INSIDE the executor task (the factory is shipped, not the
    client), so implementations may open sockets in __init__.

    ``upsert_batch`` must be idempotent per point id (retry safety): a
    replayed batch may not duplicate points — which is exactly the
    vector-store upsert contract the reference relies on."""

    def upsert_batch(self, points: list[dict]) -> None:
        raise NotImplementedError

    def close(self) -> None:  # optional: flush/teardown per task
        pass


class LocalParquetStoreClient(VectorStoreClient):
    """Deterministic local adapter — the hermetic stand-in for an HTTP
    vector store in tests (one parquet file per upserted batch, named by
    task partition + batch ordinal so reruns overwrite rather than
    append). On a cluster this shape would write executor-local or
    object storage; it exists so the verified path has zero network."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self._n = 0
        os.makedirs(out_dir, exist_ok=True)

    def upsert_batch(self, points: list[dict]) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        cols: dict[str, list] = {k: [p[k] for p in points] for k in points[0]}
        # Filename carries (partition, ordinal): a retried or replayed
        # task overwrites its own files (idempotent).
        pq.write_table(
            pa.table(cols),
            os.path.join(self.out_dir, f"part_{pid:05d}_{self._n:05d}.parquet"),
        )
        self._n += 1


class FlakyStoreClient(VectorStoreClient):
    """Test adapter: fails the first attempt at each batch (marker dirs
    under ``out_dir``) then delegates to the local parquet adapter —
    exercises the retry path end to end."""

    def __init__(self, out_dir: str):
        self.inner = LocalParquetStoreClient(out_dir)
        self.fail_dir = os.path.join(out_dir, "_failures")
        os.makedirs(self.fail_dir, exist_ok=True)

    def upsert_batch(self, points: list[dict]) -> None:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        marker = os.path.join(self.fail_dir, f"p{pid}_b{self.inner._n}")
        if not os.path.isdir(marker):
            os.makedirs(marker)
            raise ConnectionError("injected store failure")
        self.inner.upsert_batch(points)


def upsert_points(
    df: DataFrame,
    client_factory,
    *,
    batch_size: int = 256,
) -> None:
    """Batched distributed upsert: every partition opens ONE client,
    groups its rows into ``batch_size`` point batches, and tries each
    batch up to MAX_RETRIES times, immediately. Rows are
    shipped as plain dicts (id / vector / payload columns — whatever the
    DataFrame carries; deterministic ids are P14's job upstream)."""

    def _send(rows) -> None:
        client = client_factory()
        try:
            batch: list[dict] = []

            def flush() -> None:
                if not batch:
                    return
                for attempt in range(MAX_RETRIES):
                    try:
                        client.upsert_batch(batch)
                        break
                    except Exception:
                        if attempt == MAX_RETRIES - 1:
                            raise
                batch.clear()

            for row in rows:
                batch.append(row.asDict(recursive=True))
                if len(batch) >= batch_size:
                    flush()
            flush()
        finally:
            client.close()

    df.foreachPartition(_send)
