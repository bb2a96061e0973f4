"""Per-row LLM-judge scoring seam (reference make_ragas_dataset.py:78-110).

The reference scores every (question, answer, contexts) row of its RAG
dataset with LLM-judged RAGAS metrics (Faithfulness, AnswerRelevancy,
ContextPrecision/Recall via OpenRouter). An external LLM is not
reproducible in a hermetic engine, so — exactly like the embedding seam
(operators/embedder.py) and the vector-store seam (operators/upsert.py)
— the JUDGE is a pluggable batched client: the Spark-side plumbing
(Arrow-batched mapInPandas, bounded batch sizes, client constructed
inside the task, stable output schema) is real and verified, and the
default adapter is a deterministic lexical judge whose scores a DuckDB
oracle replays bit-exactly.

A production adapter implements ``score_batch`` with an HTTP LLM call
(the reference's evaluate(dataset, metrics=[...]) loop) and NOTHING else
changes: same dataflow, same schema, same batching. Scores are integer
parts-per-million so the deterministic path has no float folding.

Scale shape: scoring is a narrow map over QA rows (no shuffle); batch
size bounds per-call latency/memory; with a remote judge the RPC count
is ceil(rows / batch_size) parallelized across executors.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

BATCH_SIZE = 64  # rows per judge call

JUDGE_SCHEMA = (
    "probe_id bigint, n_contexts int, faithfulness_ppm bigint, "
    "relevancy_ppm bigint"
)


class JudgeClient:
    """Contract a judge adapter implements. Constructed INSIDE the
    executor task (the factory ships, not the client), so adapters may
    open network sessions in __init__.

    ``score_batch`` takes a list of QA rows
    ``{"probe_id": int, "question": str, "answer": str,
    "contexts": list[str]}`` and returns one metrics dict per row, in
    order: ``{"probe_id", "n_contexts", "faithfulness_ppm",
    "relevancy_ppm"}`` (ppm = integer parts-per-million in [0, 1e6])."""

    def score_batch(self, rows: list[dict]) -> list[dict]:
        raise NotImplementedError

    def close(self) -> None:  # optional teardown per task
        pass


class DeterministicLexicalJudge(JudgeClient):
    """Hermetic default judge — the LLM-free analogue of the two
    reference metrics whose *definitions* are lexical at heart:

    - faithfulness_ppm: fraction of the answer's DISTINCT tokens that
      are grounded in (appear anywhere in) the retrieved contexts —
      RAGAS Faithfulness's "claims supported by context", with distinct
      tokens standing in for LLM-extracted claims.
    - relevancy_ppm: Jaccard overlap of question and answer distinct
      tokens — RAGAS AnswerRelevancy's "answer addresses the question",
      without the LLM paraphrase step.

    Tokenization is lower + whitespace split (functions/text.tokens and
    the oracle's string_split_regex agree); scores are exact integer
    floor-divisions, so any engine replays them bit-identically."""

    @staticmethod
    def _toks(text: str) -> set:
        return set((text or "").lower().split())

    def score_batch(self, rows: list[dict]) -> list[dict]:
        out = []
        for r in rows:
            q = self._toks(r["question"])
            a = self._toks(r["answer"])
            ctx: set = set()
            for c in r["contexts"] or []:
                ctx |= self._toks(c)
            faith = (1_000_000 * len(a & ctx)) // len(a) if a else 0
            union = q | a
            rel = (1_000_000 * len(q & a)) // len(union) if union else 0
            out.append(
                {
                    "probe_id": int(r["probe_id"]),
                    "n_contexts": len(r["contexts"] or []),
                    "faithfulness_ppm": faith,
                    "relevancy_ppm": rel,
                }
            )
        return out


def judge_scores(qa: DataFrame, client_factory=DeterministicLexicalJudge) -> DataFrame:
    """Score a QA DataFrame (probe_id, question, answer,
    contexts ARRAY<STRING>) with a judge client, Arrow-batched.

    mapInPandas (not a scalar pandas UDF) because a judge call is a
    BATCH RPC with its own preferred size: rows are re-chunked to
    BATCH_SIZE regardless of Arrow's batch geometry, one client per
    task, no shuffle introduced."""

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = client_factory()
        try:
            for pdf in batches:
                for lo in range(0, len(pdf), BATCH_SIZE):
                    chunk = pdf.iloc[lo : lo + BATCH_SIZE]
                    rows = [
                        {
                            "probe_id": int(r.probe_id),
                            "question": r.question,
                            "answer": r.answer,
                            "contexts": list(r.contexts)
                            if r.contexts is not None
                            else [],
                        }
                        for r in chunk.itertuples()
                    ]
                    yield pd.DataFrame(client.score_batch(rows))
        finally:
            client.close()

    return qa.mapInPandas(score, schema=JUDGE_SCHEMA)
