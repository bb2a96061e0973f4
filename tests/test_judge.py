"""LLM-judge scoring seam (operators/judge.py): deterministic lexical
scores, batching behavior, and client pluggability — the per-row RAGAS
scorer plumbing of reference make_ragas_dataset.py:78-110 (exact score
values vs DuckDB are covered by q_rag_judged in test_parity.py)."""

from __future__ import annotations

from etl_ai_assistent_spark.operators.judge import (
    BATCH_SIZE,
    DeterministicLexicalJudge,
    JudgeClient,
    judge_scores,
)

QA_SCHEMA = "probe_id bigint, question string, answer string, contexts array<string>"


def test_lexical_judge_scores(spark):
    rows = [
        # answer fully grounded in contexts; q∩a = {cat}; |q∪a| = 3
        (1, "the cat", "cat sat", ["the cat sat on a mat"]),
        # nothing grounded
        (2, "dog", "zebra", ["unrelated words only"]),
        # empty contexts
        (3, "x", "x", []),
    ]
    qa = spark.createDataFrame(rows, QA_SCHEMA)
    got = {r["probe_id"]: r for r in judge_scores(qa).collect()}
    assert got[1]["faithfulness_ppm"] == 1_000_000
    assert got[1]["relevancy_ppm"] == (1_000_000 * 1) // 3
    assert got[2]["faithfulness_ppm"] == 0
    assert got[2]["relevancy_ppm"] == 0
    assert got[3]["faithfulness_ppm"] == 0  # empty context set grounds nothing
    assert got[3]["relevancy_ppm"] == 1_000_000
    assert got[3]["n_contexts"] == 0


def test_judge_rechunks_to_batch_size(spark):
    # local class: cloudpickle ships it by value (the test module is not
    # importable on executors)
    class BatchCountingJudge(JudgeClient):
        """Proves re-chunking: every score_batch call must see
        <= batch_size rows; observed sizes are smuggled out through the
        score columns."""

        def score_batch(self, rows):
            return [
                {
                    "probe_id": r["probe_id"],
                    "n_contexts": len(rows),  # observed batch size
                    "faithfulness_ppm": 0,
                    "relevancy_ppm": 0,
                }
                for r in rows
            ]

    n = 2 * BATCH_SIZE + 6
    qa = spark.createDataFrame(
        [(i, "q", "a", []) for i in range(n)], QA_SCHEMA
    ).coalesce(1)
    out = judge_scores(qa, BatchCountingJudge).collect()
    sizes = [r["n_contexts"] for r in out]
    assert len(out) == n
    assert max(sizes) <= BATCH_SIZE  # no call exceeded the batch bound


def test_judge_client_is_pluggable(spark):
    """A swapped-in client (the LLM-judge production shape) changes
    scores with zero dataflow changes."""

    class ConstantJudge(JudgeClient):
        def score_batch(self, rows):
            return [
                {
                    "probe_id": r["probe_id"],
                    "n_contexts": 0,
                    "faithfulness_ppm": 777,
                    "relevancy_ppm": 778,
                }
                for r in rows
            ]

    qa = spark.createDataFrame([(1, "q", "a", ["c"])], QA_SCHEMA)
    (row,) = judge_scores(qa, ConstantJudge).collect()
    assert (row["faithfulness_ppm"], row["relevancy_ppm"]) == (777, 778)


def test_lexical_judge_matches_python_reference():
    """Pure-python contract check (no Spark): distinct-token floor-div
    ppm definitions."""
    j = DeterministicLexicalJudge()
    (out,) = j.score_batch(
        [
            {
                "probe_id": 9,
                "question": "A b C",
                "answer": "a x",
                "contexts": ["A y", "x z"],
            }
        ]
    )
    # answer tokens {a, x}; context tokens {a, y, x, z} -> faith = 1.0
    assert out["faithfulness_ppm"] == 1_000_000
    # q = {a, b, c}; a∩q = {a}; union = {a, b, c, x}
    assert out["relevancy_ppm"] == (1_000_000 * 1) // 4
