"""Operator-level tests for the text-ETL rewrites: chunker invariants,
sectionizer/caption-pairing semantics on handcrafted block fixtures
(the SURVEY.md §7 hard-part-1 edge cases), and embedder implementation
agreement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_ai_assistent_spark.operators.caption_pairing import pair_captions_window
from etl_ai_assistent_spark.operators.chunker import (
    fixed_chunks,
    recursive_chunks,
    split_text_recursive,
)
from etl_ai_assistent_spark.operators.embedder import embed_text, hash_embed_expr
from etl_ai_assistent_spark.operators.sectionizer import sectionize

# --- chunker ---------------------------------------------------------------


@pytest.mark.parametrize(
    "text",
    [
        "",
        "short",
        "word " * 500,
        "para one.\n\npara two is rather longer. " * 40,
        "x" * 2500,  # no separators at all -> hard char split
        "a\nb\nc" + " d" * 800,
        # regression: a long atom arriving after a full overlap tail used
        # to be appended without re-checking the budget -> 814-char chunk
        ("w" * 40 + " ") * 16 + "B" * 650,
    ],
)
def test_recursive_chunker_invariants(text):
    size, overlap = 700, 200
    chunks = split_text_recursive(text, size, overlap)
    joined_src = " ".join((text or "").split())
    for c in chunks:
        assert 0 < len(c) <= size
    # coverage: every chunk's content appears; combined tokens cover source
    if text.strip():
        assert chunks, "non-empty text must produce chunks"
        src_tokens = joined_src.split()
        out_tokens = [t for c in chunks for t in c.split()]
        if all(len(t) <= size for t in src_tokens):
            # oversized tokens get hard character-split, so coverage only
            # holds when every token fits a chunk
            assert set(src_tokens) <= set(out_tokens)
        # overlap: consecutive chunks share a suffix/prefix (when split on
        # spaces, the tail of chunk i re-appears at the head of chunk i+1)
        for a, b in zip(chunks, chunks[1:]):
            if " " in a and " " in b:
                assert b.split()[0] in a.split(), (a[-50:], b[:50])


def test_recursive_chunker_spark_matches_local(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(50)
    got = (
        docs.select("doc_id", recursive_chunks("text", 200, 50).alias("chunks"))
        .collect()
    )
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    for row in got:
        assert row["chunks"] == split_text_recursive(src[row["doc_id"]], 200, 50)


def test_recursive_chunker_budget_after_tail_regression():
    """Falsifying example from round 1: retained tail + next piece must
    re-check the chunk_size budget (hypothesis: 'aaaaaaa aaaaaaaaaaaaaa',
    size=21 produced a 22-char chunk)."""
    for text, size in [
        ("aaaaaaa aaaaaaaaaaaaaa", 21),
        (("w" * 40 + " ") * 16 + "B" * 650, 700),
    ]:
        for c in split_text_recursive(text, size, size // 3 if size < 700 else 200):
            assert 0 < len(c) <= size, (len(c), size)


def test_recursive_chunk_oracle_preconditions(spark, sf_small):
    """The q_chunk_recursive DuckDB oracle replays the merge as a token
    recurrence, exact only while the corpus is single-space-separated
    with every token <= chunk_size. Assert those preconditions so a
    future testdata change fails HERE with a diagnosis instead of as an
    opaque parity mismatch."""
    from etl_ai_assistent_spark.queries.text_etl import CHUNK_SIZE

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    bad = docs.filter(
        F.col("text").rlike("[\n\t\r]")
        | F.col("text").contains("  ")
        | (F.trim("text") != F.col("text"))
    ).count()
    assert bad == 0
    max_tok = docs.select(
        F.max(F.array_max(F.transform(F.split("text", " "), F.length)))
    ).first()[0]
    assert max_tok <= CHUNK_SIZE


def test_fixed_chunks_empty_text(spark):
    df = spark.createDataFrame([("",), ("abc",)], ["t"])
    out = df.select(fixed_chunks("t", 10, 2).alias("c")).collect()
    assert out[0]["c"] == []
    assert out[1]["c"] == ["abc"]


# --- sectionizer (G1 edge cases from FIXTURES.md doc_blocks) -----------------

BLOCKS = [
    # doc 1: text before any heading is dropped; two sections
    (1, 1, "preamble text", False),
    (1, 2, "Heading A", True),
    (1, 3, "body a1", False),
    (1, 4, "   ", False),  # whitespace-only dropped
    (1, 5, "body a2", False),
    (1, 6, "Heading B", True),
    (1, 7, "body b1", False),
    # doc 2: heading with no body -> section dropped
    (2, 1, "Heading C", True),
    (2, 2, "Heading D", True),
    (2, 3, "body d1", False),
]


def test_sectionizer_semantics(spark):
    blocks = spark.createDataFrame(
        BLOCKS, "doc_id long, block_idx int, text string, is_heading boolean"
    )
    out = {
        (r["doc_id"], r["title"]): (r["body"], r["n_paras"])
        for r in sectionize(blocks).collect()
    }
    assert out == {
        (1, "Heading A"): ("body a1 body a2", 2),
        (1, "Heading B"): ("body b1", 1),
        (2, "Heading D"): ("body d1", 1),
    }


# --- caption pairing (G2 edge cases) -----------------------------------------

CAP_BLOCKS = [
    # (doc, idx, text, is_caption, is_asset)
    (1, 1, "Table 1: first", True, False),
    (1, 2, "asset after caption", False, True),   # consumes caption 1
    (1, 3, "orphan asset", False, True),          # caption already consumed
    (1, 4, "Figure 2: overwritten", True, False),
    (1, 5, "Figure 3: winner", True, False),      # second caption wins
    (1, 6, "asset after two captions", False, True),
    (1, 7, "Table 4: dangling caption", True, False),  # no asset follows
    (2, 1, "asset with no caption ever", False, True),
]


def _pairs(df):
    return {
        (r["doc_id"], r["asset_block_idx"]): (
            r["caption_block_idx"],
            r["caption_text"],
        )
        for r in df.collect()
    }


EXPECTED_PAIRS = {
    (1, 2): (1, "Table 1: first"),
    (1, 3): (None, None),
    (1, 6): (5, "Figure 3: winner"),
    (2, 1): (None, None),
}


def test_caption_pairing_window_semantics(spark):
    blocks = spark.createDataFrame(
        CAP_BLOCKS,
        "doc_id long, block_idx int, text string, is_caption boolean, is_asset boolean",
    )
    assert _pairs(pair_captions_window(blocks)) == EXPECTED_PAIRS


def _pair_captions_replica(blocks):
    """The reference's sequential state machine (docx_parser.py:166-197)
    over (doc, idx, text, is_caption, is_asset) tuples."""
    out = {}
    for doc in sorted({b[0] for b in blocks}):
        pending = None
        for _, idx, text, is_cap, is_asset in sorted(
            b for b in blocks if b[0] == doc
        ):
            if is_cap:
                pending = (idx, text)  # a later caption overwrites
            elif is_asset:
                out[(doc, idx)] = pending if pending else (None, None)
                pending = None  # consumed
    return out


def test_caption_pairing_state_machine_agrees_with_window(spark):
    """The window twin equals the literal state machine on the edge-case
    fixture and on seeded random block sequences."""
    import random

    assert _pair_captions_replica(CAP_BLOCKS) == EXPECTED_PAIRS
    rng = random.Random(7)
    blocks = []
    for doc in range(1, 9):
        for idx in range(1, rng.randint(1, 30)):
            kind = rng.choice(("caption", "asset", "text"))
            blocks.append(
                (doc, idx, f"{kind} {doc}.{idx}", kind == "caption", kind == "asset")
            )
    df = spark.createDataFrame(
        blocks,
        "doc_id long, block_idx int, text string, is_caption boolean, is_asset boolean",
    )
    assert _pairs(pair_captions_window(df)) == _pair_captions_replica(blocks)


# --- embedder ------------------------------------------------------------------

def test_hash_embed_expr_matches_local(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(40)
    rows = docs.select(
        "doc_id", "text", hash_embed_expr("text", 32).alias("e_expr")
    ).collect()
    for r in rows:
        # exact, not approx: embed_text's norm fold is left-to-right like
        # the expression form, so the two paths are bit-identical
        assert r["e_expr"] == embed_text(r["text"], 32).tolist()
        norm = sum(x * x for x in r["e_expr"])
        assert norm == pytest.approx(1.0, abs=1e-9)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False


if HAVE_HYPOTHESIS:

    @settings(max_examples=200, deadline=None)
    @given(
        text=st.text(alphabet="ab .\n", max_size=2000),
        size=st.integers(min_value=20, max_value=400),
    )
    def test_recursive_chunker_properties(text, size):
        """Property-based invariants (SURVEY.md §7 hard-part 2): for any
        text and chunk size, every chunk fits; non-whitespace text always
        chunks; every source token whose length fits appears in some
        chunk; chunks are deterministic."""
        overlap = size // 3
        chunks = split_text_recursive(text, size, overlap)
        assert chunks == split_text_recursive(text, size, overlap)
        for c in chunks:
            assert 0 < len(c) <= size
        if text.strip():
            assert chunks
            src_tokens = set(t for t in text.split() if len(t) <= size)
            out_tokens = set(t for c in chunks for t in c.split())
            missing = {
                t
                for t in src_tokens
                if t not in out_tokens
                and not any(t in piece for piece in out_tokens)
            }
            assert not missing, missing
        else:
            assert chunks == []


# --- pluggable embedder client seam ------------------------------------------

def _flaky_client_factory(dim, fail_first):
    """Factory for a client that fails its first `fail_first`
    embed_batch calls per instance, then delegates to the deterministic
    hash client — exercises the retry loop without any sleep. Defined
    INSIDE a function so cloudpickle ships the class by value (the tests
    module is not importable on executors)."""

    class _FlakyClient:
        def __init__(self):
            from etl_ai_assistent_spark.operators.embedder import HashEmbedClient

            self.inner = HashEmbedClient(dim)
            self.calls = 0

        def embed_batch(self, texts):
            self.calls += 1
            if self.calls <= fail_first:
                raise ConnectionError("transient")
            return self.inner.embed_batch(texts)

    return _FlakyClient


def test_pluggable_embedder_matches_expr(spark, sf_small):
    from etl_ai_assistent_spark.operators.embedder import (
        HashEmbedClient,
        pluggable_embedder,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(30)
    emb = pluggable_embedder(lambda: HashEmbedClient(32), dim=32, batch_size=7)
    both = docs.select(
        "doc_id",
        emb("text").alias("e_client"),
        hash_embed_expr("text", 32).alias("e_expr"),
    ).collect()
    assert both
    for r in both:
        assert r["e_client"] == pytest.approx(r["e_expr"], abs=1e-12)


def test_pluggable_embedder_retries_then_succeeds(spark, sf_small):
    from etl_ai_assistent_spark.operators.embedder import pluggable_embedder

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(5).coalesce(1)
    cls = _flaky_client_factory(16, fail_first=2)
    emb = pluggable_embedder(cls, dim=16, batch_size=100)
    rows = docs.select(emb("text").alias("e")).collect()
    assert len(rows) == 5
    assert all(len(r["e"]) == 16 for r in rows)


def test_pluggable_embedder_exhausted_retries_raises(spark, sf_small):
    from etl_ai_assistent_spark.operators.embedder import pluggable_embedder

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(3).coalesce(1)
    cls = _flaky_client_factory(16, fail_first=99)
    emb = pluggable_embedder(cls, dim=16, batch_size=100)
    with pytest.raises(Exception):
        docs.select(emb("text").alias("e")).collect()


def test_pluggable_embedder_pad_truncate(spark):
    from etl_ai_assistent_spark.operators.embedder import pluggable_embedder

    class _ShortLong:  # defined locally: shipped by value via cloudpickle
        def embed_batch(self, texts):
            return [[1.0, 2.0] for _ in texts]

    df = spark.createDataFrame([("x",), ("y",)], ["text"])
    padded = df.select(
        pluggable_embedder(lambda: _ShortLong(), dim=4)("text").alias("e")
    ).collect()
    assert padded[0]["e"] == [1.0, 2.0, 0.0, 0.0]
    truncated = df.select(
        pluggable_embedder(lambda: _ShortLong(), dim=1)("text").alias("e")
    ).collect()
    assert truncated[0]["e"] == [1.0]


def test_bpe_merge_replace_semantics_cross_engine(spark):
    """The BPE merge pass (q_bpe_merge_apply) leans on replace() being
    leftmost-non-overlapping with scan-continue-after-replacement on
    every engine. Adversarial overlapping runs, checked Spark vs
    Python vs DuckDB."""
    import duckdb
    from pyspark.sql import functions as F

    cases = [" a a a ", " a a a a a ", " b a a b ", " a a ", " x ", " a a a a "]
    con = duckdb.connect()
    df = spark.createDataFrame([(c,) for c in cases], "s string").select(
        "s", F.replace(F.col("s"), F.lit(" a a "), F.lit(" aa ")).alias("r")
    )
    for row in df.collect():
        py = row["s"].replace(" a a ", " aa ")
        duck = con.execute(
            "select replace(?, ' a a ', ' aa ')", [row["s"]]
        ).fetchone()[0]
        assert row["r"] == py == duck, (row["s"], row["r"], py, duck)


def test_vocab_ranking_is_a_bounded_sort(spark, sf_small):
    """q_vocab_encode's dictionary build must not global-sort the whole
    vocabulary through one partition: the limit keeps the single-
    partition window input at VOCAB_TOP rows, visible in the plan as a
    TakeOrderedAndProject (or a LocalLimit under AQE) feeding the
    rank."""
    from etl_ai_assistent_spark.queries.text_analysis import q_vocab_encode

    df = q_vocab_encode(spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan, plan


def test_token_count_matches_size_of_tokens(spark):
    """token_count (regexp_count form, r14) must equal
    size(tokens(text)) for every input shape: empty, whitespace-only,
    tabs/newlines/CR/FF runs, leading/trailing separators, single
    token, unicode text, and NULL."""
    from pyspark.sql import functions as F

    from etl_ai_assistent_spark.functions import text as TX

    rows = [
        ("",),
        ("   ",),
        ("\t\n\r\f",),
        ("one",),
        (" one ",),
        ("a b",),
        ("a  b\t\tc\nd",),
        ("  lead and trail  ",),
        ("x\ny\rz\fw\x0bv",),
        ("héllo wörld  ünï",),
        ("a" * 5000 + " " + "b" * 5000,),
        (None,),
    ]
    df = spark.createDataFrame(rows, "text string")
    bad = df.select(
        F.size(TX.tokens("text")).alias("a"),
        TX.token_count("text").alias("b"),
        "text",
    ).filter(
        "(a IS NULL) <> (b IS NULL) OR (a IS NOT NULL AND a <> b)"
    )
    assert bad.count() == 0, bad.collect()
