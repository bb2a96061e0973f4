"""Text column functions.

Reference-parity scalar ops (SURVEY.md §2.3) plus the text-analysis
building blocks the LLM-data-pipeline extensions need (token counting,
word shingles, language-ID scoring). All pure built-in
expressions — JVM-side, codegen'd, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# caption prefixes recognized by the reference (docx_parser.py:25-26)
CAPTION_PREFIX_RE = r"^(рис|figure|рисунок|таблица|table)"
TABLE_PREFIX_RE = r"^(таблица|table)"

_c = lambda c: F.col(c) if isinstance(c, str) else c  # noqa: E731


def is_heading(style: Column | str) -> Column:
    """P4 (docx_parser.py:72-73): the style-name prefix 'Heading'
    classifies headings."""
    return _c(style).startswith("Heading")


def looks_like_caption(style: Column | str, text: Column | str) -> Column:
    """P5 (docx_parser.py:98-104): Caption style OR caption-word prefix."""
    return (_c(style) == "Caption") | F.lower(F.trim(_c(text))).rlike(
        CAPTION_PREFIX_RE
    )


def caption_kind(text: Column | str) -> Column:
    """P6 (docx_parser.py:107-111): table vs figure by prefix."""
    return F.when(
        F.lower(F.trim(_c(text))).rlike(TABLE_PREFIX_RE), F.lit("table")
    ).otherwise(F.lit("figure"))


def sanitize_caption(text: Column | str) -> Column:
    """P7 (docx_parser.py:114-117): whitespace->_, strip non-word chars,
    truncate to 128 chars, default 'asset'."""
    s = F.regexp_replace(F.trim(_c(text)), r"\s+", "_")
    s = F.regexp_replace(s, r"[^\w\-.]", "")
    s = F.substring(s, 1, 128)
    return F.coalesce(F.nullif(s, F.lit("")), F.lit("asset"))


def normalize_ws(text: Column | str) -> Column:
    """P10 (docx_parser.py:160): collapse all whitespace runs to one space."""
    return F.regexp_replace(F.trim(_c(text)), r"\s+", " ")


def title_text(title: Column | str, text: Column | str) -> Column:
    """P9 (qdrant_service.py:33): the embedded string is 'title: text'."""
    return F.concat_ws(": ", _c(title), _c(text))


# --- text analysis building blocks (north-star extensions) ---------------


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization; '' rows give an empty array, not ['']."""
    t = F.trim(_c(text))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


# DuckDB twin of tokens(lower(text)), spliced into the oracle SQL.
TOKENS_SQL = """
CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
     ELSE string_split_regex(lower(trim(text)), '\\s+') END
"""


def token_count(text: Column | str) -> Column:
    """size(tokens(text)) WITHOUT materializing the token array (r14,
    guide §1.2 per-task work): after trim there are no leading/trailing
    separators, so the whitespace-token count is (number of interior
    \\s+ runs) + 1, '' counts 0, and NULL stays NULL — regexp_count
    only scans the bytes where split+size copied every text byte into
    a throwaway array of UTF8Strings (measured: the q_curation_pipeline
    keeper-sizing stage 2.5 → 1.7 s warm at sf0.1). Same Java regex
    engine and \\s class as tokens()'s split, so the count is identical
    for EVERY input — pinned against size(tokens()) in
    tests/test_text_operators.py, and 0 mismatches over the full sf0.1
    corpus when adopted."""
    t = F.trim(_c(text))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.regexp_count(t, F.lit(r"\s+")) + F.lit(1)
    )


def word_shingles(text: Column | str) -> Column:
    """Distinct word 3-grams — the MinHash/Jaccard unit. Built from
    tokens() with transform over indices; stays JVM-side.

    The tokenizer output is bound to a LAMBDA VARIABLE (a transform over
    a 1-element array) before the per-gram element_at references:
    inlined directly, CollapseProject would duplicate the split() into
    every one of the 3 references per gram — re-tokenizing the document
    3 times per gram (the blowup fixed in queries/curation.py)."""
    toks = tokens(F.lower(_c(text)))

    def grams_of(t: Column) -> Column:
        k = F.size(t) - 2
        grams = F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j) for j in range(3)]
            ),
        )
        # sequence(1, k<=0) would generate a DESCENDING range — guard
        return F.when(k >= 1, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(toks), grams_of), 1)


# Per-language stopword profiles for the n-gram/stopword language-ID
# heuristic (north-star text analysis). Tiny fixed sets — the operator is
# about deterministic scoring mechanics, not linguistic coverage.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "mit", "von"),
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "los", "y", "en", "es"),
    "fr": ("le", "la", "les", "et", "des", "en", "est"),
}
CJK_RE_JAVA = "[\\u4e00-\\u9fff]"


def stopword_hits_in(tok_col: Column | str, stopwords: tuple[str, ...]) -> Column:
    """Occurrence count (not distinct) of profile stopwords in an
    already-tokenized array column — one language-ID score channel.
    Tokenize once and score every profile over that column."""
    return F.size(F.filter(_c(tok_col), lambda x: x.isin(*stopwords)))


def cjk_char_count(text: Column | str) -> Column:
    """CJK-ideograph count — the zh score channel (char-class evidence
    instead of stopwords)."""
    t = _c(text)
    return F.length(t) - F.length(F.regexp_replace(t, CJK_RE_JAVA, ""))
