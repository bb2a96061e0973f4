"""Deduplication operators — the north-star LLM-data-pipeline family
(BASELINE.json; the reference declared rapidfuzz for this but never built
it, pyproject.toml:22 / SURVEY.md §2.6).

Five detectors, all candidate-generation-first (banding / hashing equi-
joins) so nothing ever materializes an O(n²) cross product at 100 TB:

- exact            hash-groupBy on normalized text; keeper = min id.
- minhash_lsh      word-shingles -> one md5 bucket each -> K universal
                   affine minhashes -> banded signatures -> equi-join on
                   (band_idx, band_hash) -> verify true Jaccard on
                   candidates only.
- simhash          frequency-weighted bit-vote signature; candidates via
                   byte-banding; verify Hamming distance on candidates.
- ngram_jaccard    the verify metric exposed standalone for scored pairs.
- embedding cosine near-dup lives in operators/similarity.py (same
                   banding logic via IVF cluster ids at scale).

Every hash is md5-derived (identical in Spark and DuckDB), so the whole
family is oracle-checkable bit-for-bit — no engine-specific hash
functions (xxhash64 etc.) in verified paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import bind, md5_bucket
from ..functions import text as TX

MERSENNE31 = 2_147_483_647


def normalized_text_key(text: Column | str) -> Column:
    """Exact-dedup key: md5 of lowercased, whitespace-collapsed text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(TX.normalize_ws(F.lower(c)))


def exact_dedup(df: DataFrame) -> DataFrame:
    """One row per distinct normalized text: (text_key, keeper id,
    dup_count). Map-side partial agg makes this one light shuffle of
    (key, id) pairs regardless of corpus size."""
    return (
        df.select(normalized_text_key("text").alias("text_key"), F.col("doc_id"))
        .groupBy("text_key")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("dup_count"),
        )
    )


def shingle_buckets(text: Column | str) -> Column:
    """ARRAY<BIGINT>: one md5 bucket per distinct word 3-shingle — the
    single expensive hash pass; every minhash function derives from it
    by cheap affine transforms."""
    return F.transform(TX.word_shingles(text), lambda s: md5_bucket(s))


def minhash_from_buckets(buckets: Column, k: int = 8) -> Column:
    """ARRAY<BIGINT> of k minhash values from a (staged) shingle-bucket
    array column: mh_j = min over buckets x of (a_j*x + c_j) mod 2^31-1
    with a_j=(2j+1)*1000003, c_j=7919j+1 (universal-hash family; one md5
    per shingle total, not per (j, shingle) — and `buckets` must be a
    column reference or a bound variable (functions.bind) so the plan
    evaluates it once per row, not once per lambda iteration). No
    64-bit overflow: a_j < 2^24 and x < 2^32 keep a_j*x < 2^56."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: F.array_min(
            F.transform(
                buckets,
                lambda x: ((j * 2 + 1) * 1000003 * x + j * 7919 + 1)
                % MERSENNE31,
            )
        ),
    )


def minhash_bands(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 2,
) -> DataFrame:
    """(id, band_idx, band_hash) — the LSH bucketing table. Equal band
    hash => candidate pair. rows_per_band = k/bands tunes the
    sensitivity curve (P[candidate] = 1-(1-j^r)^b).

    The shingle buckets and the minhash signature are each bound once
    per row (functions.bind): captured inside the k minhash lambdas or
    the banding lambda, either would be re-evaluated per array element
    (higher-order functions run interpreted, so that recomputation is
    the dominant cost). md5 runs once per shingle and the k affine
    transforms read the bound array — the same one-hash-pass discipline
    a 100 TB run gets by materializing the signature table to parquet.
    A document without shingles has a null signature and no bands."""
    r = k // bands

    def band_hashes(mh: Column) -> Column:
        return F.when(
            mh[0].isNotNull(),
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(mh, F.lit(i + 1) + b * r).cast("string")
                            for i in range(r)
                        ],
                    )
                ),
            ),
        )

    signature = bind(
        shingle_buckets(text_col),
        lambda sb: bind(minhash_from_buckets(sb, k), band_hashes),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(signature).alias("band_idx", "band_hash"),
    )


def jaccard(a: Column, b: Column) -> Column:
    """|A ∩ B| / |A ∪ B| over distinct-element arrays."""
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def minhash_near_dup_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: banded candidates (equi-join,
    never a cross product), then true-Jaccard verification on candidates
    only. Output: (id_a < id_b, jaccard >= threshold).

    The banded-signature table feeds both sides of the candidate
    self-join; the two sides' identical exchanges are reused, so the
    hash pipeline runs once. At 100 TB the same move is writing the
    signature table to parquet before the candidate join — one hash
    pass over the corpus, ever."""
    banded = minhash_bands(df, text_col=text_col, id_col=id_col, k=k, bands=bands)
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sh = df.select(
        F.col(id_col).alias("id"), TX.word_shingles(text_col).alias("sh")
    )
    verified = (
        cands.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def token_buckets(text: Column | str) -> Column:
    """ARRAY<BIGINT>: one md5 bucket per (lowercased) token — the single
    hash pass SimHash's bit votes derive from."""
    toks = TX.tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    return F.transform(toks, lambda t: md5_bucket(t))


def simhash_from_buckets(hashes: Column, bits: int = 16) -> Column:
    """Frequency-weighted SimHash signature from a (staged) token-bucket
    array column: bit b is set when the sum over tokens of (bit b of
    bucket ? +1 : -1) is >= 0. Pure built-in expressions (bit tests via
    DIV/%, since shiftright needs a literal); empty docs hash to
    all-ones (every vote is 0). Pass a real column reference so the
    bucket array is computed once per row, not once per bit."""
    bit_vals = F.transform(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        lambda b: F.when(
            F.aggregate(
                hashes,
                F.lit(0).cast("bigint"),
                lambda acc, h: acc
                + F.when(
                    (h.cast("bigint") / F.pow(F.lit(2), b).cast("bigint"))
                    .cast("bigint") % 2
                    == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1)),
            )
            >= 0,
            F.pow(F.lit(2), b).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(bit_vals, F.lit(0).cast("bigint"), lambda a, x: a + x)


def simhash_near_dup_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup: candidates share at least one signature half
    (byte-banding — pigeonhole guarantees recall for hamming <= bits/16
    per half), verified with bit_count(xor) on candidates only."""
    half = 1 << (bits // 2)
    sigs = (
        df.select(F.col(id_col).alias("id"), token_buckets(text_col).alias("h"))
        .select("id", simhash_from_buckets(F.col("h"), bits).alias("sig"))
        .withColumns(
            {
                "hi": (F.col("sig") / half).cast("bigint"),
                "lo": F.col("sig") % half,
            }
        )
    )
    banded = sigs.select(
        "id",
        "sig",
        F.posexplode(F.array("hi", "lo")).alias("band_idx", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def jaccard_prefix_pairs(docs: DataFrame, num: int, den: int) -> DataFrame:
    """EXACT Jaccard self-join via PREFIX FILTERING (the AllPairs/PPJoin
    family, Bayardo et al. 2007 / Xiao et al. 2008): every pair of docs
    with shingle Jaccard >= num/den is returned, deterministically —
    the lossless complement to the probabilistic MinHash path.

    Order every doc's shingle set by one global total order (document
    frequency ASC, then shingle — rare first) and keep the first
    n - ceil(tau*n) + 1 entries as the PREFIX; any qualifying pair MUST
    share a prefix entry, so candidates come from an equi-join on
    prefix shingles only and exact Jaccard verifies each. Returns
    (id_a, id_b, jacc_ppm) with id_a < id_b.

    Scale: df ranking + prefix extraction are two keyed shuffles and a
    per-doc array_sort (the (df, gram) order is computable per element,
    no global sort). Rare-first ordering keeps prefix posting lists the
    SHORTEST ones; verification touches candidates only."""
    sh = docs.select(
        F.col("id").alias("id"), TX.word_shingles("text").alias("sh")
    ).filter(F.size("sh") > 0)
    ex = sh.select("id", F.explode("sh").alias("g"))
    dfs = ex.groupBy("g").agg(F.count("*").cast("bigint").alias("df"))
    ordered = (
        ex.join(dfs, "g")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "g"))).alias("arr"))
    )
    n = F.size("arr")
    pref_len = n - F.expr(f"({num} * size(arr) + {den - 1}) div {den}") + 1
    cand = ordered.select(
        "id",
        F.explode(
            F.transform(F.slice("arr", F.lit(1), pref_len), lambda x: x["g"])
        ).alias("g"),
    )
    pairs = (
        cand.alias("a")
        .join(
            cand.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sets = ordered.select("id", F.transform("arr", lambda x: x["g"]).alias("s"))
    sa = sets.select(F.col("id").alias("id_a"), F.col("s").alias("s_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    union = F.size("s_a") + F.size("s_b") - inter
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("_i", inter)
        .withColumn("_u", union)
        .filter(F.col("_i") * den >= num * F.col("_u"))
        .select(
            "id_a",
            "id_b",
            F.expr("CAST(1000000 * _i div _u AS BIGINT)").alias("jacc_ppm"),
        )
    )


def fingerprint(text: Column | str) -> Column:
    """Order-sensitive document fingerprint: left-to-right polynomial
    rolling hash over token buckets, h = (h*31 + bucket) mod 2^31-1.
    Unlike the set-based detectors this distinguishes permutations."""
    toks = TX.tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    return F.aggregate(
        F.transform(toks, lambda t: md5_bucket(t)),
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * 31 + t) % MERSENNE31,
    )


def shared_span_stats(docs: DataFrame, k: int) -> DataFrame:
    """Cross-document repeated-span statistics: every overlapping
    k-token span of every document is hashed (32-bit md5 prefix of the
    joined tokens); a span present in >= 2 DISTINCT documents is
    "shared". Returns one row per document with >= k tokens:
    (doc_id, n_grams, n_shared, max_partners, shared_ppm). Input needs
    (doc_id, text). The dataflow is the q_cross_doc_spans plan; see
    that query's docstring for the scale analysis (stride-1 k-gram
    hashing standing in for the ExactSubstr suffix array)."""
    toks = TX.tokens(F.lower(F.col("text")))
    base = docs.select("doc_id", toks.alias("tok")).filter(F.size("tok") >= k)
    gram = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size("tok") - k + 1),
            lambda i: F.concat_ws(" ", F.slice("tok", i, k)),
        )
    )
    grams = (
        base.select("doc_id", gram.alias("gram"))
        .select(
            "doc_id",
            md5_bucket(F.col("gram")).alias("gram_h"),
        )
        .distinct()
    )
    freq = grams.groupBy("gram_h").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    shared = F.col("n_docs") >= 2
    return (
        grams.join(freq, "gram_h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.coalesce(F.count(F.when(shared, 1)), F.lit(0))
            .cast("bigint")
            .alias("n_shared"),
            F.coalesce(F.max(F.when(shared, F.col("n_docs"))), F.lit(0))
            .cast("bigint")
            .alias("max_partners"),
            F.expr(
                "CAST(1000000 * count(CASE WHEN n_docs >= 2 THEN 1 END)"
                " div count(*) AS BIGINT)"
            ).alias("shared_ppm"),
        )
    )
