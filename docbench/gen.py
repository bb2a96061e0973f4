"""Seeded input generators for the docflow benchmark.

Every generator is a pure function of its seed: the same seed writes
byte-identical files (zip entries carry a fixed timestamp, parquet is
written by pyarrow without wall-clock metadata). The engine only ever
sees the files written here.

Sizes are module constants so that every seed produces inputs of the
same shape; only the content varies with the seed.
"""

from __future__ import annotations

import io
import os
import random
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- sizes ------------------------------------------------------------------

INGEST_DOCS = 120  # .docx files per ingest pass
RETRIEVE_BASE_DOCS = 1000  # distinct documents behind the BM25 posting store
RETRIEVE_EXACT_FRAC = 0.05  # plus this share of exact duplicates
RETRIEVE_NEAR_FRAC = 0.05  # and this share of near duplicates
RETRIEVE_VECS = 2000  # vectors behind the exact / IVF / PQ paths
RETRIEVE_CLUSTERS = 10
RETRIEVE_REQUESTS = 400  # request pool; passes walk it in order
QUESTION_TOKENS = 6  # BM25 questions are spans of this many tokens
DIM = 64

# ingest structure rates: the share of documents with the feature
RATE_PRE_HEADING_TEXT = 0.10  # a paragraph before the first heading
RATE_CAPTION = 0.40  # a caption paragraph (figure or table)
RATE_TABLE = 0.30  # a table (after its caption when both are drawn)
RATE_IMAGE = 0.20  # an inline image on one body paragraph
RATE_LONG = 0.30  # one section body of 900-2600 chars (chunker splits it)
# ... and per section or paragraph, drawn independently
RATE_SUBSECTION = 0.50  # per section: an extra Heading 2 section follows
RATE_EMPTY_PARA = 0.10  # per paragraph: an empty paragraph before it

# One request cycle of the retrieve workload, which is also one pass:
# one request per retrieval path. The reference serves only exact top-k
# and no request distribution over the four paths is known, so each
# path gets an equal share.
REQUEST_CYCLE = ("exact", "ivf", "pq", "bm25")

# analytics tables (the relational star schema and events of FIXTURES.md),
# about 0.4x sf0.01
ANALYTICS_CUSTOMERS = 600
ANALYTICS_SUPPLIERS = 40
ANALYTICS_PARTS = 400
ANALYTICS_ORDERS = 6000  # with 1-7 line items each
ANALYTICS_EVENTS = 4000
ANALYTICS_USERS = 60


# --- vocabulary ---------------------------------------------------------------

_SYL = ("ka", "lo", "mi", "ne", "ru", "ta", "sho", "vel", "dor", "pix",
        "qua", "zen", "bri", "tos", "fal", "gun", "hep", "jor", "wim", "yal")


def _vocab(n: int = 900) -> list[str]:
    """A fixed pseudo-word vocabulary (independent of the seed)."""
    rng = random.Random(7)
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYL) for _ in range(rng.randint(2, 3))))
    return sorted(words)


VOCAB = _vocab()


def _topic_words(rng: random.Random, topics: int, per_topic: int = 120) -> list[list[str]]:
    return [rng.sample(VOCAB, per_topic) for _ in range(topics)]


def _sentence(rng: random.Random, words: list[str], n_tokens: int) -> str:
    # Zipf-like skew: low indices are drawn far more often
    k = len(words)
    return " ".join(words[min(int(rng.paretovariate(1.2)) - 1, k - 1)] if rng.random() < 0.6
                    else words[rng.randrange(k)] for _ in range(n_tokens))


def _text_of_chars(rng: random.Random, words: list[str], n_chars: int) -> str:
    parts: list[str] = []
    size = 0
    while size < n_chars:
        s = _sentence(rng, words, rng.randint(6, 14))
        parts.append(s)
        size += len(s) + 1
    return " ".join(parts)


# --- ingest: .docx corpus -----------------------------------------------------


def _fixed_time_zip(data: bytes) -> bytes:
    """Re-pack a zip with a constant entry timestamp, so equal content
    gives equal bytes (zipfile stamps entries with the current time)."""
    out = io.BytesIO()
    with zipfile.ZipFile(io.BytesIO(data)) as src, zipfile.ZipFile(
        out, "w", zipfile.ZIP_DEFLATED
    ) as dst:
        for info in src.infolist():
            fixed = zipfile.ZipInfo(info.filename, date_time=(1980, 1, 1, 0, 0, 0))
            fixed.compress_type = zipfile.ZIP_DEFLATED
            dst.writestr(fixed, src.read(info))
    return out.getvalue()


def _exact_share(rng: random.Random, n: int, rate: float) -> set[int]:
    """Exactly round(n * rate) of the indices 0..n-1, drawn by `rng`, so
    every seed gets the same number of documents with a given feature."""
    return set(rng.sample(range(n), round(n * rate)))


def _docx_bytes(rng: random.Random, doc_no: int, words: list[str], has: set[str]) -> bytes:
    from etl_ai_assistent_spark.sources import docx as DX

    xml: list[str] = []
    media: dict[str, bytes] = {}
    if "pre_heading" in has:
        xml.append(DX._p_xml(_text_of_chars(rng, words, 80)))
    n_sections = rng.randint(1, 3)
    long_section = rng.randrange(n_sections) if "long" in has else -1
    image = "image" in has
    for s in range(n_sections):
        xml.append(DX._p_xml(f"Section {doc_no}.{s} {_sentence(rng, words, 3)}", style="Heading 1"))
        styles = ["Heading 1"] + (["Heading 2"] if rng.random() < RATE_SUBSECTION else [])
        for style in styles:
            if style == "Heading 2":
                xml.append(DX._p_xml(f"Part {doc_no}.{s} {_sentence(rng, words, 2)}", style=style))
            if s == long_section and style == "Heading 1":
                body = _text_of_chars(rng, words, rng.randint(900, 2600))
                # long bodies come as a few paragraphs, like real prose
                cut = [0, *sorted(rng.sample(range(1, len(body) - 1), 2)), len(body)]
                paras = [body[a:b].strip() for a, b in zip(cut, cut[1:])]
            else:
                paras = [_text_of_chars(rng, words, rng.randint(60, 260))
                         for _ in range(rng.randint(1, 3))]
            for p in paras:
                if rng.random() < RATE_EMPTY_PARA:
                    xml.append(DX._p_xml(""))
                xml.append(DX._p_xml(p, image=image))
                if image:
                    media["image1.png"] = bytes(rng.randrange(256) for _ in range(96))
                    image = False
    if "caption" in has:
        label = rng.choice(("Figure", "Table", "Рис.", "Таблица"))
        xml.append(DX._p_xml(f"{label} {doc_no}: {_sentence(rng, words, 4)}", style="Caption"))
    if "table" in has:
        rows = [[_sentence(rng, words, 1) for _ in range(3)] for _ in range(rng.randint(2, 4))]
        xml.append(DX._tbl_xml(rows))
    return _fixed_time_zip(DX.build_docx(xml, media=media))


def write_docx_corpus(seed: int, out_dir: str) -> list[str]:
    """Write INGEST_DOCS seeded .docx files; returns their paths in order.
    Document-level features go to exactly their rate's share of files."""
    rng = random.Random(f"docx/{seed}")
    topics = _topic_words(rng, 6)
    features = {
        name: _exact_share(rng, INGEST_DOCS, rate)
        for name, rate in (("pre_heading", RATE_PRE_HEADING_TEXT), ("long", RATE_LONG),
                           ("image", RATE_IMAGE), ("caption", RATE_CAPTION),
                           ("table", RATE_TABLE))
    }
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(INGEST_DOCS):
        has = {name for name, docs in features.items() if i in docs}
        path = os.path.join(out_dir, f"doc_{i:05d}.docx")
        with open(path, "wb") as f:
            f.write(_docx_bytes(rng, i, topics[rng.randrange(len(topics))], has))
        paths.append(path)
    return paths


# --- retrieve: documents, embeddings, requests ---------------------------------

_DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
_EMB_SCHEMA = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32()),
])


def _write_documents(path: str, texts: list[str], rng: random.Random) -> None:
    langs = ("en", "en", "en", "de", "fr", "es")
    table = pa.table({
        "doc_id": list(range(len(texts))),
        "text": texts,
        "lang": [rng.choice(langs) for _ in texts],
        "source": [f"src{rng.randrange(20)}" for _ in texts],
        "n_chars": [len(t) for t in texts],
    }, schema=_DOC_SCHEMA)
    pq.write_table(table, path)


def _write_embeddings(path: str, vecs: np.ndarray, labels: list[int]) -> None:
    table = pa.table({
        "vec_id": list(range(len(vecs))),
        "embedding": [v.tolist() for v in vecs.astype(np.float32)],
        "label": labels,
    }, schema=_EMB_SCHEMA)
    pq.write_table(table, path)


def clustered_vectors(seed: int, n: int, clusters: int, dim: int = DIM) -> tuple[np.ndarray, list[int]]:
    """Unit vectors around `clusters` random unit centres (float32),
    n // clusters to a cluster."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.permutation(np.arange(n) % clusters)
    vecs = centres[labels] + rng.normal(scale=0.55 / np.sqrt(dim), size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), [int(x) for x in labels]


def documents_with_duplicates(rng: random.Random, topics: list[list[str]], n_base: int
                              ) -> tuple[list[str], dict[str, list[tuple[int, int]]]]:
    """`n_base` topic documents plus injected exact and near duplicates
    (FIXTURES.md: about 5% of each). Returns the texts and the ground
    truth {"exact": [(orig, dup)], "near": [(orig, dup)]}."""
    texts = [_text_of_chars(rng, topics[i % len(topics)], rng.randint(120, 600))
             for i in range(n_base)]
    n_exact = int(n_base * RETRIEVE_EXACT_FRAC)
    n_near = int(n_base * RETRIEVE_NEAR_FRAC)
    truth: dict[str, list[tuple[int, int]]] = {"exact": [], "near": []}
    for j, orig in enumerate(rng.sample(range(n_base), n_exact + n_near)):
        toks = texts[orig].split()
        if j < n_exact:
            # exact after normalization: case and whitespace changes only
            text = "  ".join(toks).upper() if rng.random() < 0.5 else " ".join(toks)
            truth["exact"].append((orig, len(texts)))
        else:
            # near: a few token edits, Jaccard of 3-shingles stays high
            for _ in range(max(1, len(toks) // 25)):
                toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
            text = " ".join(toks + [rng.choice(VOCAB)])
            truth["near"].append((orig, len(texts)))
        texts.append(text)
    return texts, truth


def write_retrieve_corpus(seed: int, sf_dir: str) -> dict:
    """documents.parquet (with duplicates) + embeddings.parquet in the
    FIXTURES schema, and the seeded request pool. Returns
    {"requests": [...], "vectors": float32 array, "duplicates": truth}."""
    rng = random.Random(f"retrieve/{seed}")
    os.makedirs(sf_dir, exist_ok=True)
    topics = _topic_words(rng, RETRIEVE_CLUSTERS)
    texts, truth = documents_with_duplicates(rng, topics, RETRIEVE_BASE_DOCS)
    _write_documents(os.path.join(sf_dir, "documents.parquet"), texts, rng)
    vecs, labels = clustered_vectors(seed, RETRIEVE_VECS, RETRIEVE_CLUSTERS)
    _write_embeddings(os.path.join(sf_dir, "embeddings.parquet"), vecs, labels)

    nrng = np.random.default_rng(seed + 1)
    requests = []
    for i in range(RETRIEVE_REQUESTS):
        kind = REQUEST_CYCLE[i % len(REQUEST_CYCLE)]
        if kind == "bm25":
            toks = texts[rng.randrange(len(texts))].split()
            start = rng.randrange(len(toks) - QUESTION_TOKENS + 1)
            requests.append({"kind": kind, "question": " ".join(toks[start:start + QUESTION_TOKENS])})
        else:
            base = vecs[rng.randrange(len(vecs))].astype(np.float64)
            q = base + nrng.normal(scale=0.08 / np.sqrt(DIM), size=DIM)
            q /= np.linalg.norm(q)
            requests.append({"kind": kind, "vector": [float(x) for x in q]})
    return {"requests": requests, "vectors": vecs, "duplicates": truth}


# --- analytics: star schema and events ------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_DAY_US = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> list[float]:
    return [round(float(x), 2) for x in rng.uniform(lo, hi, n)]


def _ts(epoch_us) -> pa.Array:
    return pa.array(np.asarray(epoch_us, dtype=np.int64), pa.int64()).cast(pa.timestamp("us"))


def write_analytics_tables(seed: int, sf_dir: str) -> None:
    """region, nation, customer, supplier, part, orders, lineitem and
    events in the FIXTURES schema and the value ranges of the committed
    testdata, as parquet files next to the documents and embeddings."""
    rng = np.random.default_rng([seed, 3])
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def write(name: str, cols: dict[str, tuple[list, pa.DataType]]) -> None:
        table = pa.table({c: pa.array(v, t) if not isinstance(v, pa.Array) else v
                          for c, (v, t) in cols.items()})
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))

    write("region", {"r_regionkey": (list(range(5)), i32), "r_name": (list(_REGIONS), s)})
    write("nation", {
        "n_nationkey": (list(range(25)), i32),
        "n_name": ([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": ([i % 5 for i in range(25)], i32),
    })
    nc, ns, np_ = ANALYTICS_CUSTOMERS, ANALYTICS_SUPPLIERS, ANALYTICS_PARTS
    write("customer", {
        "c_custkey": (list(range(nc)), i64),
        "c_name": ([f"Customer#{i:09d}" for i in range(nc)], s),
        "c_nationkey": (rng.integers(0, 25, nc).tolist(), i32),
        "c_acctbal": (_money(rng, -999, 9999, nc), f64),
        "c_mktsegment": ([_SEGMENTS[i] for i in rng.integers(0, 5, nc)], s),
    })
    write("supplier", {
        "s_suppkey": (list(range(ns)), i64),
        "s_name": ([f"Supplier#{i:09d}" for i in range(ns)], s),
        "s_nationkey": (rng.integers(0, 25, ns).tolist(), i32),
        "s_acctbal": (_money(rng, -999, 9999, ns), f64),
    })
    adj, noun = ("cold", "small", "red", "blue", "big"), ("widget", "ring", "bolt", "gear")
    write("part", {
        "p_partkey": (list(range(np_)), i64),
        "p_name": ([f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 5, np_), rng.integers(0, 4, np_))], s),
        "p_brand": ([f"Brand#{b}" for b in rng.integers(1, 26, np_)], s),
        "p_type": ([("ECONOMY", "SMALL", "STANDARD", "LARGE")[t] for t in rng.integers(0, 4, np_)], s),
        "p_size": (rng.integers(1, 51, np_).tolist(), i32),
        "p_retailprice": ([round(900 + 0.1 * i, 2) for i in range(np_)], f64),
    })

    no = ANALYTICS_ORDERS
    start = 788_918_400_000_000  # 1995-01-01
    order_day = rng.integers(0, 2400, no)
    write("orders", {
        "o_orderkey": (list(range(no)), i64),
        "o_custkey": (rng.integers(0, nc, no).tolist(), i64),
        "o_orderstatus": ([("F", "O", "P")[x] for x in rng.integers(0, 3, no)], s),
        "o_totalprice": (_money(rng, 1000, 500_000, no), f64),
        "o_orderdate": (_ts(start + order_day * _DAY_US), None),
        "o_orderpriority": ([_PRIORITIES[x] for x in rng.integers(0, 5, no)], s),
    })
    lines = rng.integers(1, 8, no)
    l_order = np.repeat(np.arange(no), lines)
    nl = len(l_order)
    write("lineitem", {
        "l_orderkey": (l_order.tolist(), i64),
        "l_partkey": (rng.integers(0, np_, nl).tolist(), i64),
        "l_suppkey": (rng.integers(0, ns, nl).tolist(), i64),
        "l_linenumber": ([j + 1 for n in lines for j in range(n)], i32),
        "l_quantity": (rng.integers(1, 51, nl).astype(float).tolist(), f64),
        "l_extendedprice": (_money(rng, 900, 100_000, nl), f64),
        "l_discount": ((rng.integers(0, 11, nl) / 100).tolist(), f64),
        "l_tax": ((rng.integers(0, 9, nl) / 100).tolist(), f64),
        "l_returnflag": ([("A", "N", "R")[x] for x in rng.integers(0, 3, nl)], s),
        "l_linestatus": ([("F", "O")[x] for x in rng.integers(0, 2, nl)], s),
        "l_shipdate": (_ts(start + (order_day[l_order] + rng.integers(1, 121, nl)) * _DAY_US), None),
    })

    ne = ANALYTICS_EVENTS
    ts = np.sort(1_704_067_200_000_000 + rng.integers(0, 30 * _DAY_US, ne))  # January 2024
    write("events", {
        "event_id": (list(range(ne)), i64),
        "ts": (_ts(ts), None),
        "user_id": (rng.integers(0, ANALYTICS_USERS, ne).tolist(), i64),
        "event_type": ([_EVENT_TYPES[x] for x in rng.integers(0, 5, ne)], s),
        "value": (_money(rng, 0.01, 500, ne), f64),
        "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], s),
    })
