"""The benchmark's workloads: inputs, set-up, one timed pass, output checks.

Each workload drives the engine's public functions from outside:

- ``ingest``   .docx → sections → chunks → embeddings → batched upsert;
- ``retrieve`` a closed loop of single requests over four retrieval paths;
  its traced run also times the dedup query and a seeded order of
  relational, event and graph queries once each.

A pass returns its outputs; the checks run after the timed region and
count every wrong result as a failed operation.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from . import gen
from . import trace as T


@dataclass
class PassResult:
    seconds: float
    ops: int  # documents or requests handled by the pass
    latencies_ms: list[float]  # one per timed operation
    output: object = None
    layers: dict[str, float] = field(default_factory=dict)
    kinds: list[str] = field(default_factory=list)  # per operation, when a pass mixes kinds


@dataclass
class CheckResult:
    attempted: int
    failed: int
    recall: float
    layers: dict[str, float] = field(default_factory=dict)


# --- ingest ----------------------------------------------------------------------


def reference_chunks(name: str, data: bytes) -> list[tuple[str, str, str]]:
    """The pure-Python reference of the ingest dataflow for one file:
    parse_docx_blocks → heading-delimited sections → split_text_recursive.
    Returns [(point_id, title, chunk_text)]."""
    from etl_ai_assistent_spark.operators.chunker import split_text_recursive
    from etl_ai_assistent_spark.sources.docx import parse_docx_blocks

    sections: list[tuple[str, list[str]]] = []
    for _idx, kind, style, text, _rows, _img in parse_docx_blocks(data):
        if kind != "paragraph" or style == "Caption":
            continue
        if style.startswith("Heading"):
            sections.append((text, []))
        elif sections and text.strip():
            sections[-1][1].append(text)
    out = []
    for sec_id, (title, body) in enumerate(sections, start=1):
        if body:
            for i, chunk in enumerate(split_text_recursive(" ".join(body))):
                out.append((f"{name}:{sec_id}:{i}", title, chunk))
    return out


def _vec_digest(vec) -> str:
    return hashlib.md5(np.asarray(vec, dtype=np.float64).tobytes()).hexdigest()


class Ingest:
    name = "ingest"
    uses_python_workers = True  # the chunker and embedder are Arrow UDFs
    warmup_passes = 2
    samples_per_pass = 16  # points whose embedding is checked bit for bit

    def generate(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.paths = gen.write_docx_corpus(seed, os.path.join(work, "docx"))
        self.glob = os.path.join(work, "docx", "*.docx")
        self.input_bytes = sum(os.path.getsize(p) for p in self.paths)
        self._passes = 0  # every pass, warm-up or timed, upserts into its own directory

    @staticmethod
    def _sections(blocks):
        from pyspark.sql import functions as F

        from etl_ai_assistent_spark.operators.sectionizer import sectionize

        paras = blocks.filter((F.col("kind") == "paragraph") & (F.col("style") != "Caption"))
        return sectionize(
            paras, doc_col="document_name", order_col="block_idx", text_col="text",
            is_heading=F.col("style").startswith("Heading"),
        )

    @staticmethod
    def _chunks(sections):
        from pyspark.sql import functions as F

        from etl_ai_assistent_spark.operators.chunker import recursive_chunks

        return sections.select(
            "document_name", "sec_id", "title",
            F.posexplode(recursive_chunks("body")).alias("chunk_idx", "chunk_text"),
        )

    @staticmethod
    def _points(chunks, embed_factory):
        from pyspark.sql import functions as F

        from etl_ai_assistent_spark.operators.embedder import pluggable_embedder

        return chunks.select(
            F.concat_ws(":", "document_name", "sec_id", "chunk_idx").alias("point_id"),
            "document_name", "sec_id", "chunk_idx", "title", "chunk_text",
            pluggable_embedder(embed_factory)("chunk_text").alias("embedding"),
        )

    def setup(self, spark, tracer: T.Tracer) -> None:
        # untimed passes until the JIT has compiled the pass's hot paths
        for _ in range(self.warmup_passes):
            self.run_pass(spark, T.Tracer(False))

    def run_pass(self, spark, tracer: T.Tracer) -> PassResult:
        from functools import partial

        from etl_ai_assistent_spark.operators.embedder import HashEmbedClient
        from etl_ai_assistent_spark.operators.upsert import LocalParquetStoreClient, upsert_points
        from etl_ai_assistent_spark.sources import docx as DX

        out_dir = os.path.join(self.work, "upsert", str(self._passes))
        self._passes += 1
        t0 = time.perf_counter()
        if not tracer.enabled:
            blocks = DX.scan_docx(spark, self.glob)
            points = self._points(self._chunks(self._sections(blocks)), HashEmbedClient)
            upsert_points(points, partial(LocalParquetStoreClient, out_dir))
            dt = time.perf_counter() - t0
            return PassResult(dt, len(self.paths), [dt * 1e3], out_dir)

        # traced: each layer's output is materialized (persist + count)
        # so that each span covers that layer's own execution
        from . import clients

        sc = spark.sparkContext
        emb_batches, attempts, batches = sc.accumulator(0), sc.accumulator(0), sc.accumulator(0)
        cached = []

        def materialize(df):
            df = df.persist()
            cached.append(df)
            return df, df.count()

        def layer(name, build):
            with tracer.span(name):
                (df, n), _ = T.run_query(spark, tracer, build, materialize)
            return df, n

        jobs0 = T.job_watermark(spark)
        with tracer.span("docx.list_s"):
            listed = DX.scan_docx(spark, self.glob)
        _, list_tasks = T.jobs_tasks_since(spark, jobs0)
        blocks, _ = layer("docx.parse_s", lambda: listed)
        sections, _ = layer("sectionizer.s", lambda: self._sections(blocks))
        chunks, n_chunks = layer("chunker.s", lambda: self._chunks(sections))
        points, _ = layer("embedder.s", lambda: self._points(chunks, clients.embed_factory(emb_batches)))
        with tracer.span("upsert.s"):
            T.run_query(spark, tracer, lambda: points, lambda df: upsert_points(
                df, clients.store_factory(out_dir, attempts, batches)))
        for df in cached:
            df.unpersist(blocking=True)
        dt = time.perf_counter() - t0
        c = tracer.counters
        c["docx.list_tasks"] += list_tasks
        c["docx.files_per_s"] = len(self.paths) / (c["docx.list_s"] + c["docx.parse_s"])
        c["chunker.chunks"] += n_chunks
        c["embedder.client_batches"] += emb_batches.value
        c["upsert.batches"] += batches.value
        c["upsert.retries"] += attempts.value - batches.value
        c["upsert.bytes_per_input_byte"] = _dir_bytes(out_dir) / self.input_bytes
        return PassResult(dt, len(self.paths), [dt * 1e3], out_dir, dict(tracer.counters))

    def check(self, spark, results: list[PassResult]) -> CheckResult:
        import pyarrow.parquet as pq

        expected: dict[str, tuple[str, str, str]] = {}
        doc_of: dict[str, str] = {}
        for path in self.paths:
            name = os.path.basename(path)
            with open(path, "rb") as f:
                for pid, title, chunk in reference_chunks(name, f.read()):
                    expected[pid] = (title, chunk, name)
                    doc_of[pid] = name
        rng = random.Random(f"ingest-check/{self.seed}")
        attempted = failed = matched = total = 0
        for res in results:
            table = pq.read_table(res.output).to_pydict()
            got = {pid: i for i, pid in enumerate(table["point_id"])}
            bad_docs: set[str] = set()
            if len(table["point_id"]) != len(expected):
                bad_docs.update(n for p, n in doc_of.items() if p not in got)
            for pid, (title, chunk, name) in expected.items():
                i = got.get(pid)
                if i is None or table["chunk_text"][i] != chunk or table["title"][i] != title:
                    bad_docs.add(name)
                else:
                    matched += 1
            bad_docs.update(pid.split(":", 1)[0] for pid in got if pid not in expected)
            from etl_ai_assistent_spark.operators.embedder import embed_text

            for pid in rng.sample(sorted(expected), min(self.samples_per_pass, len(expected))):
                i = got.get(pid)
                if i is None or _vec_digest(table["embedding"][i]) != _vec_digest(embed_text(expected[pid][1])):
                    bad_docs.add(expected[pid][2])
            attempted += len(self.paths)
            failed += len(bad_docs)
            total += len(expected)
        return CheckResult(attempted, failed, matched / total)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# --- retrieve --------------------------------------------------------------------

K = 5
THRESHOLD = 0.5
PQ_M, PQ_K = 2, 16
SCORE_TOL = 2e-6  # two units in the sixth decimal the scores are rounded to


class Retrieve:
    name = "retrieve"
    uses_python_workers = False  # every retrieval path runs in the JVM
    requests_per_pass = len(gen.REQUEST_CYCLE)
    warmup_requests = 2 * len(gen.REQUEST_CYCLE)
    recall_requests = 10  # served IVF and PQ requests per run that recall averages

    def generate(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.sf_dir = os.path.join(work, "retrieve_sf")
        corpus = gen.write_retrieve_corpus(seed, self.sf_dir)
        self.requests = corpus["requests"]
        self.vectors = corpus["vectors"].astype(np.float64)
        self.duplicates = corpus["duplicates"]
        self._next = 0

    # stores -----------------------------------------------------------------

    def _pq_store(self, spark) -> tuple[str, bool]:
        """Flat PQ codebooks and codes published under the store contract.
        Returns the store's path and whether it was adopted."""
        from etl_ai_assistent_spark import io, store as ST
        from etl_ai_assistent_spark.operators import kmeans as KM
        from etl_ai_assistent_spark.operators import pq as PQ

        tag, n, fp = ST.corpus_key(self.sf_dir, "embeddings")
        path = os.path.join(ST.store_root(), "docbench_pq_v1", f"{tag}_{n}_{fp}")

        def build(tmp: str) -> None:
            emb = io.load_table(spark, self.sf_dir, "embeddings").select(
                "vec_id", KM.quantize("embedding").alias("qv")).persist()
            try:
                cbs = PQ.train_codebooks(emb, m=PQ_M, k=PQ_K, iters=1, dim=gen.DIM)
                cb_rows = [[(int(r["cid"]), [int(x) for x in r["cv"]]) for r in cb.collect()]
                           for cb in cbs]
                spark.createDataFrame(
                    [(s, cid, cv) for s, fam in enumerate(cb_rows) for cid, cv in fam],
                    "sub int, cid bigint, cv array<bigint>",
                ).coalesce(1).write.parquet(os.path.join(tmp, "codebooks"))
                PQ.encode_rows(emb, cb_rows, dim=gen.DIM).write.parquet(os.path.join(tmp, "codes"))
            finally:
                emb.unpersist()

        adopted = ST.publish(path, build, validate=lambda p: ST.has_success(os.path.join(p, "codes"))
                             and ST.parquet_rows(os.path.join(p, "codes")) == n)
        return path, adopted

    def _ivf_store(self, spark) -> tuple[str, bool]:
        """IVF centroids (per-label means) published under the store contract.
        Returns the store's path and whether it was adopted."""
        from etl_ai_assistent_spark import io, store as ST
        from etl_ai_assistent_spark.operators import similarity as S

        tag, n, fp = ST.corpus_key(self.sf_dir, "embeddings")
        path = os.path.join(ST.store_root(), "docbench_ivf_v1", f"{tag}_{n}_{fp}")
        adopted = ST.publish(
            path,
            lambda tmp: S.centroids(io.load_table(spark, self.sf_dir, "embeddings"))
            .coalesce(1).write.parquet(tmp),
            validate=lambda p: ST.has_success(p) and ST.parquet_rows(p) > 0,
        )
        return path, adopted

    def open_stores(self, spark, tracer: T.Tracer, phase: str) -> None:
        """Build (fresh store root) or adopt (same root, new session) the
        posting, PQ and IVF stores, and open them for serving."""
        import duckdb

        from etl_ai_assistent_spark import io
        from etl_ai_assistent_spark.queries import rag as R

        t0 = time.perf_counter()
        # the posting store was adopted when no version directory under
        # its root is new or replaced (a rebuilt store gets a new inode)
        postings = _inodes(R.posting_store_root())
        self.doc_tf = R.doc_tf_table(spark, self.sf_dir)
        posting_adopted = _inodes(R.posting_store_root()) == postings
        self.pq_path, pq_adopted = self._pq_store(spark)
        ivf_path, ivf_adopted = self._ivf_store(spark)
        tracer.add(f"store.{phase}_s", time.perf_counter() - t0)
        for adopted in (posting_adopted, pq_adopted, ivf_adopted):
            tracer.add("store.adopts" if adopted else "store.builds", 1)

        # requests scan the stores on disk; only the IVF centroids (10
        # rows) are cached
        self.items = io.load_table(spark, self.sf_dir, "embeddings")
        self.cents = spark.read.parquet(ivf_path).persist()
        self.cents.count()
        self.codes = spark.read.parquet(os.path.join(self.pq_path, "codes"))
        rows = duckdb.sql(
            "SELECT sub, cid, cv FROM read_parquet(?) ORDER BY sub, cid",
            params=[os.path.join(self.pq_path, "codebooks", "*.parquet")],
        ).fetchall()
        self.cb_rows = [[] for _ in range(PQ_M)]
        for sub, cid, cv in rows:
            self.cb_rows[int(sub)].append((int(cid), [int(x) for x in cv]))

    def setup(self, spark, tracer: T.Tracer) -> None:
        self.open_stores(spark, tracer, "build")
        # builds the lazy BM25 stats and compiles each path's plan once;
        # the warm-up requests come from the end of the pool, which passes
        # never reach
        for req in self.requests[-self.warmup_requests:]:
            self._request(spark, T.Tracer(False), req)

    # requests ---------------------------------------------------------------

    def _build(self, spark, req):
        from pyspark.sql import functions as F

        from etl_ai_assistent_spark.functions import text as TX
        from etl_ai_assistent_spark.operators import kmeans as KM
        from etl_ai_assistent_spark.operators import pq as PQ
        from etl_ai_assistent_spark.operators import similarity as S
        from etl_ai_assistent_spark.queries import rag as R

        kind = req["kind"]
        if kind == "exact":
            return S.topk_cosine(self.items, req["vector"], k=K, threshold=THRESHOLD).select("vec_id", "score")
        if kind == "ivf":
            return S.ivf_topk(self.items, req["vector"], k=K, nprobe=1, cents=self.cents).select("vec_id", "score")
        if kind == "pq":
            qv = [int(math.floor(x * KM.Q_SCALE)) + KM.Q_OFFSET for x in req["vector"]]
            return PQ.adc_topk(self.codes, PQ.adc_table_rows(qv, self.cb_rows), k=K).select(
                "vec_id", F.col("adc_dist").alias("score"))
        probe = spark.createDataFrame([(0, req["question"])], "doc_id bigint, text string")
        probe_tf = R._tf_all(probe, "probe_id", TX.tokens(F.lower(F.col("text"))))
        return (
            R._bm25_ranked(spark, self.sf_dir, tf_pair=(self.doc_tf, probe_tf))
            .filter(F.col("rank") <= K)
            .select(F.col("doc_id").alias("vec_id"), F.col("score_scaled").alias("score"), "rank")
        )

    def _request(self, spark, tracer: T.Tracer, req):
        """One request's rows as (id, score) pairs; BM25 rows come in
        rank order, vector rows in the order they arrive."""
        rows, df = T.run_query(spark, tracer, lambda: self._build(spark, req), lambda d: d.collect())
        if req["kind"] == "bm25":
            rows = sorted(rows, key=lambda r: r["rank"])
        return [(int(r["vec_id"]), float(r["score"])) for r in rows]

    def run_pass(self, spark, tracer: T.Tracer) -> PassResult:
        lat: list[float] = []
        out = []
        t0 = time.perf_counter()
        for _ in range(self.requests_per_pass):
            req = self.requests[self._next % len(self.requests)]
            self._next += 1
            layer = {"exact": "similarity", "ivf": "similarity", "pq": "pq", "bm25": "rag"}[req["kind"]]
            before = dict(tracer.counters)
            t = time.perf_counter()
            with tracer.span(f"{layer}.s"):
                rows = self._request(spark, tracer, req)
            lat.append((time.perf_counter() - t) * 1e3)
            if tracer.enabled:
                scored = tracer.counters["exec.input_records"] - before.get("exec.input_records", 0)
                tracer.add(f"{layer}.rows_scored", scored)
                tracer.add(f"{layer}.results", max(len(rows), 1))
            out.append((req, rows))
        dt = time.perf_counter() - t0
        c = tracer.counters
        for layer in ("similarity", "pq"):
            c[f"{layer}.rows_scored_per_result"] = c[f"{layer}.rows_scored"] / max(c[f"{layer}.results"], 1)
        return PassResult(dt, len(out), lat, out, dict(tracer.counters), [r["kind"] for r, _ in out])

    # checks -----------------------------------------------------------------
    #
    # Exact top-k must equal NumPy cosine top-k up to ties in the sixth
    # decimal, and BM25 a pure-Python replica of the engine's integer
    # formula bit for bit. The approximate paths (IVF, PQ) are checked only
    # for well-formed results: k distinct corpus ids whose scores are their
    # true cosine (IVF) or ADC distance under the stored codes (PQ), in
    # order. Which ids they return is their recall, not a failure.

    def _replicas(self):
        import pyarrow.parquet as pq

        codes = pq.read_table(os.path.join(self.pq_path, "codes")).to_pydict()
        self.pq_row = {int(v): i for i, v in enumerate(codes["vec_id"])}
        self.pq_codes = [codes[f"code_{i}"] for i in range(PQ_M)]
        self.bm25 = _Bm25([
            t for t in pq.read_table(os.path.join(self.sf_dir, "documents.parquet"))["text"].to_pylist()
        ])

    def _adc(self, q, vec_id: int) -> int:
        """ADC distance of one stored vector to the query, from its codes."""
        from etl_ai_assistent_spark.operators import kmeans as KM
        from etl_ai_assistent_spark.operators import pq as PQ

        qv = [int(math.floor(x * KM.Q_SCALE)) + KM.Q_OFFSET for x in q]
        tables = PQ.adc_table_rows(qv, self.cb_rows)
        return sum(tables[s][self.pq_codes[s][self.pq_row[vec_id]]] for s in range(PQ_M))

    def _cos(self, q) -> np.ndarray:
        q = np.asarray(q)
        return self.vectors @ q / (np.linalg.norm(self.vectors, axis=1) * np.linalg.norm(q))

    def check(self, spark, results: list[PassResult]) -> CheckResult:
        self._replicas()
        served = [(req, rows) for res in results for req, rows in res.output]
        recall: dict[str, list[float]] = {"ivf": [], "pq": []}
        # the timed passes serve too few approximate requests for a steady
        # recall: serve more from the unused part of the pool, untimed
        unused = self.requests[self._next:-self.warmup_requests]
        for path in recall:
            have = sum(req["kind"] == path for req, _ in served)
            more = [r for r in unused if r["kind"] == path][:max(0, self.recall_requests - have)]
            served += [(req, self._request(spark, T.Tracer(False), req)) for req in more]
        failed = 0
        for req, rows in served:
            failed += not self._ok(req, rows)
            if req["kind"] in recall:
                exact = set(_top(self._cos(req["vector"]), K))
                recall[req["kind"]].append(len(exact & {i for i, _ in rows}) / K)
        layers = {f"{path}.recall_at_k": float(np.mean(r)) for path, r in recall.items()}
        return CheckResult(len(served), failed, float(np.mean(list(layers.values()))), layers)

    def _ok(self, req, rows) -> bool:
        kind = req["kind"]
        if kind == "bm25":
            return rows == self.bm25.top(req["question"], K)
        if kind == "pq":
            return _well_formed(rows, self.pq_row, lambda i: self._adc(req["vector"], i), 0, False)
        cos = self._cos(req["vector"])
        if kind == "exact":
            return _topk_ok(rows, cos, cos >= THRESHOLD)
        return _well_formed(rows, range(len(cos)), lambda i: cos[i], SCORE_TOL, True)

    def adopt(self, spark, tracer: T.Tracer) -> None:
        self.open_stores(spark, tracer, "adopt")

    def once_layers(self, spark, tracer: T.Tracer) -> tuple[int, int]:
        """Layers the traced run measures once: the dedup query and the
        analytics queries, each over the corpus directory and checked
        against its DuckDB oracle. Returns (queries run, queries wrong)."""
        from etl_ai_assistent_spark import parity

        gen.write_analytics_tables(self.seed, self.sf_dir)
        con = parity.duckdb_connection(self.sf_dir)
        try:
            failed = self._dedup_layer(spark, tracer, con) > 0
            order = list(ANALYTICS)
            random.Random(f"analytics/{self.seed}").shuffle(order)
            for metric, name in order:
                failed += self._analytics_query(spark, tracer, con, metric, name) > 0
        finally:
            con.close()
        return 1 + len(order), failed

    def _dedup_layer(self, spark, tracer: T.Tracer, con) -> int:
        """The registered MinHash near-dup query, plus the candidate pairs
        of MinHash banding over every document and the share of them that
        are injected duplicate pairs. Returns the number of wrong rows."""
        from etl_ai_assistent_spark import io
        from etl_ai_assistent_spark.operators import dedup as D
        from etl_ai_assistent_spark.registry import oracle_sql, queries

        name = "q_minhash_near_dup"
        with tracer.span("dedup.s"):
            got = queries()[name](spark, self.sf_dir).toPandas()
        want = con.execute(oracle_sql()[name]).df()

        docs = io.load_table(spark, self.sf_dir, "documents").select("doc_id", "text")
        by_band: dict[tuple[int, str], list[int]] = {}
        for r in D.minhash_bands(docs).collect():
            by_band.setdefault((r["band_idx"], r["band_hash"]), []).append(int(r["id"]))
        cands = {(a, b) for ids in by_band.values() for a in ids for b in ids if a < b}
        truth = {tuple(sorted(p)) for p in self.duplicates["exact"] + self.duplicates["near"]}
        tracer.add("dedup.candidate_pairs", len(cands))
        tracer.add("dedup.pair_precision", len(cands & truth) / max(len(cands), 1))
        return mismatched_rows(got, want)

    def _analytics_query(self, spark, tracer: T.Tracer, con, metric: str, name: str) -> int:
        """One registered analytics query on a cleared cache, split into
        query phases under `analytics.*`. Returns the number of wrong rows."""
        from etl_ai_assistent_spark.registry import oracle_sql, queries

        spark.catalog.clearCache()
        phases = T.Tracer(tracer.enabled)
        with tracer.span(metric), tracer.span("analytics.s"):
            got, _ = T.run_query(spark, phases, lambda: queries()[name](spark, self.sf_dir),
                                 lambda df: df.toPandas())
        for key in ANALYTICS_PHASES:
            tracer.add(f"analytics.{key}", phases.counters[key])
        return mismatched_rows(got, con.execute(oracle_sql()[name]).df())


# one registered query per relational, event and graph operator family
ANALYTICS = (
    ("relational.s", "q_revenue_by_nation"),  # six-table join + aggregate
    ("rank.s", "q_rfm_segments"),  # operators.rank global row numbers
    ("asof.s", "q_asof_purchase_signup"),
    ("sessionize.s", "q_sessionize"),
    ("kcore.s", "q_kcore_prune"),
    ("pagerank.s", "q_pagerank_nations"),
    ("labelprop.s", "q_label_propagation"),
)
ANALYTICS_PHASES = ("builder.s", "plan.s", "exec.s", "exec.stages", "exec.tasks",
                    "exec.shuffle_write_bytes", "plan.exchanges")


def _top(cos: np.ndarray, k: int, mask: np.ndarray | None = None) -> list[int]:
    """Ids of the k best scores (rounded to 6 decimals, ties by id) in `mask`."""
    ids = np.flatnonzero(np.ones(len(cos), bool) if mask is None else mask)
    order = np.lexsort((ids, -np.round(cos[ids], 6)))
    return [int(ids[i]) for i in order[:k]]


def _topk_ok(rows: list[tuple[int, float]], cos: np.ndarray, mask: np.ndarray) -> bool:
    """A served cosine top-k is right when it has the expected length,
    every row is a candidate with its true score, scores descend, and no
    candidate left out beats the last row by more than rounding."""
    want = _top(cos, K, mask)
    scores = [s for _, s in rows]
    return (
        len(rows) == len(want)
        and all(mask[i] and abs(s - cos[i]) <= SCORE_TOL for i, s in rows)
        and scores == sorted(scores, reverse=True)
        and (not want or min(scores) >= cos[want[-1]] - SCORE_TOL)
    )


def _well_formed(rows: list[tuple[int, float]], ids, score_of, tol: float, descending: bool) -> bool:
    """An approximate top-k is well formed when it has k distinct ids from
    `ids`, each with its true score (within `tol`), sorted by score."""
    scores = [s for _, s in rows]
    return (
        len(rows) == K
        and len({i for i, _ in rows}) == K
        and all(i in ids and abs(s - score_of(i)) <= tol for i, s in rows)
        and scores == sorted(scores, reverse=descending)
    )


def _inodes(root: str) -> dict[str, int]:
    """Entry name -> inode of every entry directly under `root`."""
    if not os.path.isdir(root):
        return {}
    return {e.name: e.inode() for e in os.scandir(root)}


class _Bm25:
    """Pure-Python BM25 over the same integer formula as the engine's
    posting-store ranker (queries/rag.py): token hash = first 8 md5 hex
    digits, per-term scores floor-divided, then summed."""

    SCALE = 1_000_000

    def __init__(self, texts: list[str]):
        self.tf: list[Counter] = [Counter(self._hashes(t)) for t in texts]
        self.dl = [sum(c.values()) for c in self.tf]
        self.n = len(texts)
        self.avgdl = sum(self.dl) // self.n
        self.df: Counter = Counter(h for c in self.tf for h in c)
        self.postings: dict[int, list[int]] = {}
        for d, c in enumerate(self.tf):
            for h in c:
                self.postings.setdefault(h, []).append(d)

    @staticmethod
    def _hashes(text: str) -> list[int]:
        return [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in text.lower().split()]

    def top(self, question: str, k: int) -> list[tuple[int, int]]:
        scores: Counter = Counter()
        for h, qtf in Counter(self._hashes(question)).items():
            for d in self.postings.get(h, ()):
                tf = self.tf[d][h]
                scores[d] += (self.SCALE * (self.n + 1) * 44 * qtf * tf * self.avgdl) // (
                    (self.df[h] + 1) * (20 * tf * self.avgdl + 6 * self.avgdl + 18 * self.dl[d])
                )
        ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
        return [(d, float(s)) for d, s in ranked]


def _plain(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, tuple):
        return tuple(_plain(x) for x in v)
    return v


def _row_counts(df) -> Counter:
    from etl_ai_assistent_spark import parity

    return Counter(
        tuple(_plain(v) for v in row) for row in parity._canon(df).itertuples(index=False)
    )


def mismatched_rows(got, want) -> int:
    """Rows not shared by the two frames, compared order-insensitively in
    the canonical form of the engine's oracle gate (`parity`)."""
    if sorted(got.columns) != sorted(want.columns):
        return max(len(got), len(want), 1)
    a, b = _row_counts(got), _row_counts(want)
    return max(sum((a - b).values()), sum((b - a).values()))


WORKLOADS = {w.name: w for w in (Ingest, Retrieve)}
