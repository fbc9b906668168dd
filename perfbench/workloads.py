"""The two workloads.  Each drives the engine only through its public
entry points and sees only the files `corpus` wrote.

A workload has:
  once()     one-time set-up: inputs, and for `serve` the mirror it reads;
  prepare()  the repeated set-up step, run PREPARE_REPS times; `setup_s`
             takes its median (the first repetition pays the JIT);
  op()       one timed operation, returning its wall seconds;
  timed()    the closed loop of operations for the run's seconds;
  check()    output checks, run on every run; returns the problems found;
  layers()   traced run only: forces each layer's public call over
             materialized inputs and returns the spans of every layer.

Why each workload exists, and which end-to-end metric each layer metric
should move, is written down in README.md next to this file.
"""

from __future__ import annotations

import http.client
import json
import os
import shutil
import time

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import functions as F

import corpus
from harness import timed, tree_cpu_s

from lawlm_spark.functions import llm
from lawlm_spark.functions.text import clean_text
from lawlm_spark.functions.vectors import add_fake_embedding, fake_embedding
from lawlm_spark.localdata import local_rows
from lawlm_spark.operators.bm25 import bm25_index, bm25_score_queries
from lawlm_spark.operators.chunking import MIN_TEXT_SIZE, recursive_split_chunks
from lawlm_spark.operators.dedup import incremental_near_dup_pairs, lsh_candidate_pairs
from lawlm_spark.operators.ranking import rrf_fuse, threshold, top_k
from lawlm_spark.operators.similarity import derive_num_planes, rp_lsh_bucket, rp_lsh_topk
from lawlm_spark.plans.rag import EMBED_DIM, PREFETCH_MULTIPLIER, ingest_documents, rag_answer
from lawlm_spark.serving import RagService, serve
from lawlm_spark.sources.mirror import mirror_file_stats, write_mirrors
from lawlm_spark.streaming.ingest import _NEARDUP_CFG, stream_ingest_documents

FILES_PER_CORE = 4


def _digest(df, cols) -> str:
    """Order-independent digest of `cols`: exact sum of 64-bit row hashes
    plus the row count."""
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.sum("h").alias("s"), F.count("*").alias("n")).collect()[0]
    return f"{int(row['n'])}:{int(row['s'] or 0) & (2**64 - 1):016x}"


def _chunk_digest(chunks) -> str:
    return _digest(chunks.select(
        "chunk_key", "chunk_text",
        F.transform("embedding", lambda x: F.round(x, 6)).alias("e")), ["chunk_key", "chunk_text", "e"])


class Workload:
    name = ""
    PREPARE_REPS = 3

    def __init__(self, spark, work: str, seed: int, spans, cores: int):
        self.spark, self.work, self.seed, self.spans = spark, work, seed, spans
        self.n_files = cores * FILES_PER_CORE
        self.info: dict = {}
        self.traced = False  # traced ops record spans

    def _materialize(self, df):
        """Persist and force `df` outside every layer's span."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        return df

    def _force(self, name: str, df):
        """Time `name` as persisting and forcing `df`; returns
        (materialized df, span with rows_out)."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        box = {}
        span = timed(self.spans, name, lambda: box.setdefault("n", df.count()))
        span["rows_out"] = box["n"]
        return df, span

    def timed(self, seconds: float) -> dict:
        """Sequential closed loop: run op() until `seconds` have passed.
        Records each completed op's wall seconds and process-tree CPU."""
        lat, cpu, failed, attempted = [], [], 0, 0
        start = time.perf_counter()
        while time.perf_counter() - start < seconds:
            attempted += 1
            try:
                c0 = tree_cpu_s()
                lat.append(self.op())
                cpu.append(tree_cpu_s() - c0)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
                failed += 1
                print(f"{self.name}: op failed: {e!r}", flush=True)
        return {"latencies": lat, "cpu": cpu, "attempted": attempted, "failed": failed,
                "elapsed_s": time.perf_counter() - start}

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------


class Ingest(Workload):
    """Bulk index build: recursive chunking at the reference's production
    settings, eager_share with a cache registry, then both mirrors."""

    name = "ingest"
    # CPU per pass drops by about a fifth around the 9th-11th pass (the JIT
    # catching up); a run should time only passes after that step
    PREPARE_REPS = 11
    N_DOCS = 400
    MEDIAN_CHARS = 3000
    DUP_SHARE = 0.04  # exact and near copies under new ids, as crawls have
    NEAR_DUP_JACCARD = 0.8
    MIN_QUALITY = 0.7

    def once(self):
        rows = corpus.corpus(self.seed, self.N_DOCS, self.N_DOCS * self.MEDIAN_CHARS,
                             self.MEDIAN_CHARS, dup_share=self.DUP_SHARE)
        self.doc_bytes = sum(len(t.encode()) for _, t in rows)
        self.docs_dir = os.path.join(self.work, "docs")
        corpus.write_parquet_files(rows, self.docs_dir, self.n_files)
        self.mirror = os.path.join(self.work, "mirror")

    def prepare(self):
        """One full pass; the first pays the JIT, the others warm up."""
        self.op()

    def op(self) -> float:
        t0 = time.time()
        docs = self.spark.read.parquet(self.docs_dir)
        registry = []
        chunks, postings = ingest_documents(
            docs, chunker="recursive", eager_share=True, cache_registry=registry)
        t_call = time.time()  # ingest_documents returns after its persist barrier
        try:
            write_mirrors([(chunks, self.mirror + "/chunks"),
                           (postings, self.mirror + "/postings")])
        finally:
            for df in registry:
                df.unpersist()
        t1 = time.time()
        if self.traced:
            span = self.spans.add("plans.rag", t0, t1)
            self.spans.add("plans.rag.call", t0, t_call, parent=span["id"])
        return t1 - t0

    def index_ratio(self) -> float:
        return mirror_file_stats(self.mirror)[1] / self.doc_bytes

    def check(self) -> list[str]:
        problems = []
        chunks = self.spark.read.parquet(self.mirror + "/chunks")
        postings = self.spark.read.parquet(self.mirror + "/postings")
        docs = self.spark.read.parquet(self.docs_dir)
        n, n_ids = chunks.agg(F.count("*"), F.countDistinct("point_id")).collect()[0]
        if n == 0 or n != n_ids:
            problems.append(f"ingest: {n} chunks but {n_ids} distinct point_ids")
        bare = chunks.join(postings.select("chunk_key").distinct(), "chunk_key", "left_anti").count()
        if bare:
            problems.append(f"ingest: {bare} chunks without postings")
        passing = docs.filter(F.length(F.trim(clean_text(F.col("text")))) >= MIN_TEXT_SIZE)
        orphans = passing.join(chunks.select("doc_id").distinct(), "doc_id", "left_anti").count()
        if orphans:
            problems.append(f"ingest: {orphans} length-passing docs without a chunk")
        self.info["digest"] = _chunk_digest(chunks) + "/" + _digest(
            postings.select("chunk_key", "term", F.round("weight", 6).alias("w")),
            ["chunk_key", "term", "w"])
        return problems

    def layers(self) -> dict:
        """Each ingest layer forced over the materialized output of the one
        before it.  plans.rag is the whole composed pass (the traced ops);
        plans.rag.call is the part inside ingest_documents, whose Spark job
        is the eager_share persist barrier."""
        docs = self._materialize(self.spark.read.parquet(self.docs_dir))
        n_docs = docs.count()
        cleaned, s_text = self._force(
            "functions.text", docs.select("doc_id", clean_text(F.col("text")).alias("_clean")))
        ch, s_chunk = self._force("operators.chunking", recursive_split_chunks(
            cleaned.filter(F.length(F.trim("_clean")) >= MIN_TEXT_SIZE), "doc_id", "_clean"))
        registry = []  # the keyed chunks, as ingest_documents materializes them
        ingest_documents(docs, chunker="recursive", eager_share=True, cache_registry=registry)
        keyed = registry[0]
        emb, s_vec = self._force(
            "functions.vectors", add_fake_embedding(keyed, "chunk_text", "embedding", EMBED_DIM))
        post, s_bm = self._force("operators.bm25", bm25_index(keyed, "chunk_key", "chunk_text"))
        path = os.path.join(self.work, "layer_mirror")
        s_mir = timed(self.spans, "sources.mirror", lambda: write_mirrors(
            [(emb, path + "/chunks"), (post, path + "/postings")]))
        s_mir["rows_out"] = s_vec["rows_out"] + s_bm["rows_out"]
        ratios = {
            "operators.chunking.chunks_per_doc": s_chunk["rows_out"] / n_docs,
            "operators.bm25.postings_per_chunk": s_bm["rows_out"] / s_vec["rows_out"],
            "sources.mirror.bytes_written_per_doc_byte": mirror_file_stats(path)[1] / self.doc_bytes,
        }
        for df in (cleaned, ch, keyed, emb, post):
            df.unpersist()
        shutil.rmtree(path, ignore_errors=True)
        s_dedup, s_stream, ratios2 = self._incremental_layers(docs)
        ratios.update(ratios2)
        docs.unpersist()
        return {
            "spans": {"functions.text": [s_text], "operators.chunking": [s_chunk],
                      "functions.vectors": [s_vec], "operators.bm25": [s_bm],
                      "sources.mirror": [s_mir], "plans.rag": self.spans.named("plans.rag"),
                      "plans.rag.call": self.spans.named("plans.rag.call"),
                      "operators.dedup": [s_dedup], "streaming.ingest": [s_stream]},
            "ratios": ratios,
        }

    def _incremental_layers(self, docs):
        """The incremental path over the same corpus: the near-dup judge
        against an empty index (the corpus's copies are found within the
        batch), and one streaming-ingest round that lands the corpus in an
        empty mirror with the quality gate and near-dup judge armed.  A
        first, untimed round warms that path up."""
        self._stream_round("streaming.ingest.warmup")
        empty_sh = local_rows(self.spark, [], "doc_id long, shingle string, set_size int")
        empty_bands = local_rows(self.spark, [], "doc_id long, band int, band_key string")
        pairs, s_dedup = self._force("operators.dedup", incremental_near_dup_pairs(
            docs, empty_sh, empty_bands, "doc_id", "text",
            min_jaccard=self.NEAR_DUP_JACCARD, **_NEARDUP_CFG))
        # candidate pairs the banding proposes, before Jaccard verification
        candidates = lsh_candidate_pairs(docs, "doc_id", "text", **_NEARDUP_CFG).count()
        pairs.unpersist()
        s_stream, files = self._stream_round("streaming.ingest")
        ratios = {
            "operators.dedup.candidates_per_verified_pair":
                candidates / max(s_dedup["rows_out"], 1),
            "sources.mirror.files_per_round": float(files),
        }
        return s_dedup, s_stream, ratios

    def _stream_round(self, name: str):
        mirror = os.path.join(self.work, name + ".mirror")
        span = timed(self.spans, name, lambda: stream_ingest_documents(
            self.spark, self.docs_dir, mirror, os.path.join(self.work, name + ".ckpt"),
            near_dup_jaccard=self.NEAR_DUP_JACCARD, min_quality=self.MIN_QUALITY))
        span["rows_out"] = self.spark.read.parquet(mirror).count()
        return span, mirror_file_stats(mirror)[0]


# ---------------------------------------------------------------------------


class Serve(Workload):
    """Online questions over HTTP from one client that sends each question
    when the last reply arrives."""

    name = "serve"
    N_DOCS = 150
    MEDIAN_CHARS = 3000
    # The question mix.  LIMITS and the questions that match nothing follow
    # the reference's query fixture (FIXTURES.md A4: limit 3 or 5, some
    # questions with an empty result).  POOL, ZIPF_S, TERMS and
    # NO_MATCH_EVERY are assumptions; README.md gives the repeat share and
    # the no-match share of traffic they make.
    POOL = 40          # distinct questions; Zipf repetition over them
    ZIPF_S = 1.2
    TERMS = (2, 8)     # fewest and most terms in a question
    LIMITS = (3, 5)
    NO_MATCH_EVERY = 8  # ranks 4, 12, 20, ... ask words the corpus lacks
    PROBES = 4         # the pool's head, checked against batch rag_answer
    WARMUP = 10        # queries sent in set-up: CPU per query drops by about a
                       # fifth within the first 10 or so (JIT warm-up)

    def once(self):
        rows = corpus.corpus(self.seed, self.N_DOCS, self.N_DOCS * self.MEDIAN_CHARS,
                             self.MEDIAN_CHARS)
        self.doc_bytes = sum(len(t.encode()) for _, t in rows)
        docs_dir = os.path.join(self.work, "docs")
        corpus.write_parquet_files(rows, docs_dir, self.n_files)
        self.mirror = os.path.join(self.work, "mirror")
        chunks, postings = ingest_documents(self.spark.read.parquet(docs_dir), chunker="recursive")
        write_mirrors([(chunks, self.mirror + "/chunks"), (postings, self.mirror + "/postings")])
        self.rng = np.random.default_rng(self.seed)
        self.questions, self.no_match = self._pool()
        ranks = np.arange(1, self.POOL + 1, dtype=np.float64)
        self.q_p = (1 / ranks**self.ZIPF_S) / (1 / ranks**self.ZIPF_S).sum()
        self.answers: dict = {}
        self.info.update(queries=0, repeats=0)
        self.service = self.httpd = None
        self._start_service()
        for _ in range(self.WARMUP):
            self.op()

    def _pool(self):
        """The seeded question pool.  A question's shape (term count,
        limit, whether it can match) follows its Zipf rank, so every seed
        asks the same mix; the seed picks the words.  Matching questions
        draw their terms at the corpus's own word frequencies."""
        vocab = set(corpus.VOCAB.tolist())
        span = self.TERMS[1] - self.TERMS[0] + 1
        questions, no_match = [], []
        for i in range(self.POOL):
            n_terms = self.TERMS[0] + i % span
            if i % self.NO_MATCH_EVERY == 3:
                words = []
                while len(words) < n_terms:
                    w = "".join(self.rng.choice(list("qxzj"), 7))
                    if w not in vocab:
                        words.append(w)
                no_match.append(i)
                text = " ".join(words) + "?"
            else:
                words = corpus.VOCAB[self.rng.choice(len(corpus.VOCAB), n_terms,
                                                     replace=False, p=corpus.ZIPF_P)].tolist()
                text = f"What does the court hold on {' '.join(words)}?"
            questions.append((text, self.LIMITS[i % len(self.LIMITS)]))
        return questions, no_match

    def _start_service(self):
        self.close()
        self.service = RagService(self.spark, self.mirror + "/chunks", self.mirror + "/postings")
        self.httpd, self.thread = serve(self.service)
        self.port = self.httpd.server_address[1]

    def prepare(self):
        """Start the service afresh: scan and cache the mirror, collection
        stats, HTTP listener."""
        self._start_service()
        self.service.refresh_stats()

    def _post(self, question: str, limit: int) -> dict:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request("POST", "/query", json.dumps({"question": question, "limit": limit}),
                         {"Content-Type": "application/json"})
            resp = conn.getresponse()
            body = resp.read()
        finally:
            conn.close()
        if resp.status != 200:
            raise RuntimeError(f"/query answered {resp.status}")
        out = json.loads(body)
        if "summary" not in out or "documents_found" not in out:
            raise RuntimeError("/query reply lacks summary/documents_found")
        answer = {k: out[k] for k in ("summary", "documents_found", "sources")}
        first = self.answers.setdefault((question, limit), answer)
        if first != answer:
            raise RuntimeError(f"/query answered {question!r} differently on repeat")
        return out

    def op(self) -> float:
        """POST the next question of the Zipf stream and wait for the reply.
        The detail line counts the queries whose question was asked before."""
        question = self.questions[int(self.rng.choice(self.POOL, p=self.q_p))]
        self.info["queries"] += 1
        self.info["repeats"] += question in self.answers
        t0, w0 = time.perf_counter(), time.time()
        self._post(*question)
        dt = time.perf_counter() - t0
        if self.traced:
            self.spans.add("serving", w0, w0 + dt, request=self.info["queries"])
        return dt

    def index_ratio(self) -> float:
        return mirror_file_stats(self.mirror)[1] / self.doc_bytes

    def check(self) -> list[str]:
        """Every answer a probe got over HTTP (during the run, or now if the
        run never asked it) equals batch rag_answer over the same mirror,
        and the no-match questions score no posting."""
        problems = []
        probes = self.questions[: self.PROBES]
        for q, limit in probes:
            if (q, limit) not in self.answers:
                self._post(q, limit)
        chunks = self.spark.read.parquet(self.mirror + "/chunks")
        postings = self.spark.read.parquet(self.mirror + "/postings")
        n = chunks.count()
        schema = "query_id long, question string"
        for limit in sorted({limit for _, limit in probes}):
            batch = [(i, q) for i, (q, lim) in enumerate(probes) if lim == limit]
            rows = rag_answer(chunks, postings, local_rows(self.spark, batch, schema), k=limit,
                              dense_retriever="rp_lsh", retriever_opts={"n_vectors": n}).collect()
            if len(rows) != len(batch):
                problems.append(
                    f"serve: batch rag_answer returned {len(rows)} of {len(batch)} probes")
            for r in rows:
                i = r["query_id"]
                want = {"summary": r["summary"], "documents_found": r["n_sources"],
                        "sources": r["context"].split("\n\n") if r["context"] else []}
                if self.answers[probes[i]] != want:
                    problems.append(
                        f"serve: HTTP answer differs from batch rag_answer for {probes[i][0]!r}")
                if r["n_sources"] > limit or (r["n_sources"] == 0 and i not in self.no_match):
                    problems.append(f"serve: {r['n_sources']} sources for limit {limit}")
        empty = local_rows(self.spark, [(i, self.questions[i][0]) for i in self.no_match], schema)
        hits = bm25_score_queries(postings, "chunk_key", empty, "query_id", "question").count()
        if hits:
            problems.append(f"serve: no-match questions scored {hits} chunks")
        return problems

    def layers(self) -> dict:
        """Each query-path layer forced over a batch of pool questions and
        the materialized mirror; plans.rag is the composed rag_answer over
        the same batch.  serving spans are the traced HTTP requests."""
        chunks = self._materialize(self.spark.read.parquet(self.mirror + "/chunks"))
        postings = self._materialize(self.spark.read.parquet(self.mirror + "/postings"))
        n = chunks.count()
        k = 5
        prefetch = k * PREFETCH_MULTIPLIER
        rows = [(i, q) for i, (q, _) in enumerate(self.questions[:8])]
        queries = self._materialize(local_rows(self.spark, rows, "query_id long, question string"))
        q_emb, s_vec = self._force("functions.vectors", queries.select(
            "query_id", "question", fake_embedding(F.col("question"), EMBED_DIM).alias("q_vec")))
        dense, s_sim = self._force("operators.similarity", rp_lsh_topk(
            chunks, q_emb, "chunk_key", "embedding", "query_id", "q_vec",
            dim=EMBED_DIM, k=prefetch, n_vectors=n))
        sparse, s_bm = self._force("operators.bm25", bm25_score_queries(
            postings, "chunk_key", queries, "query_id", "question"))
        ranked = top_k(sparse.withColumn("bm25_score", F.round("bm25_score", 6)), ["query_id"],
                       F.col("bm25_score").desc(), prefetch, tiebreak=["chunk_key"],
                       rank_col="rank")
        fused = rrf_fuse([dense.withColumnRenamed("rn", "rank"), ranked],
                         ["query_id"], ["chunk_key"])
        hits, s_rank = self._force("operators.ranking", top_k(
            threshold(fused, "fused_score", 0.0), ["query_id"], F.col("fused_score").desc(), k,
            tiebreak=["chunk_key"], rank_col="final_rank"))
        blocks = hits.join(chunks.select("chunk_key", "chunk_text"), "chunk_key").select(
            "query_id", "final_rank",
            llm.format_hit(F.col("final_rank"), F.col("chunk_key"),
                           llm.truncate_preview(F.col("chunk_text"), llm.SNIPPET_CHARS)).alias("block"))
        ctx = llm.assemble_context(blocks, ["query_id"], "final_rank", "block")
        answers, s_llm = self._force("functions.llm", queries.join(ctx, "query_id", "left").select(
            "query_id", llm.fake_llm_summary(llm.user_prompt(
                F.col("question"), F.coalesce("context", F.lit("")))).alias("summary")))
        box = {}
        s_rag = timed(self.spans, "plans.rag", lambda: box.setdefault("rows", rag_answer(
            chunks, postings, queries, k=k, dense_retriever="rp_lsh",
            retriever_opts={"n_vectors": n}).collect()))
        s_rag["rows_out"] = len(box["rows"])
        # rows the dense branch scores: chunks within Hamming distance 1 of
        # each query's bucket (multiprobe), per k it keeps
        planes = derive_num_planes(n)
        c_buckets = dict(chunks.groupBy(rp_lsh_bucket(F.col("embedding"), EMBED_DIM, planes)
                                        .alias("b")).count().collect())
        scored = 0
        for r in q_emb.select(rp_lsh_bucket(F.col("q_vec"), EMBED_DIM, planes).alias("b")).collect():
            scored += sum(c for b, c in c_buckets.items()
                          if sum(x != y for x, y in zip(b, r["b"])) <= 1)
        for df in (chunks, postings, queries, q_emb, dense, sparse, hits, answers):
            df.unpersist()
        return {
            "spans": {"functions.vectors": [s_vec], "operators.similarity": [s_sim],
                      "operators.bm25": [s_bm], "operators.ranking": [s_rank],
                      "functions.llm": [s_llm], "plans.rag": [s_rag],
                      "serving": self.spans.named("serving")},
            "ratios": {"operators.similarity.candidates_per_query": scored / len(rows) / prefetch},
        }

    def close(self) -> None:
        if self.httpd is not None:
            self.httpd.shutdown()
            self.httpd.server_close()
            self.thread.join(timeout=30)
            self.httpd = None
        if self.service is not None:
            self.service.chunks.unpersist()
            self.service.postings.unpersist()
            self.service = None
