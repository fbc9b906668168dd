"""Composed pipelines: E1 batch ingest and E2 hybrid RAG query
(SURVEY.md §3, reference data-ingestion/data_extraction.py:320-444 and
chatbot/app.py:110-369).

E1  ingest_documents: docs -> clean (O11) -> length gate (O5) -> chunk
    (O16/O17) -> keys incl. uuid5 point ids (O18) -> fake/real dense
    embed (O26) -> BM25 posting table (O28).  Two outputs, one logical
    plan each: the `chunks` index table (dense side + payload) and the
    `postings` table (sparse side) — the relational equivalent of the
    reference's named dense+sparse Qdrant vectors.

E2  hybrid_search: queries -> query embed w/ BGE prefix (O27) -> dense
    cosine prefetch (O29) ∥ BM25 prefetch (O30), each top-(mult*k) ->
    RRF k=60 (O31) -> threshold (O32) -> top-k (O33) -> payload
    projection (O34).

    rag_answer adds context assembly (O19/O20) + deterministic fake
    LLM (O35) on top — the full O37 composition.

Plan-hygiene invariants (SURVEY.md §4): length filters run BEFORE the
chunk/embed stages (Catalyst can't reorder across a pandas UDF, so the
builder orders them); the query side of every join is broadcast; every
window carries an explicit (score desc, id asc) tiebreak so results are
deterministic under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lawlm_spark.functions import llm
from lawlm_spark.functions.keys import chunk_id, chunk_key, uuid5
from lawlm_spark.functions.text import clean_text
from lawlm_spark.functions.vectors import add_fake_embedding, cosine, fake_embedding
from lawlm_spark.operators.bm25 import bm25_index, bm25_score_queries
from lawlm_spark.operators.chunking import (
    MIN_TEXT_SIZE,
    fixed_window_chunks,
    recursive_split_chunks,
)
from lawlm_spark.operators.ranking import rrf_fuse, threshold, top_k
from lawlm_spark.operators.similarity import brute_force_topk, rp_lsh_topk
from lawlm_spark.session import materialize

EMBED_DIM = 64
SCORE_THRESHOLD = 0.0     # RRF scores live in (0, ~0.033]; reference's 0.4
                          # (config.yml:59) applies to Qdrant's scale, not RRF-sum
PREFETCH_MULTIPLIER = 5   # config.yml:60
DEFAULT_K = 3             # config.yml:58


def ingest_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 256,
    overlap: int = 32,
    min_chunk: int = 64,
    dim: int = EMBED_DIM,
    chunker: str = "fixed",
    eager_share: bool = False,
    cache_registry: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """E1: returns (chunks, postings).

    chunks:   doc_id, chunk_index, chunk_key, chunk_id, point_id,
              chunk_text, embedding array<double>
    postings: chunk_key, term, weight   (BM25 sparse index)

    chunker='fixed' is the declarative default (oracle-expressible);
    'recursive' swaps in the reference-parity pandas-UDF chunker behind
    the identical schema.  Chunk sizes default small because the
    synthetic docs average ~300 chars; production uses 1536/300/400
    (config.yml:6-8) via the kwargs.

    eager_share=True persists and forces the shared keyed-chunks frame.
    Spark shares no subplans, so materializing BOTH outputs runs the
    clean+chunk stage once per output — but measured at sf0.1 with the
    fixed chunker the shared stage is cheaper than the cache write
    (6.97 s vs 7.34 s), so default False.  Flip it when the shared stage
    dominates: the recursive pandas-UDF chunker over long documents.
    With eager_share, pass `cache_registry` to receive the persisted
    handle for unpersisting after the outputs' final consuming action —
    the cached frame otherwise lives until session LRU eviction.
    """
    cleaned = docs.select(F.col(id_col), clean_text(F.col(text_col)).alias("_clean"))
    if chunker == "fixed":
        ch = fixed_window_chunks(cleaned, id_col, "_clean", chunk_size, overlap, min_chunk)
    elif chunker == "recursive":
        ch = recursive_split_chunks(
            cleaned.filter(F.length(F.trim("_clean")) >= MIN_TEXT_SIZE), id_col, "_clean"
        )
    else:
        raise ValueError(f"unknown chunker {chunker!r}")

    keyed = ch.select(
        F.col(id_col),
        "chunk_index",
        chunk_key(F.col(id_col), F.col(id_col), F.col("chunk_index")).alias("chunk_key"),
        chunk_id(F.col(id_col), F.col("chunk_index")).alias("chunk_id"),
        F.col("chunk_text"),
    ).withColumn("point_id", uuid5(F.col("chunk_key")))
    if eager_share:
        keyed, _n = materialize(keyed, cache_registry)

    chunks = add_fake_embedding(keyed, "chunk_text", "embedding", dim)
    postings = bm25_index(keyed, "chunk_key", "chunk_text")
    return chunks, postings


def hybrid_search(
    chunks: DataFrame,
    postings: DataFrame,
    queries: DataFrame,
    query_id_col: str = "query_id",
    question_col: str = "question",
    k: int = DEFAULT_K,
    prefetch_multiplier: int = PREFETCH_MULTIPLIER,
    min_score: float = SCORE_THRESHOLD,
    dim: int = EMBED_DIM,
    dense_retriever: str = "brute",
    retriever_opts: dict | None = None,
    branch_weights: tuple[float, float] | None = None,
) -> DataFrame:
    """E2: hybrid dense+BM25 search with RRF fusion.

    Returns (query_id, chunk_key, fused_score, final_rank) — one row per
    fused hit, at most k per query.

    branch_weights=(w_dense, w_sparse) switches fusion to weighted RRF
    (score = w_d/(60+rank_d) + w_s/(60+rank_s)) — the engine-side
    extension of the reference's equal-branch Qdrant fusion
    (app.py:151-168; Qdrant exposes no per-branch weight).  None (the
    default) keeps the certified unweighted path bit-identical.

    dense_retriever picks the dense-prefetch strategy (VERDICT r3: brute
    force as the only path was the one scale-killer in this composition;
    the reference's own dense branch is ANN — Qdrant HNSW, app.py:148-173
    — so an approximate retriever is MORE faithful at scale):
      'brute'  — exact cosine over the corpus; the oracle baseline.
      'rp_lsh' — hyperplane-LSH buckets + multiprobe (similarity.py);
                 retriever_opts: num_planes | n_vectors (required, table
                 stats — no implicit count), probe_hamming.
      'ivf'    — KMeans inverted file (ivf.py); retriever_opts: either
                 a prebuilt index {'centroids', 'indexed'} (the 100 TB
                 shape — index once, query many) or {'nlist', 'nprobe'}
                 to build inline.
    All three return the same (query_id, chunk_key, cos, rank) shape, so
    fusion/threshold/top-k downstream are retriever-agnostic.
    """
    prefetch = k * prefetch_multiplier
    opts = dict(retriever_opts or {})
    q_emb = queries.select(
        query_id_col, question_col, fake_embedding(F.col(question_col), dim).alias("q_vec")
    )

    if dense_retriever == "brute":
        dense = brute_force_topk(
            chunks, q_emb, "chunk_key", "embedding", query_id_col, "q_vec", k=prefetch
        )
    elif dense_retriever == "rp_lsh":
        dense = rp_lsh_topk(
            chunks, q_emb, "chunk_key", "embedding", query_id_col, "q_vec",
            dim=dim, k=prefetch,
            num_planes=opts.get("num_planes"),
            probe_hamming=opts.get("probe_hamming", 1),
            n_vectors=opts.get("n_vectors"),
        )
    elif dense_retriever == "ivf":
        from lawlm_spark.operators.ivf import (
            assign_cells,
            ivf_topk,
            train_ivf_centroids,
        )

        centroids = opts.get("centroids")
        indexed = opts.get("indexed")
        if centroids is None:
            centroids = train_ivf_centroids(chunks, "embedding", nlist=opts.get("nlist", 16))
        if indexed is None:
            indexed = assign_cells(chunks, "chunk_key", "embedding", centroids)
        dense = ivf_topk(
            indexed, centroids, q_emb, "chunk_key", "embedding", query_id_col, "q_vec",
            k=prefetch, nprobe=opts.get("nprobe", 4),
        )
    elif dense_retriever == "pq":
        from lawlm_spark.operators.pq import adc_topk, encode_pq, seed_codebook

        m = opts.get("m", 8)
        book = opts.get("codebook")
        codes = opts.get("codes")
        if book is None:
            book = seed_codebook(chunks, "chunk_key", "embedding", m=m,
                                 k=opts.get("codebook_k", 16), dim=dim)
        if codes is None:
            codes = encode_pq(chunks, book, "chunk_key", "embedding", m=m, dim=dim)
        # ADC over the compressed codes generates candidates; exact
        # cosine re-ranks ONLY those rows — same rounding/tiebreak as
        # brute, so exhaustive candidates reproduce brute exactly
        cand = adc_topk(
            q_emb.select(query_id_col, F.col("q_vec").alias("qvec")),
            codes, book, qid_col=query_id_col, id_col="chunk_key",
            topk=opts.get("n_candidates", 4 * prefetch), m=m, dim=dim,
        ).select(query_id_col, "chunk_key")
        scored = (
            cand.join(chunks.select("chunk_key", "embedding"), "chunk_key")
            .join(F.broadcast(q_emb.select(query_id_col, "q_vec")), query_id_col)
            .select(
                query_id_col,
                "chunk_key",
                F.round(cosine(F.col("embedding"), F.col("q_vec")), 6).alias("cos"),
            )
        )
        dense = top_k(
            scored, [query_id_col], F.col("cos").desc(), prefetch, tiebreak=["chunk_key"]
        )
    else:
        raise ValueError(f"unknown dense_retriever {dense_retriever!r}")
    dense = dense.withColumnRenamed("rn", "rank")

    sparse_scores = bm25_score_queries(
        postings, "chunk_key", queries, query_id_col, question_col
    ).withColumn("bm25_score", F.round("bm25_score", 6))
    # rank on the ROUNDED score: raw float sums are summation-order
    # sensitive, so ranks near ties could flip across partitionings/engines
    sparse = top_k(
        sparse_scores,
        [query_id_col],
        F.col("bm25_score").desc(),
        prefetch,
        tiebreak=["chunk_key"],
        rank_col="rank",
    )

    if branch_weights is None:
        fused = rrf_fuse([dense, sparse], [query_id_col], ["chunk_key"])
    else:
        from lawlm_spark.operators.ranking import rrf_fuse_weighted

        fused = rrf_fuse_weighted(
            [dense, sparse], branch_weights, [query_id_col], ["chunk_key"]
        )
    kept = threshold(fused, "fused_score", min_score)
    return top_k(
        kept,
        [query_id_col],
        F.col("fused_score").desc(),
        k,
        tiebreak=["chunk_key"],
        rank_col="final_rank",
    )


def project_sources(
    hits: DataFrame,
    chunks: DataFrame,
    query_id_col: str = "query_id",
    score_col: str = "fused_score",
) -> DataFrame:
    """O34 sources projection (reference app.py:345-358): the 8-field
    payload shape the chatbot returns per hit — case_name, court,
    date_filed, opinion_type, relevance_score, chunk_id, text,
    download_url — keyed by (query_id, final_rank).

    `chunks` must carry the denormalized opinion metadata columns
    (ingest_from_api does; chunk.py:15-23 denormalization).
    """
    payload = chunks.select(
        "chunk_key",
        "case_name",
        "court",
        "date_filed",
        "opinion_type",
        "chunk_id",
        "chunk_text",
        "download_url",
    )
    return hits.join(payload, "chunk_key").select(
        query_id_col,
        "final_rank",
        "case_name",
        "court",
        "date_filed",
        "opinion_type",
        F.round(score_col, 6).alias("relevance_score"),
        "chunk_id",
        F.col("chunk_text").alias("text"),
        "download_url",
    )


def rag_answer(
    chunks: DataFrame,
    postings: DataFrame,
    queries: DataFrame,
    query_id_col: str = "query_id",
    question_col: str = "question",
    k: int = DEFAULT_K,
    dense_retriever: str = "brute",
    retriever_opts: dict | None = None,
) -> DataFrame:
    """O37: full RAG — search, format one snippet block per hit (O34),
    assemble context and source count in one aggregation (O20),
    summarize with the deterministic fake LLM (O35).

    Returns (query_id, question, n_sources, context, summary).
    """
    hits = hybrid_search(
        chunks, postings, queries, query_id_col, question_col, k=k,
        dense_retriever=dense_retriever, retriever_opts=retriever_opts,
    )
    # one context block per hit (O34 snippet, app.py:177-184); context
    # and source count come out of the one per-query aggregation
    blocks = hits.join(chunks.select("chunk_key", "chunk_text"), "chunk_key").select(
        query_id_col,
        "final_rank",
        llm.format_hit(
            F.col("final_rank"),
            F.col("chunk_key"),
            llm.truncate_preview(F.col("chunk_text"), llm.SNIPPET_CHARS),
        ).alias("block"),
    )
    ctx = llm.assemble_context(blocks, [query_id_col], "final_rank", "block")
    context = F.coalesce("context", F.lit(""))
    return (
        queries.select(query_id_col, question_col)
        .join(ctx, query_id_col, "left")
        .select(
            query_id_col,
            question_col,
            F.coalesce("n_blocks", F.lit(0)).alias("n_sources"),
            context.alias("context"),
            llm.fake_llm_summary(llm.user_prompt(F.col(question_col), context)).alias(
                "summary"
            ),
        )
    )
