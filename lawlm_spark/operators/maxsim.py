"""Late-interaction (MaxSim) retrieval — ColBERT-style scoring
(Khattab & Zaharia 2020, "ColBERT: Efficient and Effective Passage
Search via Contextualized Late Interaction over BERT", SIGIR).

Instead of one vector per document (the r4/d8/v10 dense family), every
TOKEN carries a vector, and a document's score for a query is

    score(q, d) = sum over query tokens t of  max over doc tokens u of
                  cos(vec(t), vec(u))

— "late interaction": token-level similarity is aggregated only at
scoring time, which preserves term-level matching that single-vector
retrieval averages away.  This is the one published retrieval shape the
engine's r4-r8 family lacked (VERDICT r14 item 6a); the reference has
no late-interaction path at all — its retrieval is Qdrant single-vector
+ BM25 fusion (app.py:151-168).

Engine-exact scoring: token similarities enter as integer micro-units
(round(cos·1e6) — the vectors.cos_micros contract shared with MMR), a
repeated query token contributes its max ONCE PER OCCURRENCE (the
published sum is over token positions), carried as an integer weight on
the distinct term, so `score = Σ_terms w_term · max_sim` is pure
integer math and both engines rank the identical order with the doc id
as the total-order tiebreak.

Scale shape (plan-pinned in tests/test_maxsim.py):

1. Doc-token vectors are per-DISTINCT-token within the capped prefix —
   MaxSim over duplicate doc tokens equals MaxSim over their distinct
   set, so the dedup is semantics-free row reduction.  `max_tokens`
   caps the exploded corpus at max_tokens rows per document (the
   ColBERT fixed-length-passage discipline); the cap is applied to
   token POSITIONS before the dedup, so it is layout-stable.
2. The query-token table is tiny (queries × distinct terms) and rides
   a BROADCAST cross join into the corpus token stream — the corpus is
   never shuffled to meet the queries.
3. Two keyed aggregates, both map-side partial: max per (query, doc,
   term-slot) then weighted sum per (query, doc).  Partial aggregation
   collapses each task's stream before either exchange.
4. The per-query top-k is the WindowGroupLimit shape (top_k), never a
   global sort.

At 100 TB the corpus-token explode is the scan itself (map-only), the
broadcast is queries-sized, and the only exchanges are the two keyed
aggregates — the same envelope as the certified BM25 pipeline, which
shuffles the same token stream once.  A real deployment swaps
fake per-token embeddings for a model encoder behind the identical
schema (the operators/embedding.py gate pattern) and may pre-compute
doc-token vectors once into a bucketed table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from lawlm_spark.functions.text import tokenize
from lawlm_spark.functions.vectors import (
    add_fake_embedding,
    cos_micros,
    fake_embedding,
)
from lawlm_spark.operators.ranking import top_k


def token_vectors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 64,
    max_tokens: int | None = None,
    seed: str = "v1",
) -> DataFrame:
    """(id, token, vec): one fake-embedded vector per DISTINCT token of
    the (optionally position-capped) token prefix of each text.  Rows
    with no tokens emit nothing — a document with no token rows cannot
    be scored, matching the published model (no tokens, no
    interactions).  The dedup is PER DOCUMENT and MAP-SIDE —
    `array_distinct` on the token array BEFORE the explode — because
    MaxSim's inner max makes duplicate doc tokens redundant; a
    corpus-wide `.distinct()` would pay a shuffle for the identical
    result (caught in the r15 plan review).  The whole producer is a
    shuffle-free codegen scan: tokenize -> slice -> array_distinct ->
    explode -> embed, one vector per distinct token."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    if max_tokens is not None and max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    toks = tokenize(F.col(text_col))
    if max_tokens is not None:
        toks = F.slice(toks, 1, max_tokens)
    exploded = df.select(
        F.col(id_col), F.explode(F.array_distinct(toks)).alias("token")
    )
    # STAGED embedding (add_fake_embedding), not the pure-Column form:
    # the latter re-runs the md5 transform inside the normalization
    # lambda — O(dim^2) hashes per token row, the documented
    # corpus-scale trap (r15 profiling: it was the hottest path, 64x
    # the staged cost).  Values are identical.
    return add_fake_embedding(exploded, "token", "vec", dim, seed).select(
        id_col, "token", "vec"
    )


def query_token_weights(
    queries: DataFrame,
    query_id_col: str,
    text_col: str,
    dim: int = 64,
    seed: str = "v1",
) -> DataFrame:
    """(query_id, token, w, vec): distinct query terms with their
    occurrence count — the published per-position sum regrouped as an
    integer weight per distinct term (Σ_positions max = Σ_terms
    count·max, exactly).  Small side by contract (queries are few);
    built once and broadcast by maxsim_topk."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    toks = queries.select(
        F.col(query_id_col), F.explode(tokenize(F.col(text_col))).alias("token")
    )
    grouped = toks.groupBy(query_id_col, "token").agg(F.count("*").alias("w"))
    return grouped.select(
        query_id_col, "token", "w",
        fake_embedding(F.col("token"), dim, seed).alias("vec"),
    )


def _q_proj(query_tokens: DataFrame, query_id_col: str) -> DataFrame:
    """Rename the query-token table for the scoring join."""
    return query_tokens.select(
        query_id_col,
        F.col("token").alias("_q_token"),
        "w",
        F.col("vec").alias("_q_vec"),
    )


def _maxsim_score(
    cand: DataFrame,
    id_col: str,
    query_id_col: str,
    k: int,
) -> DataFrame:
    """Shared scoring tail of maxsim_topk and maxsim_rerank (they
    differ only in how the candidate (doc-token × query-token) rows
    are produced): per-(query, doc, term) max of round(cos·1e6), then
    the weighted per-(query, doc) sum, then the per-query top-k.
    `cand` carries (query_id, id, vec, _q_token, w, _q_vec).  One
    shared definition so the scoring contract (grouping keys, integer
    weights, integer cosine, doc-id tiebreak) cannot
    silently diverge between the one-stage and two-stage operators."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    sims = cand.select(
        query_id_col,
        id_col,
        "_q_token",
        "w",
        cos_micros(F.col("vec"), F.col("_q_vec")).alias("_sim"),
    )
    per_term = sims.groupBy(query_id_col, id_col, "_q_token", "w").agg(
        F.max("_sim").alias("_max_sim")
    )
    scored = per_term.groupBy(query_id_col, id_col).agg(
        F.sum(F.col("w") * F.col("_max_sim")).alias("maxsim_micros")
    )
    return top_k(
        scored,
        [query_id_col],
        F.col("maxsim_micros").desc(),
        k,
        tiebreak=[id_col],
    )


def maxsim_rerank(
    shortlist: DataFrame,
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Two-stage late interaction — the ColBERTv2/PLAID serving shape
    (Santhanam et al. 2022, "PLAID: An Efficient Engine for Late
    Interaction Retrieval", CIKM): a cheap single-vector stage
    shortlists candidates per query, and the exact MaxSim score is
    computed ONLY for the shortlisted (query, doc) pairs.

    `shortlist` carries one row per candidate pair (query_id, doc_id,
    ...); any certified stage-1 retriever produces it (brute-force
    cosine, the d8/d8b/r4-r8 ANN paths).  Scoring semantics are
    exactly maxsim_topk restricted to the shortlist: per-pair
    Σ_terms w · max round(cos·1e6), integer-exact, doc-id tiebreak.

    Scale shape: the shortlist (queries × stage-1 depth — tiny by
    construction) BROADCASTS onto the corpus token stream (hash join
    on the doc key — the corpus meets only its shortlisted tokens,
    never the full query cross product the single-stage operator
    pays), the query-token table broadcasts on the query key, then the
    same two map-side-partial keyed aggregates and WindowGroupLimit
    top-k.  At 100 TB this is the path: stage 1 bounds the candidate
    set, so late interaction costs O(|shortlist| · tokens) instead of
    O(corpus · query tokens)."""
    pairs = shortlist.select(query_id_col, id_col)
    cand = doc_tokens.join(broadcast(pairs), id_col).join(
        broadcast(_q_proj(query_tokens, query_id_col)), query_id_col
    )
    return _maxsim_score(cand, id_col, query_id_col, k)


def maxsim_topk(
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """(query_id, doc_id, maxsim_micros, rn): per-query top-k documents
    by the late-interaction score Σ_terms w · max_doc_token
    round(cos·1e6).

    `doc_tokens` is (id, token, vec) — token_vectors' shape;
    `query_tokens` is (query_id, token, w, vec) — query_token_weights'
    shape.  The query side broadcasts; the two aggregates and the
    top-k window are the only exchanges, all keyed, none
    single-partition (plan-pinned)."""
    cand = doc_tokens.crossJoin(
        broadcast(_q_proj(query_tokens, query_id_col))
    )
    return _maxsim_score(cand, id_col, query_id_col, k)
