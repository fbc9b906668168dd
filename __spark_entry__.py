"""Driver contract: entry() smoke query, queries() validation set, and
oracle_sql() DuckDB equivalents (SURVEY.md §2.7 V1-V14 + the
beyond-reference training-data operators D1-D10 + pipeline checks R1-R3).

Naming contract: every computed column is aliased identically in the
Spark plan and the oracle SQL; floats that aggregate are rounded the
same number of digits on both sides; ranks are deterministic via
explicit (score, id) tiebreaks so the order-insensitive value hash is
stable across engines and partitionings.

DuckDB dialect notes baked into the oracle SQL: float literals are cast
::DOUBLE where DECIMAL arithmetic could sneak in (e.g. 0.75 * bigint),
regexp_replace needs the 'g' flag (Spark is global by default), and
row_number() is CAST to INTEGER to match Spark's int rank columns.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lawlm_spark.functions.keys import chunk_id, chunk_key, uuid5
from lawlm_spark.localdata import local_rows
from lawlm_spark.functions.text import (
    BPE_PATTERN,
    LANG_MARKERS,
    STOPWORDS_EN,
    bpe_ish_token_count,
    extract_citations,
    fingerprint,
    lang_id,
    quality_score,
    rolling_fingerprint,
    tokenize,
    word_count,
)
from lawlm_spark.functions.vectors import fake_embedding, fake_embedding_oracle_sql
from lawlm_spark.operators.bm25 import bm25_index, bm25_score
from lawlm_spark.operators.chunking import fixed_window_chunks, fixed_window_chunks_sql
from lawlm_spark.operators.dedup import (
    embedding_dup_pairs,
    embedding_dup_pairs_lsh,
    exact_dupes,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    simhash32,
)
from lawlm_spark.operators.ranking import rrf_fuse, top_k
from lawlm_spark.operators.relational import (
    anti_join_new,
    coalesce_with_provenance,
    dup_audit,
    latest_by,
)
from lawlm_spark.operators.similarity import (
    brute_force_topk,
    rp_lsh_bucket_sql,
    rp_lsh_topk,
)
from lawlm_spark.plans.rag import (
    hybrid_search,
    ingest_documents,
    project_sources,
    rag_answer,
)
from lawlm_spark.sources.mirror import mirror_stats, scan_mirror, write_mirror
from lawlm_spark.sources.testdata import load_table
from lawlm_spark.streaming.events import (
    run_streaming_window_counts,
    tumbling_window_counts,
)

# ---------------------------------------------------------------------------
# Shared fixtures (identical construction on both engines)

# three fixed query strings for the vector-search validation queries
VSEARCH_QUERIES = [
    (0, "fast table scan join"),
    (1, "window agg stream spark"),
    (2, "customer order data value"),
]
BM25_TERMS = ["fast", "table", "scan", "join", "spark"]
CITATION_ROWS = [
    (1, "Brown v. Board of Education, 347 U.S. 483 (1954), applied 42 U.S.C. § 1983."),
    (2, "See 410 U.S. 113 and 98 S. Ct. 2733; compare 123 F.3d 456."),
    (3, "In 45 Cal. 2d 101 the court cited 347 U.S. 483 twice: 347 U.S. 483."),
    (4, "No citations in this sentence at all."),
]
EMB_DIM = 64
NEARDUP_PAD = " padding tail extra"

# o3 fixture: raw HTML legal snippets exercising the WHOLE O15 composite
# (clean -> citations -> entities -> stats).  Constraints: only entities
# _clean_sql knows; no ", J." signatures (the judge pattern's negative
# lookahead is RE2-inexpressible, so the oracle uses the lookahead-free
# alternation — equivalent on text without those forms).
ENHANCED_ROWS = [
    (
        1,
        "<p>Justice Marshall delivered the opinion.&nbsp; Brown v. Board "
        "of Education, 347 U.S. 483 (1954), applied 42 U.S.C. § 1983.</p>",
    ),
    (
        2,
        "<div>The Supreme Court of California heard 45 Cal. 2d 101; the "
        "Court of Appeals for the Ninth Circuit agreed.</div>",
    ),
    (
        3,
        "<p>Chief Justice Warren &amp; Justice Brandeis concurred; see "
        "98 S. Ct. 2733 and   123 F.3d 456.</p>",
    ),
    (4, "<span>No legal content &lt;here&gt; at all.</span>"),
]


def _queries_df(spark: SparkSession) -> DataFrame:
    return local_rows(spark, VSEARCH_QUERIES, "query_id long, question string")


def _queries_values_sql() -> str:
    rows = ", ".join(f"(CAST({i} AS BIGINT), '{q}')" for i, q in VSEARCH_QUERIES)
    return f"(VALUES {rows}) AS q(query_id, question)"


def _neardup_corpus(docs: DataFrame) -> DataFrame:
    """Documents subset + padded near-duplicate copies (ids +100000)."""
    base = docs.filter("doc_id % 10 = 0").select("doc_id", "text")
    dups = docs.filter("doc_id % 20 = 0").select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(NEARDUP_PAD)).alias("text"),
    )
    return base.unionByName(dups)


def _neardup_pairs_cut(corpus: DataFrame) -> DataFrame:
    """The d5-certified MinHash-LSH pair set, cache-safe.

    Passes `cache_registry` so the shingle persist inside
    minhash_dedup_pairs (dedup.py:277-281 contract) is ours to release,
    lineage-cuts the bounded pair set (cheap at every scale — one
    narrow row per verified near-dup pair), then unpersists.  The
    d74/d78 pattern applied to the four pre-registered r15 leak sites
    _d5, _d15, _d50_group_split, _d58_cluster_qa (NOTES_r15 §10;
    VERDICT r15 item 2)."""
    from lawlm_spark.session import lineage_cut

    caches: list[DataFrame] = []
    pairs = minhash_dedup_pairs(
        corpus, "doc_id", "text", n=3, num_hashes=8, bands=4,
        min_jaccard=0.2, cache_registry=caches,
    )
    pairs = lineage_cut(pairs)
    for c in caches:
        c.unpersist()
    return pairs


_NEARDUP_SQL = f"""corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text || '{NEARDUP_PAD}' AS text
    FROM documents WHERE doc_id % 20 = 0
)"""


def _shingle_sql(src: str, n: int = 3) -> str:
    """CTEs toks/sh0/sh: (doc_id, shingle, set_size) — distinct n-gram
    shingles, mirroring functions/text.shingles + dedup.shingle_table."""
    parts = ", ".join(f"t[i+{j}]" for j in range(n))
    return f"""toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM {src}
    ),
    sh0 AS (
        SELECT doc_id,
               CASE WHEN len(t) - {n - 1} > 0
                    THEN list_distinct(list_transform(
                        generate_series(1, len(t) - {n - 1}),
                        i -> concat_ws(' ', {parts})))
                    ELSE []::VARCHAR[] END AS shs
        FROM toks
    ),
    sh AS (
        SELECT doc_id, unnest(shs) AS shingle, len(shs) AS set_size
        FROM sh0 WHERE len(shs) > 0
    )"""


def _minhash_sig_sql(num_hashes: int = 8) -> str:
    """CTE sig over sh: (doc_id, mh0..mh{H-1})."""
    mins = ", ".join(
        f"min(md5('{j}:' || shingle)) AS mh{j}" for j in range(num_hashes)
    )
    return f"sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id)"


def _band_sql(num_hashes: int = 8, bands: int = 4) -> str:
    """CTE band_rows over sig: (doc_id, band, band_key)."""
    r = num_hashes // bands
    selects = []
    for bi in range(bands):
        key = " || '|' || ".join(f"mh{bi * r + k}" for k in range(r))
        selects.append(f"SELECT doc_id, {bi} AS band, {key} AS band_key FROM sig")
    return "band_rows AS (" + " UNION ALL ".join(selects) + ")"


_LSH_CAND_SQL = """cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM band_rows a JOIN band_rows b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""

# Positioned 10-token shingles + duplicated-occurrence ranks, mirroring
# operators/spans.positioned_shingles + duplicated_occurrences (d29/d30).
_POS_SHINGLE_SQL = (
    """t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    psh AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               md5(concat_ws(' ', """
    + ", ".join(f"toks[i+{j}]" for j in range(10))
    + """)) AS h
        FROM t, unnest(generate_series(1, greatest(len(toks) - 9, 0))) AS u(i)
    ),
    occ AS (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY h) AS cnt,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM psh
    )"""
)

_JACCARD_SQL = """jac AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(count(*) / (a.set_size + b.set_size - count(*)), 6) AS jaccard
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id, a.set_size, b.set_size
)"""


def _cos_sql(a_vec: str, b_vec: str, dim: int = EMB_DIM) -> str:
    """Cosine of two DuckDB list expressions, matching functions/vectors.cosine."""
    def dot(x: str, y: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))"
        )
    return (
        f"({dot(a_vec, b_vec)} / "
        f"(sqrt({dot(a_vec, a_vec)}) * sqrt({dot(b_vec, b_vec)})))"
    )


_BM25_BASE_SQL = """toks AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
           len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS dl
    FROM documents
),
tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM toks GROUP BY doc_id, term, dl),
nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM (SELECT DISTINCT doc_id, dl FROM tf)),
idf AS (
    SELECT term, ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf
    FROM (SELECT term, count(*) AS df FROM tf GROUP BY term), nd
),
posting AS (
    SELECT tf.doc_id, tf.term,
           idf.idf * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + (0.75::DOUBLE * tf.dl) / ad.avgdl)) AS weight
    FROM tf, ad JOIN idf ON tf.term = idf.term
)"""


_CHUNKS_SQL = """chunks AS (
    SELECT doc_id,
           CAST(p // 224 AS INTEGER) AS chunk_index,
           substring(text, p + 1, 256) AS chunk_text
    FROM (
        SELECT doc_id, text,
               unnest(generate_series(0, greatest(length(text) - 1, 0), 224)) AS p
        FROM documents
        WHERE length(trim(text)) >= 50
    )
    WHERE length(substring(text, p + 1, 256)) >= 64
)"""


# ---------------------------------------------------------------------------
# entry(): flagship query — full RAG composition at sf0.001


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: E1 ingest (clean -> chunk -> keys -> embed -> BM25) +
    E2 hybrid RRF search + O34/O20/O35 projection/context/summary."""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    chunks, postings = ingest_documents(docs, chunk_size=256, overlap=32, min_chunk=64)
    queries = _queries_df(spark)
    return rag_answer(chunks, postings, queries, k=3)


# ---------------------------------------------------------------------------
# queries(): (spark, sf_dir) -> DataFrame, one per operator family


def _v1(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1995-06-01") & (F.col("l_quantity") > 30)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
        F.substring("l_returnflag", 1, 1).alias("flag"),
    )


def _v2(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    a = F.when(F.col("event_type") == "click", F.col("props"))
    b = F.when(F.col("event_type") == "purchase", F.col("props"))
    cols = coalesce_with_provenance(
        [("click_props", a), ("purchase_props", b)], value_name="value"
    )
    return ev.select("event_id", cols["value"].alias("value"), cols["source_field"].alias("source_field"))


def _v3_anti(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    processed = o.filter("o_orderkey % 7 = 0").select("o_orderkey")
    return anti_join_new(o, processed, "o_orderkey").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def _v3_family(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            # exact integer cents (r8): order-independent, see _Q1_* note
            F.expr(_Q1_SUM_BASE_PRICE).alias("sum_price"),
        )
    )


def _v3_semi(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_cust"))
    )


def _v3_outer(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            # exact integer cents (r8): order-independent, see _Q1_* note
            F.expr(_TOTAL_SPEND_CENTS).alias("total_spend"),
        )
    )


_TOTAL_SPEND_CENTS = (
    "round(CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS DECIMAL(38,0))),"
    " CAST(0 AS DECIMAL(38,0))) AS DOUBLE) / 100.0e0, 2)"
)


def _v4_distinct(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_custs"), F.count("*").alias("n_orders")
    )


def _v4_dup(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return dup_audit(li, ["l_orderkey"])


def _v5(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return latest_by(ev, ["user_id"], "ts", ["event_id"]).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
    )


# Q1's money aggregates as exact integer-unit sums (r8): every input is
# 2-decimal, so cents / cents*(100-disc100) / cents*(100-disc100)*
# (100+tax100) are exact per-row integers and the DECIMAL(38,0) sums are
# summation-order independent.  The CAST(... AS DOUBLE) is exact below
# 2^53 (~$90T in cents) for plain-cents sums (k=2).
#
# r9 (ADVICE r8, medium): for k>2 units (disc_price k=4, charge k=6)
# the DECIMAL sum EXCEEDS 2^53 already at sf0.1 (~1.1e16 charge units),
# so the old "CAST(sum AS DOUBLE) / 10^k, round(.., 2)" form put the
# half-up decision on a double whose resolution (~2e-6 dollars) no
# longer carried exact cents — the same hazard class the r8 conversion
# fixed.  The fix: do the half-up rounding to CENTS entirely in integer
# space with the mod identity
#     rounded = S - (S % m) + (CASE WHEN S % m >= m/2 THEN m ELSE 0)
# (DECIMAL-exact on both engines; inputs are non-negative so half-up ==
# half-away-from-zero), then integer-divide by m = 10^(k-2).  The
# division token is ENGINE-SPECIFIC because DuckDB promotes every
# DECIMAL division to DOUBLE: Spark uses `div` (DECIMAL -> BIGINT,
# exact), DuckDB casts to HUGEINT and uses `//` (exact).  Cents then
# fit in 2^53 up to $90T per group, so CAST(cents AS DOUBLE) is exact
# and the final /100 is one IEEE op -> bit-identical across engines,
# partitionings, and SFs.  Pinned by tests/test_money_exact.py with
# >2^53-unit sums on both engines.


def _exact_cents_sum(units_sql: str, k: int, engine: str) -> str:
    """Order-independent, double-resolution-independent money sum.

    units_sql: per-row exact integer in dollars * 10^k.  Returns SQL
    producing the sum rounded half-up to 2 decimals, as DOUBLE.
    engine: 'spark' | 'duckdb' (integer-division token differs).
    Valid for non-negative sums (all TPC-H money columns).
    """
    s = f"sum(CAST({units_sql} AS DECIMAL(38,0)))"
    if k == 2:
        # already cents: exact below 2^53 cents (~$90T per group;
        # TPC-H Q1's largest group crosses that around sf~1500).  Past
        # it the double output is necessarily approximate but stays
        # deterministic and cross-engine bit-identical — both engines'
        # DECIMAL->DOUBLE casts are correctly rounded (pinned at 2^53+
        # odd values by tests/test_money_exact.py)
        return f"CAST({s} AS DOUBLE) / 100.0e0"
    m = 10 ** (k - 2)
    rounded = (
        f"{s} - ({s} % {m})"
        f" + (CASE WHEN ({s} % {m}) >= {m // 2} THEN {m} ELSE 0 END)"
    )
    if engine == "spark":
        cents = f"({rounded}) div {m}"
    else:
        cents = f"CAST({rounded} AS HUGEINT) // {m}"
    return f"CAST({cents} AS DOUBLE) / 100.0e0"


_Q1_BASE_UNITS = "round(l_extendedprice * 100)"
_Q1_DISC_UNITS = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
)
_Q1_CHARGE_UNITS = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
    " * (100 + CAST(round(l_tax * 100) AS BIGINT))"
)
# k=2: identical text on both engines (kept for the shared-text sites)
_Q1_SUM_BASE_PRICE = _exact_cents_sum(_Q1_BASE_UNITS, 2, "spark")
# k>2: engine-specific integer-division token (see note above); the
# oracle side builds its twins inside _v6_tpch_q1_sql("duckdb")
_Q1_SUM_DISC_PRICE = _exact_cents_sum(_Q1_DISC_UNITS, 4, "spark")
_Q1_SUM_CHARGE = _exact_cents_sum(_Q1_CHARGE_UNITS, 6, "spark")
_Q1_AVG_PRICE = (
    "round(CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(38,0)))"
    " AS DOUBLE) / count(*) / 100.0e0, 6)"
)
_Q1_AVG_DISC = (
    "round(CAST(sum(CAST(round(l_discount * 100) AS DECIMAL(38,0)))"
    " AS DOUBLE) / count(*) / 100.0e0, 6)"
)


def _v6_tpch_q1_sql(engine: str) -> str:
    """Q1 as SQL text, per engine (only the disc_price/charge
    integer-division token differs — see _exact_cents_sum)."""
    return f"""
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   {_Q1_SUM_BASE_PRICE} AS sum_base_price,
                   {_exact_cents_sum(_Q1_DISC_UNITS, 4, engine)} AS sum_disc_price,
                   {_exact_cents_sum(_Q1_CHARGE_UNITS, 6, engine)} AS sum_charge,
                   round(avg(l_quantity), 6) AS avg_qty,
                   {_Q1_AVG_PRICE} AS avg_price,
                   {_Q1_AVG_DISC} AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
        """


def _v6(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # quantities are integer-valued: double sums are exact in any
            # order.  Money columns are 2-decimal: sums go through exact
            # integer cents (r8 — round(sum(double)) is summation-order
            # sensitive; v23 flipped cents at sf0.1).  F.expr text matches
            # the oracle SQL except the engine-specific integer-division
            # token in disc_price/charge (r9, see _exact_cents_sum).
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.expr(_Q1_SUM_BASE_PRICE).alias("sum_base_price"),
            F.expr(_Q1_SUM_DISC_PRICE).alias("sum_disc_price"),
            F.expr(_Q1_SUM_CHARGE).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.expr(_Q1_AVG_PRICE).alias("avg_price"),
            F.expr(_Q1_AVG_DISC).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def _v6_rollup(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n",
            "sum_qty",
        )
    )


def _v35_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE — the last §2.6 grouping construct without its own entry
    (rollup certified by v6_rollup).  Adds the (ALL, status) slices a
    rollup omits."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n",
            "sum_qty",
        )
    )


def _v7(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return top_k(
        li.select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
        ["l_returnflag"],
        F.col("l_extendedprice").desc(),
        5,
        tiebreak=["l_orderkey", "l_linenumber"],
    )


def _v8(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders").select("o_orderpriority", "o_orderkey", "o_totalprice", "o_orderdate")
    a = top_k(o, ["o_orderpriority"], F.col("o_totalprice").desc(), 20,
              tiebreak=["o_orderkey"], rank_col="rank").select("o_orderpriority", "o_orderkey", "rank")
    b = top_k(o, ["o_orderpriority"], F.col("o_orderdate").asc(), 20,
              tiebreak=["o_orderkey"], rank_col="rank").select("o_orderpriority", "o_orderkey", "rank")
    fused = rrf_fuse([a, b], ["o_orderpriority"], ["o_orderkey"])
    out = top_k(fused, ["o_orderpriority"], F.col("fused_score").desc(), 3,
                tiebreak=["o_orderkey"], rank_col="final_rank")
    return out.select(
        "o_orderpriority", "o_orderkey",
        F.round("fused_score", 6).alias("fused_score"), "final_rank",
    )


def _v9_index(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    idx = bm25_index(docs, "doc_id", "text")
    return idx.select("doc_id", "term", F.round("weight", 4).alias("weight"))


def _v9_map(spark: SparkSession, sf: str) -> DataFrame:
    """Map-form sparse index (SURVEY §1.3 `bm25 map<string,double>`):
    postings_to_map output certified via sorted-entries fingerprint
    (term:weight-in-1e-4 units, pipe-joined — scalar so it hashes)."""
    from lawlm_spark.operators.bm25 import postings_to_map

    docs = load_table(spark, sf, "documents")
    idx = bm25_index(docs, "doc_id", "text")
    m = postings_to_map(idx, "doc_id")
    return m.select(
        "doc_id",
        F.size("bm25").alias("n_terms"),
        F.array_join(
            F.transform(
                F.map_entries("bm25"),
                lambda e: F.concat_ws(
                    ":", e["key"], F.round(e["value"] * 10000).cast("long").cast("string")
                ),
            ),
            "|",
        ).alias("bm25_fp"),
    )


def _v9_topk(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    idx = bm25_index(docs, "doc_id", "text")
    scores = bm25_score(idx, "doc_id", BM25_TERMS).select(
        "doc_id", F.round("bm25_score", 4).alias("score")
    )
    return top_k(scores, [], F.col("score").desc(), 10, tiebreak=["doc_id"])


def _v10(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    q = _queries_df(spark).select(
        "query_id", fake_embedding(F.col("question"), EMB_DIM).alias("q_vec")
    )
    return brute_force_topk(emb, q, "vec_id", "embedding", "query_id", "q_vec", k=10)


def _v28_query_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """O27: the BGE query-prefix rule changes the embedding, hence the
    ranking — certified by running dense top-k on PREFIXED questions."""
    from lawlm_spark.operators.embedding import BGE_QUERY_PREFIX

    emb = load_table(spark, sf, "embeddings")
    q = _queries_df(spark).select(
        "query_id",
        fake_embedding(
            F.concat(F.lit(BGE_QUERY_PREFIX), F.col("question")), EMB_DIM
        ).alias("q_vec"),
    )
    return brute_force_topk(emb, q, "vec_id", "embedding", "query_id", "q_vec", k=5)


def _d14_salted_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-salted two-phase aggregate ≡ the plain GROUP BY (the oracle
    computes the unsalted form — salting must be semantically invisible)."""
    from lawlm_spark.operators.skew import salted_aggregate

    ev = load_table(spark, sf, "events")
    out = salted_aggregate(ev, ["event_type"], sums=["value"], salt_buckets=8)
    return out.select("event_type", "n", F.round("sum_value", 4).alias("sum_value"))


def _v11_regex(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    pat = "(?:scan|join|agg|sort)[a-z]*"
    # Scalar pipe-join (not array<string>): the driver canonicalizer
    # sorts columns with pandas and cannot hash list cells (round-2 err).
    return docs.select(
        "doc_id",
        F.array_join(
            F.array_sort(F.array_distinct(F.regexp_extract_all(F.col("text"), F.lit(pat), 0))),
            "|",
        ).alias("matches"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0)).cast("long").alias("n_matches"),
    )


def _v11_citations(spark: SparkSession, sf: str) -> DataFrame:
    df = local_rows(spark, CITATION_ROWS, "row_id long, body string")
    return df.select(
        "row_id",
        F.array_join(F.array_sort(extract_citations(F.col("body"))), "|").alias("citations"),
    )


def _o3_enhanced(spark: SparkSession, sf: str) -> DataFrame:
    """O15 composite certified end to end: clean (O11) -> citations (O12)
    -> entities (O13) -> stats (O14) over raw HTML, arrays fingerprinted
    as sorted pipe-joins for the canonicalizer."""
    from lawlm_spark.functions.text import enhanced_processing, split_parties

    df = local_rows(spark, ENHANCED_ROWS, "row_id long, raw string")
    out = df.withColumns(enhanced_processing(F.col("raw")))

    def fp(col):
        return F.array_join(F.array_sort(col), "|")

    return out.select(
        "row_id",
        "opinion_text",
        fp(F.col("citations")).alias("citations_fp"),
        fp(F.col("legal_entities.judges")).alias("judges_fp"),
        fp(F.col("legal_entities.parties")).alias("parties_fp"),
        fp(split_parties(F.col("legal_entities.parties"))).alias("party_names_fp"),
        fp(F.col("legal_entities.courts")).alias("courts_fp"),
        fp(F.col("legal_entities.statutes")).alias("statutes_fp"),
        F.col("text_stats.length").alias("n_chars"),
        F.col("text_stats.word_count").alias("n_words"),
        F.col("text_stats.citation_count").alias("n_citations"),
    )


def _v12(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    ch = fixed_window_chunks(docs, "doc_id", "text", 256, 32, 64)
    return ch.select(
        "doc_id",
        "chunk_index",
        chunk_key(F.col("doc_id"), F.col("doc_id"), F.col("chunk_index")).alias("chunk_key"),
        chunk_id(F.col("doc_id"), F.col("chunk_index")).alias("chunk_id"),
        F.md5(chunk_key(F.col("doc_id"), F.col("doc_id"), F.col("chunk_index"))).alias("sid"),
        "chunk_text",
    )


def _v13(spark: SparkSession, sf: str) -> DataFrame:
    n = load_table(spark, sf, "nation")
    a = n.filter("n_regionkey <= 2").select("n_nationkey")
    b = n.filter("n_nationkey % 2 = 0").select("n_nationkey")
    return a.union(b).distinct().subtract(a.intersect(b))


def _v13_all(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    a = li.filter("l_quantity <= 25").select("l_orderkey")
    b = li.filter("l_returnflag = 'N'").select("l_orderkey")
    # bag semantics: multiplicities preserved (exceptAll/intersectAll)
    return a.exceptAll(a.intersectAll(b))


def _v15_json(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    ).filter(F.col("k") > 50)


def _v14_sliding(spark: SparkSession, sf: str) -> DataFrame:
    from lawlm_spark.streaming.events import sliding_window_counts

    ev = load_table(spark, sf, "events")
    return sliding_window_counts(ev, width="2 days", slide="1 day")


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# SQL-parser surface queries: the IDENTICAL ANSI SQL text runs on Spark
# (spark.sql after registering views) and DuckDB — certifying Spark's SQL
# front end on correlated subqueries and multi-join aggregates.
_V22_EXISTS_SQL = """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
"""

# revenue as an exact integer sum (r8): prices/discounts are 2-decimal,
# so cents * (100 - disc100) is an exact per-row BIGINT and the
# DECIMAL(38,0) sum is order-independent — round(sum(double), 2)
# flipped cents at sf0.1 (3 of 870 rows) because Spark's partial-agg
# addition order differs from DuckDB's sequential fold.  r9 (ADVICE r8):
# the cents rounding now happens in integer space via _exact_cents_sum,
# whose integer-division token is engine-specific (Spark `div`, DuckDB
# HUGEINT `//`) — the SQL text is otherwise identical on both engines.
def _v23_tpch_q3_sql(engine: str) -> str:
    return f"""
    SELECT l_orderkey,
           {_exact_cents_sum(_Q1_DISC_UNITS, 4, engine)} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1995-03-15' AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
"""


def _v25_tpch_q5_sql(engine: str) -> str:
    return f"""
    SELECT n_name,
           {_exact_cents_sum(_Q1_DISC_UNITS, 4, engine)} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1994-01-01'
      AND o_orderdate < TIMESTAMP '1996-01-01'
    GROUP BY n_name
"""


_V23_TPCH_Q3_SQL = _v23_tpch_q3_sql("spark")
_V25_TPCH_Q5_SQL = _v25_tpch_q5_sql("spark")

# Correlated SCALAR subquery surface (v22 covers EXISTS).  The scalars
# are exact integers (cents sum + count; prices have 2 decimals) — any
# double aggregate here is summation-order sensitive at the ulp, and even
# exact-integer-sum-then-divide flipped round(avg, 4) on one boundary row
# at sf0.01 because Spark (BigDecimal HALF_UP) and DuckDB (C round) break
# decimal ties of the same double differently.  Integer outputs cannot
# diverge.  NULL sum (no lineitems) -> -1 sentinel.
_V26_SCALAR_SUBQ_SQL = """
    SELECT o_orderkey, o_totalprice,
           CAST(coalesce((SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                          FROM lineitem WHERE l_orderkey = o_orderkey), -1)
                AS BIGINT) AS sum_line_cents,
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey = o_orderkey) AS n_lines
    FROM orders
    WHERE o_orderkey % 7 = 0
"""


def _register_tpch_views(spark: SparkSession, sf: str) -> None:
    for t in ("customer", "orders", "lineitem", "supplier", "nation", "region"):
        load_table(spark, sf, t).createOrReplaceTempView(t)


def _v22_exists(spark: SparkSession, sf: str) -> DataFrame:
    _register_tpch_views(spark, sf)
    return spark.sql(_V22_EXISTS_SQL)


def _v23_tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    _register_tpch_views(spark, sf)
    return spark.sql(_V23_TPCH_Q3_SQL)


def _v25_tpch_q5(spark: SparkSession, sf: str) -> DataFrame:
    _register_tpch_views(spark, sf)
    return spark.sql(_V25_TPCH_Q5_SQL)


def _v26_scalar_subq(spark: SparkSession, sf: str) -> DataFrame:
    _register_tpch_views(spark, sf)
    return spark.sql(_V26_SCALAR_SUBQ_SQL)


def _v27_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact median / continuous percentile aggregates (gap-ledger:
    ordered-set aggregates; both engines interpolate on the sorted values
    so this is deterministic, unlike approx_percentile)."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.median("value"), 6).alias("med"),
        F.round(F.percentile("value", 0.9), 6).alias("p90"),
        F.round(F.percentile("value", 0.1), 6).alias("p10"),
        F.count("*").alias("n"),
    )


def _m2_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Frame-sampling plumbing certified by oracle: every 4th 16-byte
    frame of the (ASCII) payload; byte slicing == char slicing, so DuckDB
    reproduces frames with substring."""
    from lawlm_spark.operators.multimodal import attach_fake_payload, sample_frames

    docs = load_table(spark, sf, "documents")
    fr = sample_frames(attach_fake_payload(docs), frame_bytes=16, every=4)
    return fr.select(
        "doc_id", "frame_index", F.col("frame").cast("string").alias("frame_text")
    )


def _m3_resize(spark: SparkSession, sf: str) -> DataFrame:
    """Resize plumbing certified: stride-4 byte sample of the ASCII
    payload == stride-4 char sample in SQL."""
    from lawlm_spark.operators.multimodal import attach_fake_payload, fake_resize

    docs = load_table(spark, sf, "documents")
    out = fake_resize(attach_fake_payload(docs), scale=4)
    return out.select(
        "doc_id", "scale", "n_bytes", "digest",
        F.col("payload").cast("string").alias("resized_text"),
    )


def _v21_pivot(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
        .na.fill(0)  # empty combos: null -> 0, matching count(FILTER)
    )


def _v16_scalar_funcs(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return ev.select(
        "event_id",
        F.date_trunc("hour", F.col("ts")).alias("ts_hour"),
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.round(F.sqrt(F.abs(F.col("value"))), 6).alias("sqrt_abs_v"),
        F.round(F.exp(F.col("value") / 100.0), 6).alias("exp_v"),
        F.round(F.pow(F.col("value"), 2.0), 6).alias("v_sq"),
        F.upper(F.col("event_type")).alias("type_upper"),
        F.lpad(F.col("user_id").cast("string"), 6, "0").alias("uid_pad"),
    )


def _v17_analytic_window(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
        # coalesce boundary nulls: nullable int columns round-trip as
        # float through Arrow/pandas, breaking cross-engine hashing
        F.coalesce(F.lag("event_id", 1).over(w), F.lit(-1)).alias("prev_event"),
        F.coalesce(F.lead("event_id", 1).over(w), F.lit(-1)).alias("next_event"),
        F.row_number().over(w).alias("seq"),
    )


def _v14_batch(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return tumbling_window_counts(ev)


def _v19_asof(spark: SparkSession, sf: str) -> DataFrame:
    from lawlm_spark.operators.asof import asof_join

    ev = load_table(spark, sf, "events")
    purchases = ev.filter("event_type = 'purchase'").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    clicks = ev.filter("event_type = 'click'").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("value").alias("click_value"), "ts"
    )
    return asof_join(purchases, clicks, "user_id", "ts", ["click_id", "click_value"])


def _v29_udaf(spark: SparkSession, sf: str) -> DataFrame:
    """Python UDAF (grouped-agg pandas UDF) vs native SQL reformulation
    oracle: geometric mean == exp(avg(ln)) over the positive values."""
    from lawlm_spark.functions.udaf import geo_mean, group_count

    ev = load_table(spark, sf, "events")
    return (
        ev.filter(F.col("value") > 0)
        .groupBy("event_type")
        .agg(
            F.round(geo_mean("value"), 4).alias("geo_value"),
            group_count("value").alias("n_pos"),
        )
    )


def _v20_udtf(spark: SparkSession, sf: str) -> DataFrame:
    from lawlm_spark.functions.udtf import register_udtfs

    register_udtfs(spark)
    local_rows(spark, CITATION_ROWS, "row_id long, body string").createOrReplaceTempView(
        "_v20_bodies"
    )
    return spark.sql(
        "SELECT b.row_id, s.sentence_index, s.start_char, s.sentence "
        "FROM _v20_bodies b, LATERAL split_sentences(b.body) s"
    )


def _v24_range_join(spark: SparkSession, sf: str) -> DataFrame:
    from lawlm_spark.operators.rangejoin import range_join

    ev = load_table(spark, sf, "events")
    intervals = ev.filter("event_type = 'purchase'").select(
        "user_id",
        F.col("event_id").alias("interval_id"),
        F.date_trunc("hour", F.col("ts")).alias("start_ts"),
        (F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 6 HOURS")).alias("end_ts"),
    )
    clicks = ev.filter("event_type = 'click'").select("user_id", "ts", "event_id")
    joined = range_join(clicks, intervals, "user_id", "ts", "start_ts", "end_ts")
    return joined.groupBy("interval_id").agg(F.count("*").alias("n_clicks"))


def _v18_sessions(spark: SparkSession, sf: str) -> DataFrame:
    from lawlm_spark.streaming.events import session_window_counts

    ev = load_table(spark, sf, "events")
    return session_window_counts(ev, gap="1 hour")


def _v14_stream(spark: SparkSession, sf: str) -> DataFrame:
    return run_streaming_window_counts(spark, sf)


def _v34_streaming_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows EXECUTED as a streaming query (append mode +
    watermark + sentinel punctuation so the final sessions flush under
    availableNow — see run_streaming_session_counts).  Same oracle as
    the batch form (gaps-and-islands SQL)."""
    from lawlm_spark.streaming.events import run_streaming_session_counts

    return run_streaming_session_counts(spark, sf)


def _v30_stream_static(spark: SparkSession, sf: str) -> DataFrame:
    from lawlm_spark.streaming.events import run_streaming_enriched_counts

    return run_streaming_enriched_counts(spark, sf)


def _v31_stream_stream(spark: SparkSession, sf: str) -> DataFrame:
    from lawlm_spark.streaming.events import run_stream_stream_join

    return run_stream_stream_join(spark, sf)


def _v38_stream_outer_join(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join run as a real
    append-mode streaming query (streaming/events.py): unmatched
    purchases emit with nulls once the click-side watermark proves no
    future match; two-sided sentinel punctuation flushes the tail.
    click_id is coalesced to -1 for the hash only (a nullable BIGINT
    lands as float64 via pandas on the oracle side, like v3_outer)."""
    from lawlm_spark.streaming.events import run_stream_stream_outer_join

    out = run_stream_stream_outer_join(spark, sf)
    return out.withColumn("click_id", F.coalesce(F.col("click_id"), F.lit(-1)))


def _d32_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-based training mix (operators/sampling.py): budgets
    derived from the corpus itself with alpha=0.5 exponentiated
    sampling (sqrt is IEEE-correctly-rounded, so both engines compute
    bit-identical acceptance fractions), half the corpus's char mass as
    the global budget, deterministic hash keeps."""
    from lawlm_spark.operators.sampling import temperature_mix

    docs = load_table(spark, sf, "documents")
    budget = docs.agg(F.sum("n_chars")).first()[0] / 2.0
    return temperature_mix(
        docs.select("doc_id", "lang", "n_chars"),
        "doc_id", "lang", "n_chars", budget, alpha=0.5, salt="d32",
    )


def _d34_jsonl_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """JSONL interchange (sources/textformats.py): documents written as
    JSON-lines, read back with an EXPLICIT schema (no inference pass)
    in PERMISSIVE corrupt-routing mode, then aggregated per language —
    certifying the round-trip preserves every row and byte of text
    (md5 of the sorted text hashes per group)."""
    import tempfile
    import uuid as uuidlib

    from lawlm_spark.sources.textformats import read_jsonl, split_corrupt, write_jsonl

    docs = load_table(spark, sf, "documents")
    path = f"{tempfile.gettempdir()}/d34_{uuidlib.uuid4().hex[:8]}"
    write_jsonl(docs, path)
    back = read_jsonl(
        spark, path, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    clean, _bad = split_corrupt(back)
    return clean.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.md5(F.concat_ws("|", F.array_sort(F.collect_list(F.md5("text"))))).alias(
            "texts_digest"
        ),
    )


def _d36_fuzzy_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance fuzzy matching (operators/fuzzy.py): 40-char text
    prefixes blocked by (lang, 8-char prefix), pairs within 10 edits —
    the character-level dedup axis (typo'd titles, OCR variants).
    Native levenshtein on both engines; blocking keeps the join
    non-quadratic."""
    from lawlm_spark.operators.fuzzy import fuzzy_key_pairs

    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        "lang",
        F.substring("text", 1, 40).alias("prefix"),
        F.substring("text", 1, 8).alias("blk"),
    )
    return fuzzy_key_pairs(
        docs, "doc_id", "prefix", ["lang", "blk"], max_distance=10
    )


def _d35_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """ORC interchange (sources/textformats.py): documents written to
    ORC and read back, certified by the same per-lang digest contract
    as the JSONL round trip (d34)."""
    import tempfile
    import uuid as uuidlib

    from lawlm_spark.sources.textformats import read_orc, write_orc

    docs = load_table(spark, sf, "documents")
    path = f"{tempfile.gettempdir()}/d35_{uuidlib.uuid4().hex[:8]}"
    write_orc(docs, path)
    return read_orc(spark, path).groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.md5(F.concat_ws("|", F.array_sort(F.collect_list(F.md5("text"))))).alias(
            "texts_digest"
        ),
    )


def _d33_cluster_balance(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space diversity balancing (operators/sampling.py):
    nearest-seed-centroid assignment (8 clusters) + a 30-doc cap per
    cluster, lowest ids kept — per-domain caps transplanted to semantic
    space.  Seed centroids make the assignment oracle-exact."""
    from lawlm_spark.operators.sampling import cluster_balanced_sample

    return cluster_balanced_sample(
        load_table(spark, sf, "embeddings"), n_clusters=8, cap=30, dim=EMB_DIM
    )


def _v42_cogroup_asof(spark: SparkSession, sf: str) -> DataFrame:
    """Cogrouped applyInPandas (operators/cogroup.py): clicks and
    purchases cogrouped per user, pandas merge_asof computes each
    purchase's most recent prior click + lag — the two-sided Python
    escape hatch, hash-matched against the SQL as-of replay."""
    from lawlm_spark.operators.cogroup import conversion_lags

    events = load_table(spark, sf, "events")
    from lawlm_spark.streaming.events import normalize_event_time

    events = normalize_event_time(events)
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    return conversion_lags(clicks, purchases)


def _v41_stateful_timeout(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful sessions with EVENT-TIME TIMEOUT
    (streaming/stateful.py): applyInPandasWithState holds each key's
    trailing session and the watermark passing end+gap fires the
    timeout path that flushes it — state expiry certified end-to-end,
    not just cross-batch accumulation (v36).  Three real micro-batches:
    median-split halves (cross-batch session merge) + sentinel."""
    from lawlm_spark.streaming.stateful import run_stateful_timeout_sessions

    return run_stateful_timeout_sessions(spark, sf)


def _v32_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from lawlm_spark.streaming.events import run_streaming_dedup

    return run_streaming_dedup(spark, sf)


def _d1(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    dups = docs.filter("doc_id % 5 = 0").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.select("doc_id", "text").unionByName(dups)
    return exact_dupes(corpus, "doc_id", "text")


def _d2(spark: SparkSession, sf: str) -> DataFrame:
    corpus = _neardup_corpus(load_table(spark, sf, "documents"))
    return minhash_signatures(corpus, "doc_id", "text", n=3, num_hashes=8)


def _d3(spark: SparkSession, sf: str) -> DataFrame:
    corpus = _neardup_corpus(load_table(spark, sf, "documents"))
    return lsh_candidate_pairs(corpus, "doc_id", "text", n=3, num_hashes=8, bands=4)


def _d4(spark: SparkSession, sf: str) -> DataFrame:
    corpus = _neardup_corpus(load_table(spark, sf, "documents"))
    return jaccard_pairs(corpus, "doc_id", "text", n=3, min_jaccard=0.2)


def _d5(spark: SparkSession, sf: str) -> DataFrame:
    corpus = _neardup_corpus(load_table(spark, sf, "documents"))
    return _neardup_pairs_cut(corpus)


def _d6(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").filter("doc_id < 200")
    return simhash32(docs, "doc_id", "text")


def _d7(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return embedding_dup_pairs(emb, "vec_id", "embedding", min_cos=0.4)


def _d8(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    q = _queries_df(spark).select(
        "query_id", fake_embedding(F.col("question"), EMB_DIM).alias("q_vec")
    )
    return rp_lsh_topk(
        # pinned to round-2's oracle-certified configuration (defaults are
        # now the measured-good multiprobe setting; d8's row stays stable)
        emb, q, "vec_id", "embedding", "query_id", "q_vec", dim=EMB_DIM, k=5,
        num_planes=8, probe_hamming=0,
    )


def _d9(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return embedding_dup_pairs_lsh(
        emb, "vec_id", "embedding", dim=EMB_DIM, min_cos=0.4, num_planes=8
    )


def _d10(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        lang_id(F.col("text")).alias("lang_guess"),
        word_count(F.col("text")).alias("n_tokens"),
        F.round(quality_score(F.col("text")), 4).alias("quality"),
        fingerprint(F.col("text")).alias("fp"),
    )


def _d11(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
        word_count(F.col("text")).alias("ws_tokens"),
        rolling_fingerprint(F.col("text")).alias("rolling_fp"),
    )


def _curation_corpus(docs: DataFrame) -> DataFrame:
    """base (doc_id %10) + exact copies (+200000) + padded near-dups (+100000)."""
    base = docs.filter("doc_id % 10 = 0").select("doc_id", "text")
    exact = docs.filter("doc_id % 20 = 0").select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    near = docs.filter("doc_id % 20 = 0").select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(NEARDUP_PAD)).alias("text"),
    )
    return base.unionByName(exact).unionByName(near)


_D43_CORPUS_SQL = f"""corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text || '{NEARDUP_PAD}' AS text
    FROM documents WHERE doc_id % 20 = 0
    UNION ALL
    SELECT doc_id + 300000 AS doc_id, substring(text, 1, 200) AS text
    FROM documents WHERE doc_id % 30 = 0
)"""


_CURATION_CORPUS_SQL = f"""corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text || '{NEARDUP_PAD}' AS text
    FROM documents WHERE doc_id % 20 = 0
)"""


def _d12(spark: SparkSession, sf: str) -> DataFrame:
    from lawlm_spark.session import lineage_cut
    from lawlm_spark.operators.tuning import coalesced_shuffles
    from lawlm_spark.plans.curation import curate_documents

    corpus = _curation_corpus(load_table(spark, sf, "documents"))
    caches: list[DataFrame] = []
    # coalesced_shuffles (r18): the pipeline materializes fully inside
    # this entry (eager dedup persists + the final cut), and every
    # shuffle is fingerprint/pair/label-sized — byte-sized reduce
    # partitions measured 0.6-0.8x on this family, identical policy at
    # 100 TB (operators/tuning.py).
    with coalesced_shuffles(spark):
        out = curate_documents(
            corpus, min_quality=0.5, near_dup_jaccard=0.5, cache_registry=caches
        )
        # Materialize the curated result (at 100 TB you'd write it out
        # anyway — checkpoint-to-reliable-storage is the documented scale
        # form), then release the exact-dedup + shingle persists the plan
        # held (the d74/d78 cache_registry pattern; VERDICT r15 item 2).
        out = lineage_cut(out)
    for c in caches:
        c.unpersist()
    return out


def _d13(spark: SparkSession, sf: str) -> DataFrame:
    from lawlm_spark.operators.ivf import assign_cells, ivf_topk, train_ivf_centroids

    emb = load_table(spark, sf, "embeddings")
    centroids = train_ivf_centroids(emb, "embedding", nlist=8)
    indexed = assign_cells(emb, "vec_id", "embedding", centroids)
    q = _queries_df(spark).select(
        "query_id", fake_embedding(F.col("question"), EMB_DIM).alias("q_vec")
    )
    return ivf_topk(indexed, centroids, q, "vec_id", "embedding", "query_id", "q_vec",
                    k=5, nprobe=4)


def _m1(spark: SparkSession, sf: str) -> DataFrame:
    from lawlm_spark.operators.multimodal import attach_fake_payload, extract_features

    docs = load_table(spark, sf, "documents")
    media = attach_fake_payload(docs)
    feats = extract_features(media)
    # Features are exact multiples of 1/1000; emit the integer millis as a
    # pipe-joined scalar so the driver canonicalizer can hash the column
    # (list cells crash its pandas sort — round-2 err) with no float
    # formatting divergence between Spark and DuckDB.
    return feats.select(
        "doc_id",
        "n_bytes",
        "digest",
        F.array_join(
            F.transform("features", lambda x: F.round(x * 1000).cast("long").cast("string")),
            "|",
        ).alias("features_fp"),
    )


def _o1(spark: SparkSession, sf: str) -> DataFrame:
    from lawlm_spark.plans.ingest_api import ingest_from_api
    from lawlm_spark.sources.rest import fake_courtlistener_fetcher

    existing = local_rows(spark, [(0,), (1,)], "docket_id long")
    _, chunks = ingest_from_api(
        spark, [("page:0", None)], fake_courtlistener_fetcher, existing
    )
    return chunks.select("docket_id", "opinion_id", "chunk_index", "chunk_key", "point_id")


def _r1(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    chunks, postings = ingest_documents(docs, chunk_size=256, overlap=32, min_chunk=64)
    # production reads the parquet mirror (write_mirror; b_hybrid's
    # shape) — the cut simulates that materialization so the sparse and
    # dense retrieval branches don't each replay the ingest pipeline
    from lawlm_spark.session import lineage_cut

    chunks, postings = lineage_cut(chunks), lineage_cut(postings)
    return rag_answer(chunks, postings, _queries_df(spark), k=3)


def _o2_sources(spark: SparkSession, sf: str) -> DataFrame:
    """O34 sources projection (app.py:345-358): full RAG search over
    documents-derived chunks carrying synthesized opinion metadata
    (deterministic expressions of doc_id so the 8-field projection is
    oracle-expressible end to end)."""
    docs = load_table(spark, sf, "documents")
    chunks, postings = ingest_documents(docs, chunk_size=256, overlap=32, min_chunk=64)
    # the r1 mirror-materialization cut: retrieval fans chunks into the
    # sparse and dense branches
    from lawlm_spark.session import lineage_cut

    chunks, postings = lineage_cut(chunks), lineage_cut(postings)
    meta = chunks.withColumns(
        {
            "case_name": F.concat(
                F.lit("Case "), F.col("doc_id").cast("string"), F.lit(" v. State")
            ),
            "court": F.element_at(
                F.array(F.lit("scotus"), F.lit("ca1"), F.lit("ca2"), F.lit("ca9")),
                (F.col("doc_id") % 4 + 1).cast("int"),
            ),
            "date_filed": F.date_add(
                F.to_date(F.lit("2020-01-01")), (F.col("doc_id") % 365).cast("int")
            ),
            "opinion_type": F.when(F.col("doc_id") % 2 == 0, F.lit("majority")).otherwise(
                F.lit("dissent")
            ),
            "download_url": F.concat(
                F.lit("https://example.org/op/"), F.col("doc_id").cast("string"), F.lit(".pdf")
            ),
        }
    )
    hits = hybrid_search(meta, postings, _queries_df(spark), k=3)
    out = project_sources(hits, meta)
    return out.withColumn("date_filed", F.col("date_filed").cast("string"))


def _r2(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    chunks, _ = ingest_documents(docs, chunk_size=256, overlap=32, min_chunk=64)
    path = tempfile.mkdtemp(prefix="lawlm_mirror_") + "/index"
    write_mirror(chunks.drop("embedding"), path)
    return mirror_stats(scan_mirror(spark, path), key_col="point_id")


def _r3(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    ch = fixed_window_chunks(docs, "doc_id", "text", 256, 32, 64)
    ck = chunk_key(F.col("doc_id"), F.col("doc_id"), F.col("chunk_index"))
    return ch.select(ck.alias("chunk_key"), uuid5(ck).alias("point_id"))


def _d15(spark: SparkSession, sf: str) -> DataFrame:
    """Connected-components near-dup canonicalization (iterative
    min-label propagation — the gap-ledger 'iterative algorithm'
    exercised with a full oracle: DuckDB computes the same components
    via WITH RECURSIVE reachability).  Pairs come from the d5-certified
    MinHash-LSH config (cache-safe via _neardup_pairs_cut); kept = min
    doc id per component."""
    from lawlm_spark.operators.components import dedup_by_component

    corpus = _neardup_corpus(load_table(spark, sf, "documents"))
    pairs = _neardup_pairs_cut(corpus)
    return dedup_by_component(corpus, pairs, "doc_id").select("doc_id")


def _d16(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget sequence packing over the documents table: cumsum
    window -> bin/offset.  Unsharded here (oracle shape); shard_col is
    the scale path (tests)."""
    from lawlm_spark.operators.packing import pack_documents

    docs = load_table(spark, sf, "documents")
    return pack_documents(docs, budget=512)


def _d8b(spark: SparkSession, sf: str) -> DataFrame:
    """d8 at the SHIPPED defaults (VERDICT r3 item 5): multiprobe on,
    planes derived from corpus stats.  d8 certifies round-2's pinned
    planes=8/probe=0 config; this entry certifies what users actually
    get by default.  n_vectors comes from a driver-side count of the
    500-row fixture — the documented 'feed stats' path (at 100 TB the
    count comes from table metadata, never a scan)."""
    emb = load_table(spark, sf, "embeddings")
    q = _queries_df(spark).select(
        "query_id", fake_embedding(F.col("question"), EMB_DIM).alias("q_vec")
    )
    return rp_lsh_topk(
        emb, q, "vec_id", "embedding", "query_id", "q_vec", dim=EMB_DIM, k=5,
        n_vectors=emb.count(),  # 500 at every shipped SF -> derived planes = 2
    )


def _r4_hybrid_ann(spark: SparkSession, sf: str) -> DataFrame:
    """E2 with the ANN dense branch (VERDICT r3 item 2): hybrid_search
    run with dense_retriever='rp_lsh'.  num_planes=1 + multiprobe probes
    BOTH buckets, so recall@k = 1 by construction and the composition
    must hash-match the brute-force oracle while executing the bucketed
    plan (bucket join + dedup + re-rank) end to end.  Recall at the
    derived-planes default is separately asserted in tests/test_pipeline."""
    docs = load_table(spark, sf, "documents")
    chunks, postings = ingest_documents(docs, chunk_size=256, overlap=32, min_chunk=64)
    hits = hybrid_search(
        chunks, postings, _queries_df(spark), k=3,
        dense_retriever="rp_lsh",
        retriever_opts={"num_planes": 1, "probe_hamming": 1},
    )
    return hits.select(
        "query_id", "chunk_key", F.round("fused_score", 6).alias("fused_score"), "final_rank"
    )


def _r9_weighted_hybrid(spark: SparkSession, sf: str) -> DataFrame:
    """E2 with per-branch fusion weights (r14 surface; VERDICT r13 item
    7b): the reference's Qdrant FusionQuery(RRF) runs equal branches
    (app.py:151-168) and exposes no per-branch weight — once fusion is
    engine-side, weighting dense vs sparse is the natural extension
    (score = 0.7/(60+rank_dense) + 0.3/(60+rank_sparse)).  Same
    prefetch multiplier (config.yml:60) and one-exchange fusion plan
    as the certified unweighted path; weights (1.0, 1.0) reproduce
    rrf_fuse exactly (pinned in tests/test_ranking_weighted.py)."""
    docs = load_table(spark, sf, "documents")
    chunks, postings = ingest_documents(docs, chunk_size=256, overlap=32, min_chunk=64)
    hits = hybrid_search(
        chunks, postings, _queries_df(spark), k=3, branch_weights=(0.7, 0.3)
    )
    return hits.select(
        "query_id", "chunk_key", F.round("fused_score", 6).alias("fused_score"), "final_rank"
    )


def _o4_full_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """REST ingest -> hybrid search -> sources projection, end to end
    (VERDICT r3 item 7): certifies the B3 case_name fix a /query user
    actually sees (reference app.py:349 reads payload.case_name which
    the reference never populates).  Rows-only like o1: the REST fetch
    has no SQL equivalent, but every output column is deterministic
    (fake fetcher + fake embeddings + rounded scores)."""
    from lawlm_spark.plans.ingest_api import ingest_from_api
    from lawlm_spark.sources.rest import fake_courtlistener_fetcher

    _, chunks = ingest_from_api(spark, [("page:0", None)], fake_courtlistener_fetcher)
    from lawlm_spark.functions.vectors import add_fake_embedding
    from lawlm_spark.operators.bm25 import bm25_index

    indexed = add_fake_embedding(chunks, "chunk_text", "embedding", EMB_DIM)
    postings = bm25_index(indexed, "chunk_key", "chunk_text")
    qs = local_rows(
        spark,
        [(0, "court held accordingly"), (1, "opinion citing matter")],
        "query_id long, question string",
    )
    hits = hybrid_search(indexed, postings, qs, k=3)
    out = project_sources(hits, indexed)
    return out.withColumn("date_filed", F.col("date_filed").cast("string"))


def _v33_streaming_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming E1 (streaming/ingest.py) EXECUTED as two availableNow
    passes: pass 1 lands the corpus; pass 2 re-lands the SAME documents
    as a new file.  The checkpointed file log + chunk-key anti-join must
    make pass 2 a no-op, so the mirror holds each chunk exactly once —
    any restart-safety or idempotence failure doubles rows and breaks
    the hash against the single-pass batch oracle."""
    import os
    import uuid as _uuid

    from lawlm_spark.streaming.ingest import stream_ingest_documents

    base = os.path.join(tempfile.gettempdir(), f"v33_{_uuid.uuid4().hex[:8]}")
    landing, mirror, ckpt = (os.path.join(base, d) for d in ("landing", "mirror", "ckpt"))
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    docs.coalesce(2).write.mode("overwrite").parquet(landing)
    stream_ingest_documents(spark, landing, mirror, ckpt)
    # re-land the same corpus as new files -> anti-join dedups to nothing
    docs.coalesce(1).write.mode("append").parquet(landing)
    stream_ingest_documents(spark, landing, mirror, ckpt)
    return scan_mirror(spark, mirror).select(
        "doc_id", "chunk_index", "chunk_key", "chunk_id", "chunk_text"
    )


def _d16b_sharded(spark: SparkSession, sf: str) -> DataFrame:
    """d16's SCALE form certified (VERDICT r4 item 2): the cumsum window
    partitioned by a shard key (3 shards here), so bins are (shard,
    bin_id) pairs and the window exchange hash-partitions on shard
    instead of funneling the corpus through one task.  Oracle: the same
    cumsum PARTITION BY shard in DuckDB."""
    from lawlm_spark.operators.packing import pack_documents

    docs = load_table(spark, sf, "documents")
    return pack_documents(docs, budget=512, shard_col=(F.col("doc_id") % 3).alias("shard"))


def _r5_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """salted_join ≡ the plain equi-join (VERDICT r4 item 1): the big
    side salted per-row, the small side replicated salt_buckets times —
    semantically invisible, so the oracle computes the UNSALTED join."""
    from lawlm_spark.operators.skew import salted_join

    orders = load_table(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    cust = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_mktsegment"
    )
    joined = salted_join(orders, cust, "o_custkey", salt_buckets=8)
    # exact integer cents, not a rounded double sum: engine-independent
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("sum_price_cents"),
    )


def _v36_stateful(spark: SparkSession, sf: str) -> DataFrame:
    """The applyInPandasWithState custom stateful operator as a REAL
    two-micro-batch streaming query (VERDICT r4 item 1 housekeeping):
    even event_ids land in batch 1, odd in batch 2; users spanning both
    emit twice with totals accumulated ACROSS the batch boundary
    (n_updates=2).  Oracle: partial agg over half 1 union combined agg
    over both halves — batch SQL reproduces every update-mode emission."""
    from lawlm_spark.streaming.stateful import run_stateful_running_totals

    return run_stateful_running_totals(spark, sf)


def _r5_ivf_prebuilt(spark: SparkSession, sf: str) -> DataFrame:
    """IVF index-once/query-many (VERDICT r4 item 6): centroids+indexed
    are WRITTEN to a parquet mirror and LOADED BACK before searching —
    certifying the persistence round-trip, not just the inline build.
    Full probe (nprobe=nlist) makes the ANN plan exhaustive, so the
    composition must hash-match the brute-force oracle while executing
    the real bucketed path (cell join + re-rank) from on-disk index
    tables."""
    import os

    from lawlm_spark.operators.ivf import assign_cells, train_ivf_centroids

    docs = load_table(spark, sf, "documents")
    chunks, postings = ingest_documents(docs, chunk_size=256, overlap=32, min_chunk=64)
    nlist = 4
    centroids = train_ivf_centroids(chunks, "embedding", nlist=nlist)
    indexed = assign_cells(chunks, "chunk_key", "embedding", centroids)
    base = tempfile.mkdtemp(prefix="lawlm_ivf_")
    write_mirror(centroids, os.path.join(base, "centroids"))
    write_mirror(indexed.select("chunk_key", "embedding", "cell_id"), os.path.join(base, "indexed"))
    loaded_centroids = scan_mirror(spark, os.path.join(base, "centroids"))
    loaded_indexed = scan_mirror(spark, os.path.join(base, "indexed"))
    hits = hybrid_search(
        chunks, postings, _queries_df(spark), k=3,
        dense_retriever="ivf",
        retriever_opts={
            "centroids": loaded_centroids,
            "indexed": loaded_indexed,
            "nprobe": nlist,
        },
    )
    return hits.select(
        "query_id", "chunk_key", F.round("fused_score", 6).alias("fused_score"), "final_rank"
    )


def _d17_hash_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash sampling (operators/sampling.py): membership is
    a pure function of md5(salt:key), so it is stable across engines,
    reruns, partitionings and corpus growth — the reproducibility
    df.sample cannot offer (its RNG stream is per-partition).  The draw
    u = int(md5[:8], 16) / 2^32 is an exact multiple of 2^-32, hence
    exactly representable in a double: the oracle compares u UNROUNDED."""
    from lawlm_spark.operators.sampling import hash_sample, hash_uniform

    docs = load_table(spark, sf, "documents")
    return hash_sample(docs, "doc_id", 0.25, salt="d17").select(
        "doc_id", "lang", hash_uniform(F.col("doc_id"), "d17").alias("u")
    )


# cumulative split bounds accumulated in Python once, interpolated into
# BOTH engines' plans verbatim (0.8 + 0.1 != 0.9 in binary; the oracle
# must use the same 0.9000000000000001 literal the Spark CASE uses)
_D18_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _d18_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test assignment: disjoint + exhaustive by
    cumulative-range construction, stable under reprocessing — every
    doc_id keeps its split forever, the property a training pipeline
    needs so later corpus additions never leak val docs into train."""
    from lawlm_spark.operators.sampling import hash_split

    docs = load_table(spark, sf, "documents")
    return hash_split(docs, "doc_id", _D18_WEIGHTS, salt="d18").select("doc_id", "split")


_D19_TARGETS = {"en": 5000.0, "de": 100000.0, "fr": 2000.0}


def _d19_training_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Training-mix composition: per-language token budgets -> per-stratum
    acceptance fraction min(1, target/total) -> deterministic hash filter.
    en/fr downsample (~0.4x), de caps at 1 (kept whole), es/zh have no
    target (dropped).  One tiny strata aggregate + a broadcast join; the
    corpus is scanned once and never shuffled."""
    from lawlm_spark.functions.text import word_count
    from lawlm_spark.operators.sampling import training_mix

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "lang", word_count(F.col("text")).alias("n_tokens")
    )
    return training_mix(docs, "doc_id", "lang", "n_tokens", _D19_TARGETS, salt="mix")


def _d20_incremental_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental near-dup (operators/dedup.py): the corpus is indexed
    ONCE (shingles + LSH bands); a new batch is judged against the index
    doing O(|batch|) work — batch side broadcasts, the corpus index
    streams map-side with no shuffle (plan-asserted in
    test_incremental_neardup.py).  The old/new split is a deterministic
    md5 flag so corpus matches and within-batch (smaller-id) matches are
    both exercised.  Oracle: the same pair contract in SQL over the
    union, restricted to pairs whose judged side is new."""
    from lawlm_spark.operators.dedup import _cut_near_dup_index, incremental_near_dup_pairs

    corpus = _neardup_corpus(load_table(spark, sf, "documents"))
    is_new = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8"
    old, new = corpus.filter(~is_new), corpus.filter(is_new)
    # in production the index is parquet (write_mirror) — one
    # materialization per corpus.  The cut index simulates exactly that
    # here: the shingle table is cut before the bands are signed from
    # it, so the old corpus is shingled once and the verify/band
    # consumers don't each re-shingle it (part of the 14 FileScans in
    # the r8 plan audit).
    sh, bands = _cut_near_dup_index(old, "doc_id", "text", n=3, num_hashes=8, bands=4)
    return incremental_near_dup_pairs(
        new, sh, bands, "doc_id", "text", n=3, num_hashes=8, bands=4, min_jaccard=0.2
    )


def _d22_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing (functions/text.py): deterministic contact strings
    are appended to the corpus (the testdata carries no PII), then
    scrubbed + counted.  The pattern set is RE2-compatible so the oracle
    runs the IDENTICAL regexes."""
    from lawlm_spark.functions.text import pii_counts, scrub_pii

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    decorated = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact staff"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-123-4567 ssn 123-45-6789"),
        ).alias("text"),
    )
    return decorated.select(
        "doc_id",
        scrub_pii(F.col("text")).alias("scrubbed"),
        pii_counts(F.col("text")).alias("c"),
    ).select("doc_id", "scrubbed", "c.*")


def _d23_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level boilerplate line removal: every doc gets the same
    footer line plus a unique marker line; the footer (present in 100% of
    docs > the 30% threshold) is stripped from every document, unique
    lines and order survive.  One row per input doc."""
    from lawlm_spark.operators.boilerplate import remove_boilerplate_lines

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") % 3 == 0)
    corpus = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("STANDARD FOOTER NOTICE"),
            F.concat(F.lit("doc marker "), F.col("doc_id").cast("string")),
        ).alias("text"),
    )
    return remove_boilerplate_lines(corpus, "doc_id", "text", max_doc_frac=0.3)


def _d24_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style within-document repetition signals
    (operators/quality.py): duplicate-line fraction and top-bigram
    fraction.  Every 7th doc is decorated with a repeated line so both
    signals fire on a known subset; thresholds are caller policy, the
    operator reports raw fractions."""
    from lawlm_spark.operators.quality import repetition_metrics

    docs = load_table(spark, sf, "documents")
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat_ws(
                "\n", F.col("text"), F.lit("repeated boilerplate line"),
                F.lit("repeated boilerplate line"), F.lit("repeated boilerplate line"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return repetition_metrics(corpus)


def _d25_decontamination(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-set decontamination (operators/quality.py): every 17th doc
    plays the benchmark corpus; any training doc sharing a 5-gram
    shingle with it is flagged with the distinct-shingle hit count.  The
    eval shingle set is broadcast, so the training side never shuffles
    before the per-doc count — eval suites stay tiny at 100 TB."""
    from lawlm_spark.operators.quality import contamination_hits

    docs = load_table(spark, sf, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 17 == 0)
    return contamination_hits(docs, eval_docs, "doc_id", "text", n=5)


def _d26_domain_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain document caps (operators/quality.py): at most 10 docs
    per source (testdata carries 25/source, so the cap prunes 60% of
    every domain), deterministically the lowest ids — the
    anti-domination guard for skewed domain distributions.
    WindowGroupLimit prunes each domain partition before the sort
    materializes."""
    from lawlm_spark.operators.quality import cap_per_domain

    docs = load_table(spark, sf, "documents")
    return cap_per_domain(docs, "source", k=10).select("doc_id", "source", "lang")


def _d27_quality_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Per-stratum quality pruning (operators/quality.py): keep the top
    half of each language by quality score via percent_rank with a
    deterministic id tiebreak — the per-stratum alternative to one
    global threshold when score distributions differ across languages."""
    from lawlm_spark.functions.text import lang_id, quality_score
    from lawlm_spark.operators.quality import quality_prune

    docs = load_table(spark, sf, "documents")
    scored = docs.select(
        "doc_id",
        lang_id(F.col("text")).alias("lang_guess"),
        quality_score(F.col("text")).alias("quality"),
    )
    return quality_prune(scored, "lang_guess", "quality", keep_frac=0.5)


def _d28_corpus_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language corpus card (operators/quality.py): doc counts,
    token totals, quality/length distribution — the summary a mix
    designer reads before setting d19 budgets.  One scan + one keyed
    aggregate; exact medians (v27 certified the engine-median parity)."""
    from lawlm_spark.operators.quality import corpus_report

    return corpus_report(load_table(spark, sf, "documents"), "lang", "text")


def _d29_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Substring-level exact dedup, detection half (operators/spans.py):
    maximal duplicated 10-token spans across and within documents —
    the distributed re-expression of suffix-array substring dedup (Lee
    et al. 2022) at shingle granularity.  One shuffle on md5(shingle)
    for the occurrence rank, one on doc_id for the island merge; the
    globally-first copy of every duplicated region is exempt."""
    from lawlm_spark.operators.spans import dup_spans

    return dup_spans(load_table(spark, sf, "documents"), n=10)


def _d30_dup_span_removal(spark: SparkSession, sf: str) -> DataFrame:
    """Substring-level exact dedup, removal half (operators/spans.py):
    every duplicated 10-token span cut from the token stream, first
    occurrence kept ("all but one copy").  Returns (doc_id, n_tokens,
    text_hash) per doc — the rebuilt token stream is the contract, and
    hashing it keeps the certified payload compact at any SF."""
    from lawlm_spark.operators.spans import remove_dup_spans

    out = remove_dup_spans(load_table(spark, sf, "documents"), n=10)
    return out.select(
        "doc_id",
        F.when(F.col("text") == "", 0)
        .otherwise(F.size(F.split("text", " ")))
        .cast("long")
        .alias("n_tokens"),
        F.md5("text").alias("text_hash"),
    )


_V39_TPCH_Q13_SQL = """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '%URGENT%'
          GROUP BY c_custkey) c_orders
    GROUP BY c_count
"""


def _v39_tpch_q13(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape (o_comment is absent from the testdata, so the
    non-key join predicate filters o_orderpriority instead): outer join
    with a predicate on the nullable side + aggregate-of-aggregate
    distribution — the classic 'customers by order count' histogram."""
    _register_tpch_views(spark, sf)
    return spark.sql(_V39_TPCH_Q13_SQL)


def _v40_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 dimension build from a change log
    (operators/relational.py::scd2_intervals): per-user event_type
    transitions become validity intervals [valid_from, valid_to), the
    open current row flagged.  Ties broken by event_id; one Exchange +
    one sort serve both windows."""
    from lawlm_spark.operators.relational import scd2_intervals

    events = load_table(spark, sf, "events")
    return scd2_intervals(events, "user_id", "ts", "event_type", ["event_id"])


def _v83_scd2_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental Type-2 dimension maintenance (operators/
    relational.py::scd2_apply_increment, r17 surface): the v40
    dimension built from the first ts-tercile of the event log, then
    the two remaining terciles folded in as append-only batches —
    untouched keys pass through broadcast joins (no window over
    history), each affected key's open row re-seeds a scd2 rebuild
    sized by the BATCH.  Oracle identity: incremental fold ==
    scd2_intervals over the whole log (the certified v40 SQL)."""
    from lawlm_spark.operators.relational import (
        scd2_apply_increment,
        scd2_intervals,
    )

    events = load_table(spark, sf, "events")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    c1 = lo + (hi - lo) // 3
    c2 = lo + 2 * ((hi - lo) // 3)
    dim = scd2_intervals(
        events.filter(F.col("ts") <= c1), "user_id", "ts", "event_type",
        ["event_id"],
    )
    for pred in (
        (F.col("ts") > c1) & (F.col("ts") <= c2),
        F.col("ts") > c2,
    ):
        dim = scd2_apply_increment(
            dim, events.filter(pred), "user_id", "ts", "event_type",
            ["event_id"],
        )
    return dim


def _v63_temporal_join(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time dimension lookup (operators/relational.py::
    temporal_lookup): each purchase joined to the SCD2 version of the
    user's activity state valid at purchase time (dimension built by
    v40's scd2_intervals from the NON-purchase events).  Disjoint
    intervals -> at most one match per fact; epoch-micros output, -1
    sentinel for the pre-history case."""
    from lawlm_spark.operators.relational import scd2_intervals, temporal_lookup
    from lawlm_spark.streaming.events import normalize_event_time

    ev = normalize_event_time(load_table(spark, sf, "events"))
    dim = scd2_intervals(
        ev.filter("event_type != 'purchase'"), "user_id", "ts", "event_type",
        ["event_id"],
    )
    facts = ev.filter("event_type = 'purchase'").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    out = temporal_lookup(facts, dim, "user_id", "ts")
    return out.select(
        "user_id",
        "purchase_id",
        F.unix_micros("ts").alias("p_us"),
        F.coalesce(F.col("event_type"), F.lit("(none)")).alias("state"),
        F.coalesce(F.unix_micros("valid_from"), F.lit(-1)).alias("state_since_us"),
    )


_V63_ORACLE_SQL = """
    WITH ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events
    ),
    ordered AS (
        SELECT user_id, ts, event_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM ev WHERE event_type != 'purchase'
    ),
    changes AS (
        SELECT user_id, event_type, ts, event_id FROM ordered
        WHERE prev IS NULL OR event_type IS DISTINCT FROM prev
    ),
    dim AS (
        SELECT user_id, event_type, ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS valid_to
        FROM changes
    ),
    facts AS (
        SELECT user_id, event_id AS purchase_id, ts
        FROM ev WHERE event_type = 'purchase'
    )
    SELECT f.user_id, f.purchase_id, epoch_us(f.ts) AS p_us,
           coalesce(d.event_type, '(none)') AS state,
           coalesce(epoch_us(d.valid_from), -1) AS state_since_us
    FROM facts f LEFT JOIN dim d
      ON d.user_id = f.user_id
     AND f.ts >= d.valid_from
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
"""


_V66_Q19_SQL = """
    SELECT CAST(count(*) AS BIGINT) AS n_matched,
           CAST(sum(CAST(round(l.l_extendedprice * (1.0e0 - l.l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
"""


def _v66_tpch_q19(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive predicate revenue): OR-of-ANDs
    spanning both join sides — the classic pushdown stressor (Catalyst
    must split the disjunction into per-side filters without changing
    semantics).  Identical SQL text both engines; revenue in integer
    cents (discounted price rounds per row before the sum, so the
    aggregate is shuffle-order-proof)."""
    for t in ("lineitem", "part"):
        load_table(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_V66_Q19_SQL)


def _d31_unigram_nll(spark: SparkSession, sf: str) -> DataFrame:
    """Perplexity-style quality signal (operators/quality.py): mean
    negative log-likelihood per doc under the corpus's own add-one
    unigram model, vocab capped at the top 1000 tokens so the OOV path
    is exercised.  Integer-count-derived doubles — oracle-exact."""
    from lawlm_spark.operators.quality import unigram_nll

    return unigram_nll(load_table(spark, sf, "documents"), vocab_size=1000)


def _r6_pq_adc(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): the compression tier
    of the similarity stack.  Deterministic seed codebook (m=8
    subspaces x 16 codes over the 64-dim embeddings) -> relational
    encode (codebook broadcast, argmin per subspace with a rounded-dist
    + lowest-code tiebreak) -> ADC top-5 for the 3 lowest-id queries
    (per-query lookup table broadcast; the only corpus shuffle is the
    final per-(query, id) sum).  The KMeans-trained codebook and the
    zero-shuffle literal encode are the quality/scale paths
    (test_pq.py); the seed codebook is what makes this a full hash
    oracle — both engines derive identical centroids."""
    from lawlm_spark.operators.pq import adc_topk, encode_pq, seed_codebook

    vecs = load_table(spark, sf, "embeddings")
    book = seed_codebook(vecs, m=8, k=16, dim=EMB_DIM)
    codes = encode_pq(vecs, book, m=8, dim=EMB_DIM)
    queries = (
        vecs.orderBy("vec_id")
        .limit(3)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    )
    return adc_topk(queries, codes, book, topk=5, m=8, dim=EMB_DIM)


def _r7_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ composed ANN (operators/ivf.py::ivfpq_topk): coarse cells
    -> ADC over probed codes -> exact re-rank, the faiss-IVFPQ shape.
    Deterministic seed centroids (IVF) + seed codebook (PQ) and
    full-probe/exhaustive-candidate settings make the composition
    EXACTLY brute-force L2 top-5 — the oracle — while executing the
    real bucketed plan (cell join, code join, LUT broadcast, re-rank)
    end to end.  Partial-probe recall is pinned in test_ivf.py."""
    from lawlm_spark.operators.ivf import assign_cells, ivfpq_topk, seed_ivf_centroids
    from lawlm_spark.operators.pq import encode_pq, seed_codebook

    from lawlm_spark.session import lineage_cut

    vecs = load_table(spark, sf, "embeddings")
    cents = seed_ivf_centroids(vecs, nlist=8)
    # the IVF cell assignment and the PQ code table ARE the index — a
    # materialized artifact in any real deployment (r5_ivf_prebuilt).
    # Cut their lineage so the search joins below read them once instead
    # of replaying the corpus encode per consumer (11 FileScans in the
    # r8 plan audit; 5 after — seeds/queries are pushed-down limit
    # scans).
    indexed = lineage_cut(assign_cells(vecs, "vec_id", "embedding", cents))
    book = seed_codebook(vecs, m=8, k=16, dim=EMB_DIM)
    codes = lineage_cut(encode_pq(vecs, book, m=8, dim=EMB_DIM))
    queries = (
        vecs.orderBy("vec_id")
        .limit(3)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    )
    return ivfpq_topk(
        indexed, codes, cents, book, queries,
        k=5, nprobe=8, n_candidates=500, m=8, dim=EMB_DIM,
    )


_R7_IVFPQ_ORACLE = """
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qvec
        FROM embeddings ORDER BY vec_id LIMIT 3
    ),
    d AS (
        SELECT q.qid, e.vec_id,
               round(list_sum(list_transform(generate_series(1, 64),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qvec[i] AS DOUBLE))
                      * (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qvec[i] AS DOUBLE)))), 6)
                 AS dist
        FROM embeddings e, q
    )
    SELECT qid, vec_id, dist,
           CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS INT)
             AS rank
    FROM d
    QUALIFY rank <= 5
"""


def _v37_streaming_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """The streaming content-dedup path run as REAL streaming queries:
    wave 1 (originals) lands and ingests with near_dup_jaccard armed;
    wave 2 (padded near-dup copies, ids +100000) lands into the same
    checkpoint and is judged against the persistent LSH index — copies
    are dropped before chunking, survivors chunk normally.  Oracle: the
    batch-sequential greedy semantics in plain SQL (wave-1 pairwise
    smaller-id drop; wave-2 dropped on a kept-wave-1 match OR a
    smaller-id wave-2 peer), then v33's chunk SQL over the kept docs."""
    import os
    import uuid as _uuid

    from lawlm_spark.streaming.ingest import stream_ingest_documents

    base = os.path.join(tempfile.gettempdir(), f"v37_{_uuid.uuid4().hex[:8]}")
    landing, mirror, ckpt = (os.path.join(base, d) for d in ("landing", "mirror", "ckpt"))
    corpus = _neardup_corpus(load_table(spark, sf, "documents"))
    wave1 = corpus.filter(F.col("doc_id") < 100000)
    wave2 = corpus.filter(F.col("doc_id") >= 100000)
    wave1.coalesce(1).write.parquet(landing)
    stream_ingest_documents(spark, landing, mirror, ckpt, near_dup_jaccard=0.5)
    wave2.coalesce(1).write.mode("append").parquet(landing)
    stream_ingest_documents(spark, landing, mirror, ckpt, near_dup_jaccard=0.5)
    return scan_mirror(spark, mirror).select(
        "doc_id", "chunk_index", "chunk_key", "chunk_id", "chunk_text"
    )


def _pii_sql() -> str:
    """d22 oracle: the same PII_PATTERNS chain in DuckDB.  Built by
    concatenation (not an f-string) because the regexes contain braces."""
    from lawlm_spark.functions.text import PII_PATTERNS

    scrub = "text"
    for name, pat in PII_PATTERNS:
        scrub = "regexp_replace(" + scrub + ", '" + pat + "', '[" + name.upper() + "]', 'g')"
    counts = ", ".join(
        "len(regexp_extract_all(text, '" + pat + "'))::BIGINT AS n_" + name
        for name, pat in PII_PATTERNS
    )
    return (
        "WITH corpus AS (SELECT doc_id, text || ' contact staff' || doc_id ||"
        " '@example.com or 555-123-4567 ssn 123-45-6789' AS text"
        " FROM documents WHERE doc_id % 5 = 0)"
        " SELECT doc_id, " + scrub + " AS scrubbed, " + counts + " FROM corpus"
    )


def _d37_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Exact integer fixed-point PageRank (operators/pagerank.py) over
    the TPC-H entity-reference graph (orders->customer->nation->region,
    supplier->nation).  Ranks live in BIGINT micro-units so the
    fixed-iteration result is a pure function of the graph — the second
    iterative algorithm (after d15's connected components) certified by
    a full hash oracle."""
    from lawlm_spark.operators.pagerank import entity_graph_edges, pagerank

    return pagerank(entity_graph_edges(spark, sf), iterations=6)


def _v43_cdc_stream_apply(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming CDC apply (streaming/cdc.py): a change log synthesized
    from orders (key = custkey, %7 keys offset to exercise inserts;
    status F = delete tombstone; seq = orderkey) lands as three
    seq-ordered files and is merged into the customer snapshot one
    micro-batch at a time (foreachBatch merge_changes + atomic
    pointer-swap versioning).  The returned frame is the FINAL
    snapshot — the oracle identity is fold(stream batches) ==
    one global latest-op-wins merge."""
    import os
    import tempfile
    import uuid as uuidlib

    from lawlm_spark.streaming import cdc

    target = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").cast("double").alias("bal"),
    )
    orders = load_table(spark, sf, "orders")
    changes = orders.select(
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_custkey") + 1000000)
        .otherwise(F.col("o_custkey"))
        .alias("k"),
        F.concat(F.lit("cdc_"), F.col("o_orderkey")).alias("name"),
        F.col("o_totalprice").cast("double").alias("bal"),
        F.when(F.col("o_orderstatus") == "F", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_orderkey").alias("seq"),
    )
    mx = changes.agg(F.max("seq")).first()[0]
    cut1, cut2 = mx // 3, 2 * mx // 3
    parts = [
        changes.filter(F.col("seq") <= cut1),
        changes.filter((F.col("seq") > cut1) & (F.col("seq") <= cut2)),
        changes.filter(F.col("seq") > cut2),
    ]
    base = os.path.join(tempfile.gettempdir(), f"v43_{uuidlib.uuid4().hex[:8]}")
    landing, state = os.path.join(base, "landing"), os.path.join(base, "state")
    cdc.land_ordered_files(parts, landing)
    cdc.init_snapshot(target, state)
    cdc.stream_apply_changes(
        spark, landing, changes.schema, state, "k", ["seq"], "op",
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    return cdc.current_snapshot(spark, state)


_V43_ORACLE_SQL = """
    WITH chg AS (
        SELECT CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 1000000
                    ELSE o_custkey END AS k,
               'cdc_' || CAST(o_orderkey AS VARCHAR) AS name,
               CAST(o_totalprice AS DOUBLE) AS bal,
               CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
               o_orderkey AS seq
        FROM orders
    ),
    latest AS (
        SELECT * FROM chg
        QUALIFY row_number() OVER (PARTITION BY k ORDER BY seq DESC) = 1
    ),
    t AS (
        SELECT c_custkey AS k, c_name AS name, CAST(c_acctbal AS DOUBLE) AS bal
        FROM customer
    )
    SELECT COALESCE(t.k, l.k) AS k,
           CASE WHEN l.op IS NULL THEN t.name ELSE l.name END AS name,
           CASE WHEN l.op IS NULL THEN t.bal ELSE l.bal END AS bal
    FROM t FULL OUTER JOIN latest l ON t.k = l.k
    WHERE l.op IS NULL OR l.op <> 'D'
"""


def _d38_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (operators/semdedup.py): semantic dedup inside embedding
    clusters — nearest-seed-centroid assignment, greedy sweep ordered by
    ascending centroid similarity, drop anything within cos 0.8 of an
    earlier-ranked example in the SAME cluster.  Cross-cluster pairs are
    never generated, which is what makes the scheme 100 TB-viable.
    min_cos=0.4 follows d7's convention for the synthetic embeddings
    (max observed within-cluster cos ~0.47 — real corpora use ~0.95)."""
    from lawlm_spark.operators.semdedup import semdedup

    return semdedup(
        load_table(spark, sf, "embeddings"), n_clusters=8, dim=EMB_DIM, min_cos=0.4
    )


def _semdedup_oracle_sql(
    min_cos: float = 0.4,
    k: int = 8,
    max_cluster_size: int | None = None,
    sub_planes: int = 3,
) -> str:
    """DuckDB replay: d33's seed-centroid assignment + the ranked sweep
    + a self-join dup gate, all at 6-dp rounding.  With
    `max_cluster_size`, the pair gate adds the hot-cluster guard's
    (cluster, rp-LSH sub-bucket) scope for oversized clusters —
    rp_lsh_bucket_sql replays the identical md5-seeded planes, so the
    armed guard is hash-certified cross-engine (d75)."""
    from lawlm_spark.operators.similarity import rp_lsh_bucket_sql

    cos_cent = _cos_sql("s.e", "s.centroid")
    cos_pair = _cos_sql("a.e", "b.e")
    if max_cluster_size is None:
        # unguarded form: keep the oracle text EXACTLY as d38 has always
        # had it (a changed oracle text bumps the entry's recert tier)
        sub_col = ""
        sub_join = ""
    else:
        bucket = rp_lsh_bucket_sql("e", EMB_DIM, sub_planes)
        sub_col = (
            f",\n                   CASE WHEN count(*) OVER (PARTITION "
            f"BY cluster) > {max_cluster_size} THEN {bucket} ELSE '' "
            f"END AS sub"
        )
        sub_join = " AND a.sub = b.sub"
    return f"""
        WITH seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding
            FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {k})
        ),
        book AS (
            SELECT CAST(code AS INT) AS code,
                   list_transform(generate_series(1, {EMB_DIM}),
                                  i -> CAST(embedding[i] AS DOUBLE)) AS centroid
            FROM seeds
        ),
        v AS (
            SELECT vec_id,
                   list_transform(generate_series(1, {EMB_DIM}),
                                  i -> CAST(embedding[i] AS DOUBLE)) AS e
            FROM embeddings
        ),
        d AS (
            SELECT v.vec_id, b.code, b.centroid, v.e,
                   round(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                       i -> (v.e[i] - b.centroid[i])
                          * (v.e[i] - b.centroid[i]))), 6) AS dist
            FROM v, book b
        ),
        s AS (
            SELECT vec_id, code AS cluster, e, centroid FROM d
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, code) = 1
        ),
        scored AS (
            SELECT vec_id, cluster, e,
                   round({cos_cent}, 6) AS centroid_cos
            FROM s
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY cluster
                          ORDER BY centroid_cos, vec_id) AS rk{sub_col}
            FROM scored
        ),
        dropped AS (
            SELECT DISTINCT b.vec_id
            FROM ranked a JOIN ranked b
              ON a.cluster = b.cluster AND a.rk < b.rk{sub_join}
            WHERE round({cos_pair}, 6) >= {min_cos}
        )
        SELECT vec_id, cluster, centroid_cos FROM ranked
        WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
    """


def _d75_semdedup_capped(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup with the hot-cluster guard ARMED (operators/semdedup.py,
    r13 — VERDICT r12 item 2's 'hash-certified if behavior changes'
    leg): max_cluster_size=50 narrows oversized clusters' pair scope to
    (cluster, rp-LSH sub-bucket of 3 planes).  At sf0.01 one cluster
    (48 members) sits under the cap, so BOTH branches of the guard are
    exercised cross-engine; the oracle replays the identical windowed
    size check + md5-seeded sub-bucket via rp_lsh_bucket_sql.  Sweep
    order is unchanged from d38 — only pair VISIBILITY narrows, so the
    kept set can only grow (the documented recall cutoff)."""
    from lawlm_spark.operators.semdedup import semdedup

    return semdedup(
        load_table(spark, sf, "embeddings"),
        n_clusters=8,
        dim=EMB_DIM,
        min_cos=0.4,
        max_cluster_size=50,
        sub_planes=3,
    )


def _d76_lsh_refined(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup pairs with the hot-bucket REFINEMENT armed
    (operators/dedup.py::embedding_dup_pairs_lsh, r13): 2 coarse planes
    put ~a quarter of the corpus in each bucket, every bucket exceeds
    max_bucket=60, and the guard appends 3 extra planes (indices 2-4,
    same md5 family) to the key — the oracle replays the windowed size
    check and the refined key with rp_lsh_bucket_sql's start offset.
    Certifies that refinement never drops rows, only narrows pair
    scope, and that the extra-plane keys are engine-identical."""
    from lawlm_spark.operators.dedup import embedding_dup_pairs_lsh

    return embedding_dup_pairs_lsh(
        load_table(spark, sf, "embeddings"),
        "vec_id",
        "embedding",
        dim=EMB_DIM,
        min_cos=0.4,
        num_planes=2,
        max_bucket=60,
        extra_planes=3,
    )


def _d39_zorder(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order layout (operators/zorder.py): orders written along the
    Morton curve of (o_orderkey, o_custkey) — 16 range-partitioned
    files whose min/max boxes are narrow in BOTH columns (locality
    asserted in test_zorder.py) — then read back with the key
    recomputed.  Certifies layout round-trip identity AND the exact
    integer Morton key in one hash."""
    import os
    import tempfile
    import uuid as uuidlib

    from lawlm_spark.operators.zorder import write_zordered, zorder_key

    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    lo_k, hi_k, lo_c, hi_c = orders.agg(
        F.min("o_orderkey"), F.max("o_orderkey"),
        F.min("o_custkey"), F.max("o_custkey"),
    ).first()
    bounds = [(lo_k, hi_k), (lo_c, hi_c)]
    path = os.path.join(tempfile.gettempdir(), f"d39_{uuidlib.uuid4().hex[:8]}")
    write_zordered(orders, path, ["o_orderkey", "o_custkey"], bounds, num_files=16)
    return spark.read.parquet(path).select(
        "o_orderkey",
        "o_custkey",
        zorder_key(["o_orderkey", "o_custkey"], bounds, bits=16).alias("zkey"),
    )


def _d39_oracle_sql() -> str:
    from lawlm_spark.operators.zorder import zorder_key_sql

    bounds = [
        ("(SELECT min(o_orderkey) FROM orders)", "(SELECT max(o_orderkey) FROM orders)"),
        ("(SELECT min(o_custkey) FROM orders)", "(SELECT max(o_custkey) FROM orders)"),
    ]
    zkey = zorder_key_sql(["o_orderkey", "o_custkey"], bounds, bits=16)
    return f"SELECT o_orderkey, o_custkey, {zkey} AS zkey FROM orders"


def _d40_bigram_nll(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated bigram LM perplexity signal (operators/quality.py):
    one rung up the KenLM ladder from d31 — OOV collapsed to <unk>,
    add-one bigram interpolated 50/50 with the unigram, all
    integer-count-derived so the doubles are engine-exact."""
    from lawlm_spark.operators.quality import bigram_nll

    return bigram_nll(load_table(spark, sf, "documents"), vocab_size=1000)


_D40_ORACLE_SQL = """
    WITH arr AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS a
        FROM documents
    ),
    toks AS (
        SELECT doc_id, a[i] AS token, i AS pos
        FROM arr, unnest(generate_series(1, len(a))) AS g(i)
    ),
    counts AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
    vocab AS (SELECT token FROM counts ORDER BY c DESC, token LIMIT 1000),
    mapped AS (
        SELECT t.doc_id, t.pos,
               CASE WHEN v.token IS NULL THEN '<unk>' ELSE t.token END AS tok_m
        FROM toks t LEFT JOIN vocab v ON t.token = v.token
    ),
    uni AS (SELECT tok_m, count(*) AS c_uni FROM mapped GROUP BY tok_m),
    scal AS (SELECT (SELECT count(*) FROM mapped) AS n_total,
                    (SELECT count(*) FROM uni) AS v_m),
    bg AS (
        SELECT doc_id,
               lag(tok_m) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
               tok_m AS cur
        FROM mapped
        QUALIFY prev IS NOT NULL
    ),
    cbi AS (SELECT prev, cur, count(*) AS c_bi FROM bg GROUP BY prev, cur),
    cctx AS (SELECT prev, count(*) AS c_ctx FROM bg GROUP BY prev),
    scored AS (
        SELECT b.doc_id,
               -ln(((cb.c_bi + 1) / (cc.c_ctx + s.v_m + 1)
                   + (u.c_uni + 1) / (s.n_total + s.v_m + 1)) / 2) AS nll
        FROM bg b JOIN cbi cb ON b.prev = cb.prev AND b.cur = cb.cur
                  JOIN cctx cc ON b.prev = cc.prev
                  JOIN uni u ON b.cur = u.tok_m, scal s
    ),
    per_doc AS (
        SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS avg_nll
        FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           coalesce(p.avg_nll, 0.0) AS avg_nll
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


def _d41_bpe_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Real BPE subword tokenization (operators/bpe.py): 20 merges
    trained on the corpus's own word counts (distributed agg + the
    standard driver-side merge loop over the vocabulary-sized table —
    the synthetic corpus has only ~31 distinct words, so a larger
    budget would saturate to one token per word),
    then per-doc token counts via the distinct-word encode path (the
    corpus stream never enters Python).  Rows-only: iterative
    rank-ordered merge application is SQL-inexpressible — correctness
    is pinned by tests/test_bpe.py's exact differential against a
    pure-Python BPE on this same table."""
    from lawlm_spark.operators.bpe import bpe_token_counts, train_bpe, word_counts

    docs = load_table(spark, sf, "documents")
    merges = train_bpe(word_counts(docs), num_merges=20)
    return bpe_token_counts(docs, merges)


_V44_RECURSIVE_SQL = """
    WITH RECURSIVE hier AS (
        SELECT 'c' || CAST(c_custkey AS STRING) AS src,
               'n' || CAST(c_nationkey AS STRING) AS dst
        FROM customer
        UNION ALL
        SELECT 's' || CAST(s_suppkey AS STRING),
               'n' || CAST(s_nationkey AS STRING)
        FROM supplier
        UNION ALL
        SELECT 'n' || CAST(n_nationkey AS STRING),
               'r' || CAST(n_regionkey AS STRING)
        FROM nation
    ),
    paths (start, node, depth) AS (
        SELECT DISTINCT src, src, 0 FROM hier
        UNION ALL
        SELECT p.start, e.dst, p.depth + 1
        FROM paths p JOIN hier e ON e.src = p.node
    )
    SELECT start, node AS reached, CAST(depth AS INT) AS depth
    FROM paths WHERE depth > 0
"""


def _v44_recursive_cte(spark: SparkSession, sf: str) -> DataFrame:
    """Native recursive CTE (Spark 4's WITH RECURSIVE, gap-ledger SQL
    surface): variable-depth ancestor closure over the entity hierarchy
    (customer/supplier -> nation -> region), IDENTICAL SQL text on both
    engines — the declarative twin of the iterative operators
    (components d15, pagerank d37) that predate engine support."""
    _register_tpch_views(spark, sf)
    return spark.sql(_V44_RECURSIVE_SQL)


def _v45_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered-funnel analysis (operators/funnel.py): first-completion
    view -> click -> purchase times per user in epoch micros — the
    MATCH_RECOGNIZE / windowFunnel capability as declarative per-stage
    aggregates, strict-after semantics so timestamp ties are
    deterministic on both engines."""
    from lawlm_spark.operators.funnel import funnel_times
    from lawlm_spark.streaming.events import normalize_event_time

    ev = normalize_event_time(load_table(spark, sf, "events"))
    return funnel_times(ev, ["view", "click", "purchase"])


_V45_ORACLE_SQL = """
    WITH base AS (
        SELECT user_id, event_type AS et,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
    ),
    s1 AS (
        SELECT user_id, min(us) AS t_view_us
        FROM base WHERE et = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT s1.user_id, s1.t_view_us,
               min(CASE WHEN b.us > s1.t_view_us THEN b.us END) AS t_click_us
        FROM s1 LEFT JOIN base b
          ON b.user_id = s1.user_id AND b.et = 'click'
        GROUP BY s1.user_id, s1.t_view_us
    ),
    s3 AS (
        SELECT s2.user_id, s2.t_view_us, s2.t_click_us,
               min(CASE WHEN b.us > s2.t_click_us THEN b.us END) AS t_purchase_us
        FROM s2 LEFT JOIN base b
          ON b.user_id = s2.user_id AND b.et = 'purchase'
        GROUP BY s2.user_id, s2.t_view_us, s2.t_click_us
    )
    SELECT user_id, t_view_us, t_click_us, t_purchase_us,
           CAST(CASE WHEN t_view_us IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN t_click_us IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN t_purchase_us IS NOT NULL THEN 1 ELSE 0 END
             AS INT) AS stages_completed
    FROM s3
"""


def _containment_corpus(docs: DataFrame) -> DataFrame:
    """Documents subset + extracted-quote docs (prefix substrings,
    ids +200000): subset duplication that Jaccard structurally misses."""
    base = docs.filter("doc_id % 10 = 0").select("doc_id", "text")
    quotes = docs.filter("doc_id % 20 = 0").select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.substring("text", 1, 200).alias("text"),
    )
    return base.unionByName(quotes)


_CONTAINMENT_CORPUS_SQL = """corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 200000, substring(text, 1, 200)
    FROM documents WHERE doc_id % 20 = 0
)"""


def _d42_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric containment dedup (operators/dedup.py::containment_pairs):
    |A∩B|/|A| over n-gram shingles — detects quote/subset duplication
    (a 200-char extract scores containment ~1.0 against its source doc
    while Jaccard drowns; the unit test pins that contrast)."""
    from lawlm_spark.operators.dedup import containment_pairs

    corpus = _containment_corpus(load_table(spark, sf, "documents"))
    return containment_pairs(corpus, "doc_id", "text", n=3, min_containment=0.6)


_D42_ORACLE_SQL = f"""
    WITH {_CONTAINMENT_CORPUS_SQL},
    {{shingle}},
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.set_size AS size_a, b.set_size AS size_b,
               count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT CASE WHEN size_a < size_b OR (size_a = size_b AND id_a < id_b)
                THEN id_a ELSE id_b END AS id_small,
           CASE WHEN size_a < size_b OR (size_a = size_b AND id_a < id_b)
                THEN id_b ELSE id_a END AS id_big,
           round(n_common / least(size_a, size_b), 6) AS containment
    FROM common
    WHERE round(n_common / least(size_a, size_b), 6) >= 0.6
"""


def _v46_dedup_within_watermark(spark: SparkSession, sf: str) -> DataFrame:
    """dropDuplicatesWithinWatermark as a real streaming query
    (streaming/events.py): the bounded-state dedup API — event-time is
    NOT in the key, state evicts at first-seen + delay.  Self-unioned
    stream in, distinct events out (v32's contract on the newer API)."""
    from lawlm_spark.streaming.events import run_streaming_dedup_within_watermark

    return run_streaming_dedup_within_watermark(spark, sf)


def _d43_curate_with_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Curation with a SECOND dup source composed in
    (plans/curation.py `extra_pairs_fn`): shingle-containment pairs
    (subset duplication, d42) union the MinHash pairs BEFORE the
    connected-components canonicalization, so chains across BOTH dup
    notions collapse transitively.  Corpus = d12's plus prefix-quote
    docs (+300000): subsets only containment can catch — the oracle is
    d12's chain with the quote rows and the extra edge source."""
    from lawlm_spark.session import lineage_cut
    from lawlm_spark.operators.dedup import containment_pairs
    from lawlm_spark.plans.curation import curate_documents

    def contain(exact: DataFrame) -> DataFrame:
        return containment_pairs(
            exact, "doc_id", "text", n=3, min_containment=0.5
        ).select(
            F.col("id_small").alias("id_a"), F.col("id_big").alias("id_b")
        )

    docs = load_table(spark, sf, "documents")
    quotes = docs.filter("doc_id % 30 = 0").select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.substring("text", 1, 200).alias("text"),
    )
    corpus = _curation_corpus(docs).unionByName(quotes)
    caches: list[DataFrame] = []
    out = curate_documents(
        corpus, min_quality=0.5, near_dup_jaccard=0.5,
        extra_pairs_fn=contain, cache_registry=caches,
    )
    # cache_registry pattern (see _d12): materialize, release persists.
    out = lineage_cut(out)
    for c in caches:
        c.unpersist()
    return out


def _v47_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series gap filling (operators/timeseries.py): the events
    stream resampled to a 1-hour grid per user with forward fill —
    TimescaleDB time_bucket_gapfill + locf re-expressed as one grid
    explode + two windows sharing a partitioning."""
    from lawlm_spark.operators.timeseries import resample_ffill
    from lawlm_spark.streaming.events import normalize_event_time

    ev = normalize_event_time(load_table(spark, sf, "events"))
    return resample_ffill(ev)


from lawlm_spark.operators.timeseries import RESAMPLE_FFILL_ORACLE_SQL as _TS_SQL

_V47_GAPFILL_ORACLE = _TS_SQL.format(
    key="user_id", ts="ts", value="value", ord="event_id",
    src="events", step=3_600_000_000,
)


def _d44_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document n-gram novelty (operators/quality.py::ngram_novelty):
    fraction of a doc's distinct shingles appearing in no other doc —
    the diversity / memorization-risk signal; per-corpus complement of
    decontamination (d25) and containment (d42)."""
    from lawlm_spark.operators.quality import ngram_novelty

    return ngram_novelty(load_table(spark, sf, "documents"), n=3)


def _v48_forward_asof(spark: SparkSession, sf: str) -> DataFrame:
    """FORWARD as-of join (operators/asof.py direction='forward'): each
    purchase matched to the user's NEXT click at/after it — the reverse
    lookup of v19/v42, same linear merge scan with the time axis
    reversed.  Click side deduped to one row per (user, ts) first so
    the match is tie-free on both engines."""
    from lawlm_spark.operators.asof import asof_join
    from lawlm_spark.streaming.events import normalize_event_time

    ev = normalize_event_time(load_table(spark, sf, "events")).select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"), "event_type"
    )
    clicks = (
        ev.filter("event_type = 'click'")
        .groupBy("user_id", "us")
        .agg(F.min("event_id").alias("click_id"))
        .withColumn("c_us", F.col("us"))
    )
    purch = ev.filter("event_type = 'purchase'").select(
        "user_id", F.col("event_id").alias("purchase_id"), "us"
    )
    out = asof_join(
        purch, clicks, "user_id", "us", ["click_id", "c_us"],
        direction="forward",
    )
    return out.select(
        "user_id", "purchase_id", F.col("us").alias("p_us"), "click_id", "c_us"
    )


_V48_ORACLE_SQL = """
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        FROM events
    ),
    clicks AS (
        SELECT user_id, us, min(event_id) AS click_id
        FROM ev WHERE event_type = 'click' GROUP BY user_id, us
    ),
    purch AS (
        SELECT user_id, event_id AS purchase_id, us
        FROM ev WHERE event_type = 'purchase'
    )
    SELECT user_id, purchase_id, p_us, click_id, c_us FROM (
        SELECT p.user_id, p.purchase_id, p.us AS p_us,
               c.click_id, c.us AS c_us,
               row_number() OVER (PARTITION BY p.user_id, p.purchase_id
                                  ORDER BY c.us ASC) AS rn
        FROM purch p JOIN clicks c
          ON c.user_id = p.user_id AND c.us >= p.us
    ) WHERE rn = 1
"""


def _v55_asof_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join with TOLERANCE (operators/asof.py): each purchase
    matched to the user's last click at/before it, but a click older
    than 1 hour is no match (pandas merge_asof tolerance semantics —
    stale quotes stop propagating).  how='left' keeps the nulled rows
    visible so the oracle certifies the invalidation itself."""
    from lawlm_spark.operators.asof import asof_join
    from lawlm_spark.streaming.events import normalize_event_time

    ev = normalize_event_time(load_table(spark, sf, "events")).select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"), "event_type"
    )
    clicks = (
        ev.filter("event_type = 'click'")
        .groupBy("user_id", "us")
        .agg(F.min("event_id").alias("click_id"))
        .withColumn("c_us", F.col("us"))
    )
    purch = ev.filter("event_type = 'purchase'").select(
        "user_id", F.col("event_id").alias("purchase_id"), "us"
    )
    out = asof_join(
        purch, clicks, "user_id", "us", ["click_id", "c_us"],
        how="left", tolerance=3_600_000_000,
    )
    # -1 sentinel for no-match: nullable BIGINTs round-trip to pandas as
    # float64 on the DuckDB side, which would hash-mismatch int vs float
    return out.select(
        "user_id",
        "purchase_id",
        F.col("us").alias("p_us"),
        F.coalesce("click_id", F.lit(-1)).alias("click_id"),
        F.coalesce("c_us", F.lit(-1)).alias("c_us"),
    )


_V55_ORACLE_SQL = """
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        FROM events
    ),
    clicks AS (
        SELECT user_id, us, min(event_id) AS click_id
        FROM ev WHERE event_type = 'click' GROUP BY user_id, us
    ),
    purch AS (
        SELECT user_id, event_id AS purchase_id, us
        FROM ev WHERE event_type = 'purchase'
    )
    SELECT user_id, purchase_id, p_us,
           COALESCE(CASE WHEN p_us - c_us <= 3600000000 THEN click_id END, -1)
             AS click_id,
           COALESCE(CASE WHEN p_us - c_us <= 3600000000 THEN c_us END, -1) AS c_us
    FROM (
        SELECT p.user_id, p.purchase_id, p.us AS p_us,
               c.click_id, c.us AS c_us,
               row_number() OVER (PARTITION BY p.user_id, p.purchase_id
                                  ORDER BY c.us DESC NULLS LAST) AS rn
        FROM purch p LEFT JOIN clicks c
          ON c.user_id = p.user_id AND c.us <= p.us
    ) WHERE rn = 1
"""


def _d45_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/sampling.py::weighted_sample): Efraimidis-Spirakis
    priority sampling on md5 draws — 15 docs per language, inclusion
    probability proportional to n_chars; membership a pure function of
    (doc_id, salt) so both engines select the identical set."""
    from lawlm_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("double").alias("w")
    )
    return weighted_sample(docs, "doc_id", "w", 15, stratum_col="lang")


_D45_ORACLE_SQL = """
    WITH clocked AS (
        SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS w,
               round(-ln((('0x' || substring(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
                          / 4294967296.0) / CAST(n_chars AS DOUBLE), 9) AS clock
        FROM documents
    )
    SELECT doc_id, lang, w FROM clocked
    QUALIFY row_number() OVER (PARTITION BY lang ORDER BY clock, doc_id) <= 15
"""


def _v49_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """UNPIVOT / melt (gap-ledger SQL surface, the inverse of v21's
    pivot): per-language wide aggregates melted to (lang, metric,
    value) rows via DataFrame.unpivot."""
    docs = load_table(spark, sf, "documents")
    wide = docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )
    return wide.unpivot(["lang"], ["n_docs", "total_chars", "max_chars"], "metric", "value")


_V49_ORACLE_SQL = """
    WITH wide AS (
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars
        FROM documents GROUP BY lang
    )
    SELECT lang, 'n_docs' AS metric, CAST(n_docs AS BIGINT) AS value FROM wide
    UNION ALL
    SELECT lang, 'total_chars', total_chars FROM wide
    UNION ALL
    SELECT lang, 'max_chars', max_chars FROM wide
"""


_V50_LATERAL_SQL = """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) o
"""


def _v50_lateral_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated LATERAL subquery join (gap-ledger SQL surface):
    top-2 orders per customer by price, IDENTICAL SQL text on both
    engines — the set-returning correlated form v22's EXISTS and v26's
    scalar subqueries don't cover."""
    _register_tpch_views(spark, sf)
    return spark.sql(_V50_LATERAL_SQL)


_V51_RANGE_FRAME_CORE = """
    SELECT user_id, event_id, us,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           CAST(sum(v_milli) OVER w AS BIGINT) AS sum_milli_1h
    FROM (
        SELECT user_id, event_id, {us_expr} AS us,
               CAST(floor(value * 1000) AS BIGINT) AS v_milli
        FROM {src}
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY us
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def _v51_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE-frame window (gap-ledger SQL surface): per-user rolling
    1-hour event count and value sum over an epoch-micros ORDER BY —
    the value-range frame v17's ROWS frames don't cover.  Sums run over
    integer milli-units (explicit floor: DuckDB ROUNDS double->BIGINT
    casts where Spark truncates) so tied-timestamp accumulation order
    cannot produce float divergence."""
    from lawlm_spark.streaming.events import normalize_event_time

    ev = normalize_event_time(load_table(spark, sf, "events"))
    ev.createOrReplaceTempView("_v51_ev")
    return spark.sql(
        _V51_RANGE_FRAME_CORE.format(us_expr="unix_micros(ts)", src="_v51_ev")
    )


def _d46_ctfidf_topics(spark: SparkSession, sf: str) -> DataFrame:
    """c-TF-IDF topic labels (operators/topics.py): the 5 most
    distinctive terms per language — BERTopic's class-TF-IDF over
    integer counts, ln of exact integer ratios so both engines agree
    bit-for-bit."""
    from lawlm_spark.operators.topics import ctfidf_top_terms

    return ctfidf_top_terms(load_table(spark, sf, "documents"), "lang", k=5)


_D46_ORACLE_SQL = """
    WITH toks AS (
        SELECT lang AS cluster,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents
    ),
    tf AS (SELECT cluster, term, count(*) AS tf FROM toks GROUP BY cluster, term),
    ft AS (SELECT term, count(*) AS f_t FROM toks GROUP BY term),
    scal AS (SELECT (SELECT count(*) FROM toks) AS n_total,
                    (SELECT count(DISTINCT cluster) FROM toks) AS n_clusters),
    scored AS (
        SELECT tf.cluster, tf.term, tf.tf,
               round(tf.tf * ln(1 + (s.n_total / s.n_clusters) / ft.f_t), 6) AS score
        FROM tf JOIN ft ON tf.term = ft.term, scal s
    )
    SELECT cluster, term, tf, score,
           CAST(row_number() OVER (PARTITION BY cluster
                                   ORDER BY score DESC, term) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5
"""


def _d47_token_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus drift monitor (operators/topics.py::token_drift): top-20
    KL(A||B) contributors between two deterministic snapshot halves
    (even vs odd doc ids).  Per-token contributions from four integers
    each — engine-exact by construction (the scalar KL would sum
    doubles in shuffle order, so it is deliberately not emitted)."""
    from lawlm_spark.operators.topics import token_drift

    docs = load_table(spark, sf, "documents")
    return token_drift(
        docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1"), k=20
    )


_D47_ORACLE_SQL = """
    WITH ta AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents WHERE doc_id % 2 = 0
    ),
    tb AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents WHERE doc_id % 2 = 1
    ),
    ca AS (SELECT term, count(*) AS c_a FROM ta GROUP BY term),
    cb AS (SELECT term, count(*) AS c_b FROM tb GROUP BY term),
    j AS (
        SELECT COALESCE(ca.term, cb.term) AS term,
               COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
        FROM ca FULL OUTER JOIN cb ON ca.term = cb.term
    ),
    scal AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
                    CAST(sum(c_b) AS BIGINT) AS n_b,
                    count(*) AS v FROM j),
    scored AS (
        SELECT term, CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
               round(((c_a + 1) / CAST(s.n_a + s.v AS DOUBLE))
                     * ln(((c_a + 1) / CAST(s.n_a + s.v AS DOUBLE))
                          / ((c_b + 1) / CAST(s.n_b + s.v AS DOUBLE))), 9)
                 + 0.0e0 AS contribution
        FROM j, scal s
    )
    SELECT term, c_a, c_b, contribution,
           CAST(row_number() OVER (ORDER BY contribution DESC, term) AS INT) AS rank
    FROM scored
    ORDER BY contribution DESC, term LIMIT 20
"""


def _v52_variant(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4 VARIANT type (gap-ledger semi-structured surface):
    nested JSON built deterministically from event columns, parsed once
    with parse_json, then typed-path extraction via variant_get —
    including an array index and a nested object hop.  The oracle
    extracts the same paths from the identical JSON text with DuckDB's
    json functions."""
    ev = load_table(spark, sf, "events")
    js = F.concat(
        F.lit('{"t":"'), F.col("event_type"),
        F.lit('","ids":['), F.col("event_id"), F.lit(","), F.col("user_id"),
        F.lit('],"props":'), F.col("props"), F.lit("}"),
    )
    v = ev.select("event_id", F.parse_json(js).alias("v"))
    return v.select(
        "event_id",
        F.expr("variant_get(v, '$.t', 'string')").alias("t"),
        F.expr("variant_get(v, '$.ids[1]', 'bigint')").alias("uid"),
        F.expr("variant_get(v, '$.props.k', 'bigint')").alias("k"),
    ).filter(F.col("k") > 20)


_V52_ORACLE_SQL = """
    WITH j AS (
        SELECT event_id,
               '{"t":"' || event_type || '","ids":[' || event_id || ','
                 || user_id || '],"props":' || props || '}' AS js
        FROM events
    )
    SELECT event_id,
           json_extract_string(js, '$.t') AS t,
           CAST(json_extract(js, '$.ids[1]') AS BIGINT) AS uid,
           CAST(json_extract(js, '$.props.k') AS BIGINT) AS k
    FROM j
    WHERE CAST(json_extract(js, '$.props.k') AS BIGINT) > 20
"""


def _d48_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog count-distinct (operators/sketches.py): per-event-type
    estimated vs exact distinct users.  The sketch construction (md5
    bucket/rho registers, integer-numerator sum, alpha literal, linear-
    counting branch) is replayed bit-for-bit by the DuckDB oracle — a
    full hash certification of an APPROXIMATE aggregate, which Spark's
    JVM-internal hll_sketch_agg can never give (cf. the §2.6 ledger note
    pinned Spark-side-only in test_approx_aggregates.py)."""
    from lawlm_spark.operators.sketches import hll_count_distinct

    ev = load_table(spark, sf, "events")
    est = hll_count_distinct(ev, "user_id", ["event_type"], salt="d48")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type")


def _d48_oracle_sql() -> str:
    from lawlm_spark.operators.sketches import HLL_ALPHA, HLL_M

    am2 = HLL_ALPHA * HLL_M * HLL_M  # same Python-computed literal as the plan
    scale = float(1 << 57)
    return f"""
        WITH h AS (
            SELECT event_type,
                   ('0x' || substring(md5('d48:' || CAST(user_id AS VARCHAR)), 1, 2))::INT AS bucket,
                   ('0x' || substring(md5('d48:' || CAST(user_id AS VARCHAR)), 3, 14))::BIGINT AS v
            FROM events
        ),
        regs AS (
            SELECT event_type, bucket,
                   max(CASE WHEN v = 0 THEN 57 ELSE 57 - length(bin(v)) END) AS rho
            FROM h GROUP BY event_type, bucket
        ),
        agg AS (
            SELECT event_type,
                   sum((1::BIGINT << (57 - rho))) AS num_present,  -- HUGEINT
                   count(*) AS n_present
            FROM regs GROUP BY event_type
        ),
        est AS (
            SELECT event_type, n_present,
                   CAST(num_present
                        + ({HLL_M} - n_present)::HUGEINT * (1::BIGINT << 57)
                        AS DOUBLE) / {scale!r} AS s
            FROM agg
        ),
        fin AS (
            SELECT event_type,
                   CASE WHEN ({am2!r} / s) <= {2.5 * HLL_M!r}
                             AND ({HLL_M} - n_present) > 0
                        THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / ({HLL_M} - n_present))
                        ELSE {am2!r} / s END AS e
            FROM est
        )
        SELECT f.event_type, round(f.e, 6) AS est_distinct, x.exact_distinct
        FROM fin f JOIN (
            SELECT event_type, count(DISTINCT user_id) AS exact_distinct
            FROM events GROUP BY event_type
        ) x ON f.event_type = x.event_type
    """


_D50_WEIGHTS = {"train": 0.8, "test": 0.2}


def _d50_group_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe split (operators/sampling.py::group_split): the
    train/test cut hashed on the near-dup COMPONENT id, so duplicate
    clusters never straddle splits.  Pairs from the d15-certified
    MinHash-LSH config over the seeded near-dup corpus (cache-safe via
    _neardup_pairs_cut); oracle = d15's WITH RECURSIVE reachability +
    the d18 cumulative-bounds split case on the canonical group id."""
    from lawlm_spark.operators.sampling import group_split

    corpus = _neardup_corpus(load_table(spark, sf, "documents"))
    pairs = _neardup_pairs_cut(corpus)
    return group_split(corpus, "doc_id", pairs, _D50_WEIGHTS, salt="d50").select(
        "doc_id", "group_id", "split"
    )


def _d50_oracle_sql() -> str:
    return f"""
        WITH RECURSIVE {_NEARDUP_SQL},
        {_shingle_sql("corpus")},
        {_minhash_sig_sql(8)},
        {_band_sql(8, 4)},
        {_LSH_CAND_SQL},
        {_JACCARD_SQL},
        verified AS (
            SELECT c.id_a, c.id_b
            FROM cand c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
            WHERE j.jaccard >= 0.2
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM verified
            UNION
            SELECT id_b AS src, id_a AS dst FROM verified
        ),
        reach AS (
            SELECT src AS node, src AS lbl FROM edges
            UNION
            SELECT e.dst AS node, r.lbl AS lbl
            FROM reach r JOIN edges e ON e.src = r.node
        ),
        comp AS (SELECT node, min(lbl) AS component_id FROM reach GROUP BY node),
        labeled AS (
            SELECT c.doc_id, coalesce(comp.component_id, c.doc_id) AS group_id
            FROM corpus c LEFT JOIN comp ON c.doc_id = comp.node
        )
        SELECT doc_id, group_id,
               CASE {_split_case_sql(_D50_WEIGHTS, "d50", "group_id")} END AS split
        FROM labeled
    """


def _d49_cms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min heavy hitters (operators/sketches.py): the 15 most
    frequent document tokens with their true counts, sketch estimates,
    and collision overcount.  Every cell and probe is an integer derived
    from md5 — the whole depth×width sketch replays exactly in SQL."""
    from lawlm_spark.operators.sketches import cms_build, cms_lookup

    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("term")
    )
    cms = cms_build(toks, "term", depth=4, width=512, salt="d49")
    top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "term")
        .limit(15)
    )
    est = cms_lookup(cms, top, "term", depth=4, width=512, salt="d49")
    return est.select(
        "term",
        "true_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("true_cnt")).alias("overcount"),
    )


_D49_ORACLE_SQL = """
    WITH toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents
    ),
    depths AS (SELECT unnest([0, 1, 2, 3]) AS d),
    cells AS (
        SELECT d,
               ('0x' || substring(md5(CAST(d AS VARCHAR) || ':d49:' || term), 1, 8))::BIGINT
                 % 512 AS w,
               CAST(count(*) AS BIGINT) AS cnt
        FROM toks, depths
        GROUP BY 1, 2
    ),
    top AS (
        SELECT term, CAST(count(*) AS BIGINT) AS true_cnt
        FROM toks GROUP BY term
        ORDER BY true_cnt DESC, term LIMIT 15
    ),
    probes AS (
        SELECT t.term, t.true_cnt, d.d,
               ('0x' || substring(md5(CAST(d.d AS VARCHAR) || ':d49:' || t.term), 1, 8))::BIGINT
                 % 512 AS w
        FROM top t, depths d
    )
    SELECT p.term, p.true_cnt,
           min(coalesce(c.cnt, 0)) AS cms_est,
           min(coalesce(c.cnt, 0)) - p.true_cnt AS overcount
    FROM probes p LEFT JOIN cells c ON p.d = c.d AND p.w = c.w
    GROUP BY p.term, p.true_cnt
"""


def _d53_quantile_hist(spark: SparkSession, sf: str) -> DataFrame:
    """Histogram quantile sketch (operators/sketches.py): per-event-type
    p50/p90/p99 of `value` from a 128-bin fixed-boundary histogram —
    the mergeable-artifact quantile (Spark's own percentile_approx is
    per-query; certified Spark-side in test_approx_aggregates.py).
    Integer ranks and cumulative counts; the final interpolation is two
    exact-input IEEE ops, rounded to 6."""
    from lawlm_spark.operators.sketches import hist_bins, hist_quantiles

    ev = load_table(spark, sf, "events")
    bins = hist_bins(ev, "value", 0.0, 500.0, 128, ["event_type"])
    return hist_quantiles(
        bins, 0.0, 500.0, 128, [0.5, 0.9, 0.99], ["event_type"]
    )


def _d53_oracle_sql() -> str:
    width = (500.0 - 0.0) / 128  # 3.90625, binary-exact
    return f"""
        WITH b AS (
            SELECT event_type,
                   least(127, greatest(0,
                       CAST(floor((value - 0.0) / {width!r}) AS INT))) AS bin
            FROM events
        ),
        bins AS (
            SELECT event_type, bin, CAST(count(*) AS BIGINT) AS cnt
            FROM b GROUP BY 1, 2
        ),
        cum AS (
            SELECT event_type, bin, cnt,
                   CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin)
                        - cnt AS BIGINT) AS cum_before,
                   CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n_total
            FROM bins
        ),
        probs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS p),
        hit AS (
            SELECT c.event_type, p.p, c.bin, c.cnt, c.cum_before,
                   CAST(ceil(p.p * c.n_total) AS BIGINT) AS r
            FROM cum c, probs p
            WHERE c.cum_before < CAST(ceil(p.p * c.n_total) AS BIGINT)
              AND CAST(ceil(p.p * c.n_total) AS BIGINT) <= c.cum_before + c.cnt
        )
        SELECT event_type, p,
               round(0.0 + {width!r} * (bin + (r - cum_before) / CAST(cnt AS DOUBLE)), 6)
                 AS q_est
        FROM hit
    """


def _d54_prefix_join(spark: SparkSession, sf: str) -> DataFrame:
    """Exact similarity join via prefix filtering (operators/dedup.py::
    prefix_filter_pairs): rarity-ordered prefixes generate candidates,
    exact Jaccard verifies.  The oracle is BRUTE-FORCE all-pairs Jaccard
    — hash equality IS the zero-false-negative claim the prefix lemma
    makes (MinHash-LSH, by contrast, certifies only its own candidate
    set: d4/d5)."""
    from lawlm_spark.operators.dedup import prefix_filter_pairs

    corpus = _neardup_corpus(load_table(spark, sf, "documents"))
    return prefix_filter_pairs(corpus, "doc_id", "text", n=3, min_jaccard=0.35)


def _d54_oracle_sql() -> str:
    return f"""
        WITH {_NEARDUP_SQL},
        {_shingle_sql("corpus")},
        {_JACCARD_SQL}
        SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.35
    """


def _v54_streaming_hll(spark: SparkSession, sf: str) -> DataFrame:
    """HLL registers maintained by a REAL streaming aggregation
    (streaming/events.py::run_streaming_hll_registers): complete-mode
    groupBy max over (event_type, bucket) — constant state, no
    watermark (max never retracts).  The oracle replays the BATCH
    register construction; hash equality certifies the streaming
    maintenance is lossless."""
    from lawlm_spark.streaming.events import run_streaming_hll_registers

    return run_streaming_hll_registers(spark, sf, salt="v54")


_V54_ORACLE_SQL = """
    WITH h AS (
        SELECT event_type,
               ('0x' || substring(md5('v54:' || CAST(user_id AS VARCHAR)), 1, 2))::INT AS bucket,
               ('0x' || substring(md5('v54:' || CAST(user_id AS VARCHAR)), 3, 14))::BIGINT AS v
        FROM events
    )
    SELECT event_type, bucket,
           CAST(max(CASE WHEN v = 0 THEN 57 ELSE 57 - length(bin(v)) END) AS INT) AS rho
    FROM h GROUP BY event_type, bucket
"""


_V59_RANK_SQL = """
    SELECT event_type, event_id,
           CAST(rank()       OVER w AS INT) AS rnk,
           CAST(dense_rank() OVER w AS INT) AS drnk,
           CAST(ntile(7)     OVER w AS INT) AS tile,
           round(percent_rank() OVER w, 6) AS prank,
           round(cume_dist()    OVER w, 6) AS cdist
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""


def _v59_rank_family(spark: SparkSession, sf: str) -> DataFrame:
    """The full ranking-function surface in one window (gap-ledger
    analytic functions beyond v17's aggregates/navigation): rank,
    dense_rank, ntile, percent_rank, cume_dist — identical SQL text on
    both engines; (value, event_id) total order makes ties
    deterministic, and percent_rank/cume_dist are exact small-integer
    rationals."""
    load_table(spark, sf, "events").createOrReplaceTempView("events")
    return spark.sql(_V59_RANK_SQL)


_V60_GROUPING_SETS_SQL = """
    SELECT coalesce(event_type, '(all)') AS event_type,
           -- STRING, not VARCHAR: Spark rejects VARCHAR without length,
           -- DuckDB accepts STRING as a VARCHAR alias -> shared text
           coalesce(CAST(user_id AS STRING), '(all)') AS user_id,
           CAST(grouping(event_type) AS INT) AS g_type,
           CAST(grouping(user_id) AS INT) AS g_user,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_milli
    FROM events
    GROUP BY GROUPING SETS ((event_type, user_id), (event_type), ())
"""


def _v60_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping() flags (v35 covers
    cube/rollup; this is the arbitrary-combination form).  Identical
    SQL text both engines; measures in integer milli-units."""
    load_table(spark, sf, "events").createOrReplaceTempView("events")
    return spark.sql(_V60_GROUPING_SETS_SQL)


def _d66_label_prop(spark: SparkSession, sf: str) -> DataFrame:
    """Label propagation communities (operators/labelprop.py): 3
    synchronous deterministic rounds over the support>=2 part
    co-occurrence graph — (max neighbor-label count, min label) total
    order makes every round hash-matchable; the oracle unrolls the
    rounds as chained CTEs (d37's discipline)."""
    from lawlm_spark.operators.labelprop import label_propagation

    li = load_table(spark, sf, "lineitem")
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .agg(F.count(F.lit(1)).alias("s"))
        .filter("s >= 2")
        .select("pa", "pb")
    )
    return label_propagation(pairs, "pa", "pb", iterations=3)


def _d66_ctes(iterations: int = 3) -> str:
    ctes = [
        """sup AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2
        )""",
        """edges AS (
            SELECT pa AS src, pb AS dst FROM sup
            UNION
            SELECT pb AS src, pa AS dst FROM sup
        )""",
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)",
    ]
    for i in range(iterations):
        ctes.append(
            f"""c{i} AS (
                SELECT e.src AS node, l.label, count(*) AS n
                FROM edges e JOIN l{i} l ON e.dst = l.node
                GROUP BY 1, 2
            )"""
        )
        ctes.append(
            f"""l{i + 1} AS (
                SELECT node, label FROM (
                    SELECT node, label,
                           row_number() OVER (PARTITION BY node
                                              ORDER BY n DESC, label) AS rn
                    FROM c{i}
                ) WHERE rn = 1
            )"""
        )
    return ",\n".join(ctes)


def _d66_oracle_sql(iterations: int = 3) -> str:
    return (
        "WITH " + _d66_ctes(iterations)
        + f"\nSELECT node, label FROM l{iterations}"
    )


def _d68_modularity(spark: SparkSession, sf: str) -> DataFrame:
    """Community-quality metric (operators/labelprop.py::
    modularity_contributions): per-community Newman modularity terms
    over d66's graph and labels — contributions, not the scalar (the
    d47 shuffle-order discipline)."""
    from lawlm_spark.operators.labelprop import (
        label_propagation,
        modularity_contributions,
    )

    li = load_table(spark, sf, "lineitem")
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .agg(F.count(F.lit(1)).alias("s"))
        .filter("s >= 2")
        .select("pa", "pb")
    )
    labels = label_propagation(pairs, "pa", "pb", iterations=3)
    return modularity_contributions(pairs, labels, "pa", "pb")


def _d68_oracle_sql(iterations: int = 3) -> str:
    return f"""
        WITH {_d66_ctes(iterations)},
        tg AS (
            SELECT s.pa AS a, s.pb AS b, la.label AS la_l, lb.label AS lb_l
            FROM sup s
            JOIN l{iterations} la ON s.pa = la.node
            JOIN l{iterations} lb ON s.pb = lb.node
        ),
        mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM tg),
        ein AS (
            SELECT la_l AS label, CAST(count(*) AS BIGINT) AS e_in
            FROM tg WHERE la_l = lb_l GROUP BY 1
        ),
        deg AS (
            SELECT label, CAST(count(*) AS BIGINT) AS d_tot
            FROM (SELECT la_l AS label FROM tg
                  UNION ALL SELECT lb_l FROM tg)
            GROUP BY 1
        ),
        mem AS (
            SELECT label, CAST(count(*) AS BIGINT) AS n_members
            FROM l{iterations} GROUP BY label
        )
        SELECT mem.label, mem.n_members,
               CAST(coalesce(ein.e_in, 0) AS BIGINT) AS e_in,
               CAST(coalesce(deg.d_tot, 0) AS BIGINT) AS d_tot,
               round(coalesce(ein.e_in, 0) / CAST(mm.m AS DOUBLE)
                     - (CAST(coalesce(deg.d_tot, 0) AS DOUBLE) / (2.0e0 * mm.m))
                       * (CAST(coalesce(deg.d_tot, 0) AS DOUBLE) / (2.0e0 * mm.m)),
                     6) + 0.0e0 AS contribution
        FROM mem
        LEFT JOIN deg ON mem.label = deg.label
        LEFT JOIN ein ON mem.label = ein.label, mm
    """


def _d69_equidepth_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-depth binning (operators/sketches.py::equidepth_bins):
    per-event-type value octiles with exact integer envelopes — the
    discretization complement to d53's equi-width histogram."""
    from lawlm_spark.operators.sketches import equidepth_bins

    ev = load_table(spark, sf, "events")
    return equidepth_bins(
        ev,
        F.round(F.col("value") * 100).cast("long"),
        "event_id",
        ["event_type"],
        k=8,
    )


_D69_ORACLE_SQL = """
    WITH v AS (
        SELECT event_type, event_id,
               CAST(round(value * 100) AS BIGINT) AS vm
        FROM events
    ),
    b AS (
        SELECT event_type, vm,
               ntile(8) OVER (PARTITION BY event_type ORDER BY vm, event_id)
                 AS bin
        FROM v
    )
    SELECT event_type, CAST(bin AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           min(vm) AS lo_milli, max(vm) AS hi_milli
    FROM b GROUP BY event_type, bin
"""


def _d69b_equidepth_approx(spark: SparkSession, sf: str) -> DataFrame:
    """The UNGROUPED-safe equi-depth scale path
    (operators/sketches.py::equidepth_bins_approx, added r7 for VERDICT
    r6 item 4): octile boundaries derived from the d53 histogram sketch
    broadcast back to the corpus, bin = boundary-comparison count, one
    keyed aggregate for the envelopes — no global sort anywhere (the
    exact ungrouped form now RAISES without an explicit opt-in).  The
    oracle replays the whole composition: d53's quantile CTEs at
    p=1/8..7/8, then the strict-greater assignment over the RAW double
    values with milli-unit envelopes (ADVICE r7: the earlier form
    truncated to integer before binning, degenerate on sub-unit
    domains)."""
    from lawlm_spark.operators.sketches import equidepth_bins_approx

    ev = load_table(spark, sf, "events")
    return equidepth_bins_approx(ev, "value", 0.0, 500.0, n_bins=128, k=8)


def _d69b_oracle_sql() -> str:
    width = (500.0 - 0.0) / 128  # 3.90625, binary-exact
    probs = ", ".join(f"{i / 8!r}::DOUBLE" for i in range(1, 8))
    return f"""
        WITH vt AS (
            SELECT value AS raw,
                   CAST(round(value * 1000) AS BIGINT) AS v
            FROM events
        ),
        b AS (
            SELECT least(127, greatest(0,
                       CAST(floor((value - 0.0) / {width!r}) AS INT))) AS bin
            FROM events
        ),
        bins AS (
            SELECT bin, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1
        ),
        cum AS (
            SELECT bin, cnt,
                   CAST(sum(cnt) OVER (ORDER BY bin) - cnt AS BIGINT)
                     AS cum_before,
                   CAST(sum(cnt) OVER () AS BIGINT) AS n_total
            FROM bins
        ),
        probs AS (SELECT unnest([{probs}]) AS p),
        hit AS (
            SELECT p.p, c.bin, c.cnt, c.cum_before,
                   CAST(ceil(p.p * c.n_total) AS BIGINT) AS r
            FROM cum c, probs p
            WHERE c.cum_before < CAST(ceil(p.p * c.n_total) AS BIGINT)
              AND CAST(ceil(p.p * c.n_total) AS BIGINT) <= c.cum_before + c.cnt
        ),
        bnds AS (
            SELECT round(0.0 + {width!r} * (bin + (r - cum_before)
                         / CAST(cnt AS DOUBLE)), 6) AS q
            FROM hit
        ),
        assigned AS (
            SELECT v.v,
                   1 + (SELECT count(*) FROM bnds
                        WHERE v.raw > bnds.q) AS bin
            FROM vt v
        )
        SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n,
               min(v) AS lo_milli, max(v) AS hi_milli
        FROM assigned GROUP BY 1
    """


_V61_FILTER_SQL = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_all,
           CAST(count(*) FILTER (WHERE value > 100.0e0) AS BIGINT) AS n_big,
           CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
                             FILTER (WHERE user_id % 2 = 0), 0)
                AS BIGINT) AS v_even_milli,
           CAST(coalesce(max(CAST(round(value * 100) AS BIGINT))
                             FILTER (WHERE value <= 100.0e0), -1)
                AS BIGINT) AS max_small_milli
    FROM events
    GROUP BY event_type
"""


def _v61_filter_clause(spark: SparkSession, sf: str) -> DataFrame:
    """The aggregate FILTER clause (gap-ledger SQL surface): per-group
    conditional aggregates without CASE scaffolding — identical SQL
    text both engines; -1/0 coalesces keep the nullable BIGINTs integer
    through pandas."""
    load_table(spark, sf, "events").createOrReplaceTempView("events")
    return spark.sql(_V61_FILTER_SQL)


def _d73_cms_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-resident drift (operators/sketches.py::cms_l1_divergence):
    token-frequency L1 lower bound between the even/odd document halves
    from their CMS sketches alone — the artifact-vs-artifact companion
    to d47's exact per-token KL (no corpus needed at compare time).
    All integer; max over depth rows is the tightest collision-proof
    bound."""
    from lawlm_spark.operators.sketches import cms_build, cms_l1_divergence

    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("term"),
    )
    a = cms_build(toks.filter("doc_id % 2 = 0"), "term", salt="d73")
    b = cms_build(toks.filter("doc_id % 2 = 1"), "term", salt="d73")
    return cms_l1_divergence(a, b)


_D73_ORACLE_SQL = """
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents
    ),
    depths AS (SELECT unnest([0, 1, 2, 3]) AS d),
    ca AS (
        SELECT d,
               ('0x' || substring(md5(CAST(d AS VARCHAR) || ':d73:' || term), 1, 8))::BIGINT
                 % 512 AS w,
               CAST(count(*) AS BIGINT) AS cnt
        FROM toks, depths WHERE doc_id % 2 = 0 GROUP BY 1, 2
    ),
    cb AS (
        SELECT d,
               ('0x' || substring(md5(CAST(d AS VARCHAR) || ':d73:' || term), 1, 8))::BIGINT
                 % 512 AS w,
               CAST(count(*) AS BIGINT) AS cnt
        FROM toks, depths WHERE doc_id % 2 = 1 GROUP BY 1, 2
    ),
    j AS (
        SELECT coalesce(ca.d, cb.d) AS d,
               abs(coalesce(ca.cnt, 0) - coalesce(cb.cnt, 0)) AS diff,
               coalesce(ca.cnt, 0) AS ma, coalesce(cb.cnt, 0) AS mb
        FROM ca FULL OUTER JOIN cb ON ca.d = cb.d AND ca.w = cb.w
    ),
    pd AS (
        SELECT d, CAST(sum(diff) AS BIGINT) AS l1,
               CAST(sum(ma) AS BIGINT) AS sa, CAST(sum(mb) AS BIGINT) AS sb
        FROM j GROUP BY d
    )
    SELECT CAST(max(l1) AS BIGINT) AS l1_lower_bound,
           CAST(max(sa) AS BIGINT) AS mass_a,
           CAST(max(sb) AS BIGINT) AS mass_b
    FROM pd
"""


_V65_NOT_IN_SQL = """
    WITH probe AS (
        SELECT o_custkey FROM orders WHERE o_orderkey <= 100
    ),
    keys AS (
        SELECT nullif(c_custkey, 1) AS k FROM customer
    )
    SELECT CAST((SELECT count(*) FROM probe) AS BIGINT) AS n_probe,
           CAST((SELECT count(*) FROM probe
                 WHERE o_custkey NOT IN (SELECT k FROM keys)) AS BIGINT)
             AS n_not_in,
           CAST((SELECT count(*) FROM probe p
                 WHERE NOT EXISTS (SELECT 1 FROM keys x WHERE x.k = p.o_custkey))
                AS BIGINT) AS n_not_exists
"""


def _v65_not_in_trap(spark: SparkSession, sf: str) -> DataFrame:
    """The NOT IN null trap (gap-ledger subquery semantics corner):
    with one NULL in the subquery, NOT IN returns ZERO rows (three-
    valued logic) while NOT EXISTS counts normally — identical SQL
    text certifies both engines implement the standard's trap the same
    way.  n_not_in = 0 is the expected, load-bearing value."""
    for t in ("orders", "customer"):
        load_table(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_V65_NOT_IN_SQL)


# TPC-H Q21 shape (VERDICT r8 item 7): double-correlated EXISTS + NOT
# EXISTS anti-semi over the SAME relation with an aggregate on top — the
# decorrelation stressor Q1/Q3/Q5/Q13/Q17/Q19 don't exercise.  Catalyst
# must rewrite both correlated subqueries into a semi- and an anti-join
# on l_orderkey without multiplying l1's rows.  The testdata lineitem
# has no receipt/commit dates, so "late" := l_returnflag = 'R' — the
# subquery SHAPE (same-order, other-supplier, also-late) is Q21's.
# Identical SQL text runs on both engines.
_V67_Q21_SHAPE_SQL = """
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
      AND s_nationkey = n_nationkey
      AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
    GROUP BY s_name
"""


def _v67_q21_shape(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS both correlated into the
    same fact table, aggregated per supplier.  At 100 TB both rewrites
    are shuffles on l_orderkey that AQE can co-plan with the o_orderkey
    join; no per-row subquery execution survives decorrelation (plan
    shows two joins, not a subquery loop)."""
    for t in ("supplier", "lineitem", "orders", "nation"):
        load_table(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_V67_Q21_SHAPE_SQL)


# TPC-H Q20 shape (VERDICT r8 item 7): IN-subquery whose inner predicate
# compares against a CORRELATED scalar aggregate over a second scan of
# the same fact table (testdata has no partsupp, so lineitem plays the
# availability relation: a supplier qualifies when some shipment of a
# matched part is >1.9x that part's mean shipped quantity — Q20's
# 0.5*sum threshold never fires on testdata where each part ships many
# times, so the multiplier is tuned to keep the result discriminating:
# 96/100 suppliers at sf0.01, 971/1000 at sf0.1).  l_quantity is
# integer-valued, so sum is exact in any order and avg is one IEEE
# division — engine-independent.  Identical SQL text runs on both
# engines.
_V68_Q20_SHAPE_SQL = """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
        SELECT lo.l_suppkey
        FROM lineitem lo
        WHERE lo.l_partkey IN (SELECT p_partkey FROM part
                               WHERE p_name LIKE '%gear%')
          AND lo.l_quantity > (SELECT 1.9e0 * avg(l2.l_quantity)
                               FROM lineitem l2
                               WHERE l2.l_partkey = lo.l_partkey)
    )
"""


def _v68_q20_shape(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN with a correlated scalar aggregate.
    Catalyst decorrelates the inner sum into a groupBy(l_partkey)
    aggregate joined back on the correlation key — one extra exchange
    on l_partkey, no per-row re-aggregation; the part filter pushes
    into the parquet scan."""
    for t in ("supplier", "lineitem", "part"):
        load_table(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_V68_Q20_SHAPE_SQL)


# TPC-H Q22 shape (extends the v67/v68 decorrelation family): UNGROUPED
# scalar aggregate subqueries in a predicate + an anti-join, grouped on
# a string-derived code.  Adaptations to testdata (same policy as
# v67/v68): cntrycode comes from the customer-number tail (no c_phone
# column), and the NOT EXISTS is over URGENT orders (every customer has
# >=1 order, so Q22's literal no-orders predicate is degenerate here —
# ~13% of customers have no urgent order, which keeps the anti-join
# load-bearing: 9 of 1500 customers survive at sf0.01).  Exactness:
# Q22's `c_acctbal > avg(...)` is a float predicate on both engines, so
# it is restated in integer space — bal_cents * count > sum(bal_cents),
# all DECIMAL(38,0) arithmetic, engine-exact with no division anywhere
# — and totacctbal is the k=2 exact-cents sum (shared text).  Identical
# SQL text runs on both engines.
_V69_Q22_SHAPE_SQL = f"""
    WITH cust AS (
        SELECT substring(c_name, length(c_name) - 1, 2) AS cntrycode,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
               c_custkey
        FROM customer
        WHERE substring(c_name, length(c_name) - 1, 2)
              IN ('01','02','03','04','05','06','07',
                  '13','25','31','42','57','69','88','94')
    )
    SELECT cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           {_exact_cents_sum("bal_cents", 2, "spark")} AS totacctbal
    FROM cust
    WHERE CAST(bal_cents AS DECIMAL(38,0))
            * (SELECT count(*) FROM cust WHERE bal_cents > 0)
          > (SELECT sum(CAST(bal_cents AS DECIMAL(38,0)))
             FROM cust WHERE bal_cents > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY cntrycode
"""


def _v69_q22_shape(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape: two ungrouped scalar subqueries in the WHERE
    (Catalyst folds each to a 1-row aggregate + broadcast cross join —
    computed once, never per-row) + a NOT EXISTS anti-join on
    o_custkey.  At 100 TB the scalar aggregates are map-side partial
    sums over the pruned customer scan, and the anti-join shuffles on
    the customer key — both AQE-coplannable; the predicate itself is
    pure DECIMAL integer arithmetic (see the SQL note above), so the
    row set can never flip with partitioning or engine."""
    for t in ("customer", "orders"):
        load_table(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_V69_Q22_SHAPE_SQL)


# TPC-H Q2 shape (the last distinctive decorrelation class after
# Q20/Q21/Q22: a correlated scalar MIN whose inner block is itself a
# MULTI-TABLE join).  Adaptation to testdata (no partsupp): lineitem
# plays the supply relation and round(l_extendedprice*100) the integer
# supply cost; region gates both the outer and inner supplier sets,
# exactly Q2's shape.  min() over integers involves no arithmetic, so
# the correlated equality is engine-exact; min_price re-emits the cents
# as dollars through one exact double division.  DISTINCT because a
# (part, supplier) pair can hit the minimum with several shipments.
# Identical SQL text runs on both engines.
_V70_Q2_SHAPE_SQL = """
    SELECT DISTINCT p_partkey, p_brand, s_name, n_name,
           CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DOUBLE)
             / 100.0e0 AS min_price
    FROM part, supplier, nation, region, lineitem
    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      AND p_size <= 5
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND CAST(round(l_extendedprice * 100) AS BIGINT) =
          (SELECT min(CAST(round(l2.l_extendedprice * 100) AS BIGINT))
           FROM lineitem l2, supplier s2, nation n2, region r2
           WHERE l2.l_partkey = p_partkey
             AND s2.s_suppkey = l2.l_suppkey
             AND s2.s_nationkey = n2.n_nationkey
             AND n2.n_regionkey = r2.r_regionkey
             AND r2.r_name = 'ASIA')
"""


def _v70_q2_shape(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar min over a multi-table join.
    Catalyst decorrelates the inner block into a groupBy(l_partkey)
    min over the region-filtered supply join, joined back on the
    correlation key — the region/nation dims broadcast on both sides,
    so the plan is two hash-join pipelines meeting on l_partkey, no
    per-part re-execution.  Integer min + integer equality: no float
    anywhere in the correlation (see the SQL note above)."""
    for t in ("part", "supplier", "nation", "region", "lineitem"):
        load_table(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_V70_Q2_SHAPE_SQL)


def _pattern_symbol_events(spark: SparkSession, sf: str) -> DataFrame:
    """Shared v71/v73 preamble (extracted r11 review): the event stream
    as (user_id, event_id, ts_us, sym V/C/P/X, value_cents) — the
    symbol mapping and cents rounding must stay identical between the
    two pattern entries (their oracles each inline the same mapping,
    self-contained per the driver contract)."""
    from lawlm_spark.streaming.events import normalize_event_time

    return normalize_event_time(load_table(spark, sf, "events")).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.when(F.col("event_type") == "view", F.lit("V"))
        .when(F.col("event_type") == "click", F.lit("C"))
        .when(F.col("event_type") == "purchase", F.lit("P"))
        .otherwise(F.lit("X"))
        .alias("sym"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )


def _pattern_first_cents():
    """The '1'-consumed row's payload: cents of the run's FIRST row
    (the same arg-min-by-order-tuple idiom encode_runs itself uses).
    A function, not a module-level Column — classic PySpark Columns
    need an active SparkContext, and this module imports before the
    driver creates its session."""
    return F.min(F.struct("ts_us", "event_id", "value_cents"))["value_cents"]


def _v71_match_recognize(spark: SparkSession, sf: str) -> DataFrame:
    """MATCH_RECOGNIZE-style quantified row-pattern matching
    (operators/pattern.py): greedy `V+ C* P` per user over the
    time-ordered event stream — views, optionally clicks, then ONE
    purchase — with AFTER MATCH SKIP PAST LAST ROW semantics.  The
    capability v45's funnel lacks (quantifiers + per-match run counts
    vs first-completion times).  Run-length encoding + lead probes:
    one hash partitioning on user_id reused by all three stages
    (plan pinned in tests/test_pattern.py::test_single_exchange_plan);
    the oracle replays the identical run encoding in SQL.  All output
    columns integer (epoch micros / counts / cents), so the hash
    cannot flip on float formatting."""
    from lawlm_spark.operators.pattern import encode_runs, match_quantified

    runs = encode_runs(
        _pattern_symbol_events(spark, sf),
        "user_id",
        ["ts_us", "event_id"],
        "sym",
        agg_cols=[_pattern_first_cents().alias("first_cents")],
    )
    m = match_quantified(runs, [("V", "+"), ("C", "*"), ("P", "1")], "user_id")
    return m.select(
        "user_id",
        F.col("e0.first_event_id").alias("start_event_id"),
        F.col("e0.first_ts_us").alias("start_ts_us"),
        F.col("e0.n_rows").cast("long").alias("n_views"),
        F.coalesce(F.col("e1.n_rows"), F.lit(0)).cast("long").alias("n_clicks"),
        F.col("e2.first_event_id").alias("purchase_event_id"),
        F.col("e2.first_cents").alias("purchase_cents"),
    )


_V71_ORACLE_SQL = """
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               CASE event_type WHEN 'view' THEN 'V' WHEN 'click' THEN 'C'
                    WHEN 'purchase' THEN 'P' ELSE 'X' END AS sym,
               CAST(round(value * 100) AS BIGINT) AS value_cents
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN row_number() OVER w = 1 THEN 1
                    WHEN lag(sym) OVER w IS NOT DISTINCT FROM sym THEN 0
                    ELSE 1 END AS chg
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    numbered AS (
        SELECT *,
               sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - 1 AS run_id
        FROM flagged
    ),
    runs AS (
        SELECT user_id, run_id,
               any_value(sym) AS sym,
               CAST(count(*) AS BIGINT) AS n_rows,
               min(struct_pack(ts_us := ts_us, event_id := event_id,
                               value_cents := value_cents)) AS fr
        FROM numbered GROUP BY user_id, run_id
    ),
    seq AS (
        SELECT user_id, sym, n_rows, fr,
               lead(sym, 1) OVER w AS sym1, lead(sym, 2) OVER w AS sym2,
               lead(n_rows, 1) OVER w AS n1,
               lead(fr, 1) OVER w AS fr1, lead(fr, 2) OVER w AS fr2
        FROM runs
        WINDOW w AS (PARTITION BY user_id ORDER BY run_id)
    )
    SELECT user_id,
           fr.event_id AS start_event_id,
           fr.ts_us AS start_ts_us,
           n_rows AS n_views,
           CASE WHEN sym1 = 'C' THEN n1 ELSE CAST(0 AS BIGINT) END AS n_clicks,
           CASE WHEN sym1 = 'C' THEN fr2.event_id
                ELSE fr1.event_id END AS purchase_event_id,
           CASE WHEN sym1 = 'C' THEN fr2.value_cents
                ELSE fr1.value_cents END AS purchase_cents
    FROM seq
    WHERE sym = 'V'
      AND ((sym1 = 'C' AND sym2 = 'P') OR sym1 = 'P')
"""


def _v73_match_measures(spark: SparkSession, sf: str) -> DataFrame:
    """MATCH_RECOGNIZE MEASURES clause over v71's quantified pattern
    (VERDICT r10 item 7): per-element aggregates INSIDE each matched
    segment — sum/max of cents over the rows a pattern variable
    consumed (Trino/Oracle `MEASURES sum(V.price)` semantics).  The
    measures ride the existing encode_runs agg_cols hook: a '+'/'*'
    element consumes its whole run, so the run-level sum IS the
    segment sum; the final '1' element consumes only the run's first
    row, so its measure is the arg-min first_cents (the pattern.py
    payload caveat applied deliberately).  Same one-exchange plan as
    v71 — measures add columns to the per-run aggregate, not stages.
    All output integer."""
    from lawlm_spark.operators.pattern import encode_runs, match_quantified

    runs = encode_runs(
        _pattern_symbol_events(spark, sf),
        "user_id",
        ["ts_us", "event_id"],
        "sym",
        agg_cols=[
            _pattern_first_cents().alias("first_cents"),
            F.sum("value_cents").alias("sum_cents"),
            F.max("value_cents").alias("max_cents"),
        ],
    )
    m = match_quantified(runs, [("V", "+"), ("C", "*"), ("P", "1")], "user_id")
    view_cents = F.col("e0.sum_cents")
    click_cents = F.coalesce(F.col("e1.sum_cents"), F.lit(0)).cast("long")
    purchase_cents = F.col("e2.first_cents")
    return m.select(
        "user_id",
        F.col("e0.first_event_id").alias("start_event_id"),
        F.col("e0.n_rows").cast("long").alias("n_views"),
        F.coalesce(F.col("e1.n_rows"), F.lit(0)).cast("long").alias("n_clicks"),
        view_cents.alias("view_cents"),
        click_cents.alias("click_cents"),
        purchase_cents.alias("purchase_cents"),
        (view_cents + click_cents + purchase_cents)
        .cast("long")
        .alias("match_cents"),
        F.col("e0.max_cents").alias("view_max_cents"),
    )


_V73_ORACLE_SQL = """
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               CASE event_type WHEN 'view' THEN 'V' WHEN 'click' THEN 'C'
                    WHEN 'purchase' THEN 'P' ELSE 'X' END AS sym,
               CAST(round(value * 100) AS BIGINT) AS value_cents
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN row_number() OVER w = 1 THEN 1
                    WHEN lag(sym) OVER w IS NOT DISTINCT FROM sym THEN 0
                    ELSE 1 END AS chg
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    numbered AS (
        SELECT *,
               sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) - 1 AS run_id
        FROM flagged
    ),
    runs AS (
        SELECT user_id, run_id,
               any_value(sym) AS sym,
               CAST(count(*) AS BIGINT) AS n_rows,
               min(struct_pack(ts_us := ts_us, event_id := event_id,
                               value_cents := value_cents)) AS fr,
               CAST(sum(value_cents) AS BIGINT) AS sum_cents,
               max(value_cents) AS max_cents
        FROM numbered GROUP BY user_id, run_id
    ),
    seq AS (
        SELECT user_id, sym, n_rows, fr, sum_cents, max_cents,
               lead(sym, 1) OVER w AS sym1, lead(sym, 2) OVER w AS sym2,
               lead(n_rows, 1) OVER w AS n1,
               lead(fr, 1) OVER w AS fr1, lead(fr, 2) OVER w AS fr2,
               lead(sum_cents, 1) OVER w AS s1
        FROM runs
        WINDOW w AS (PARTITION BY user_id ORDER BY run_id)
    )
    SELECT user_id,
           fr.event_id AS start_event_id,
           n_rows AS n_views,
           CASE WHEN sym1 = 'C' THEN n1 ELSE CAST(0 AS BIGINT) END AS n_clicks,
           sum_cents AS view_cents,
           CASE WHEN sym1 = 'C' THEN s1
                ELSE CAST(0 AS BIGINT) END AS click_cents,
           CASE WHEN sym1 = 'C' THEN fr2.value_cents
                ELSE fr1.value_cents END AS purchase_cents,
           CAST(sum_cents
                + CASE WHEN sym1 = 'C' THEN s1 ELSE 0 END
                + CASE WHEN sym1 = 'C' THEN fr2.value_cents
                       ELSE fr1.value_cents END AS BIGINT) AS match_cents,
           max_cents AS view_max_cents
    FROM seq
    WHERE sym = 'V'
      AND ((sym1 = 'C' AND sym2 = 'P') OR sym1 = 'P')
"""


def _v75_nfa_pattern(spark: SparkSession, sf: str) -> DataFrame:
    """NFA-backed row-pattern matching with a REPEATED symbol
    (operators/pattern.py::match_nfa, VERDICT r11 item 6 — the
    generalization v71's lead-probe matcher deliberately refuses):
    greedy `V+ P+ V+` per user — views, purchases, views again — with
    AFTER MATCH SKIP PAST LAST ROW resolved by sequential left-to-
    right consumption (a lead probe would emit overlapping matches:
    with a repeated symbol a later anchor can sit inside an earlier
    match's span).  The backtracking NFA runs per key over the ENCODED
    RUN sequence via applyInPandas (one Arrow row per run, not per
    event); encode stays all-JVM and its hashpartitioning satisfies
    the applyInPandas clustering, so the pipeline still runs on one
    exchange.  The oracle replays the identical greedy selection with
    a recursive CTE (leftmost candidate, then next candidate at least
    3 runs later).  All output integer."""
    from lawlm_spark.operators.pattern import encode_runs, match_nfa

    runs = encode_runs(
        _pattern_symbol_events(spark, sf),
        "user_id",
        ["ts_us", "event_id"],
        "sym",
        agg_cols=[F.sum("value_cents").cast("long").alias("sum_cents")],
    )
    m = match_nfa(runs, [("V", "+"), ("P", "+"), ("V", "+")], "user_id")
    return m.select(
        "user_id",
        "anchor_run_id",
        F.col("e0_first_event_id").alias("start_event_id"),
        F.col("e0_first_ts_us").alias("start_ts_us"),
        F.col("e0_n_rows").cast("long").alias("n_views_pre"),
        F.col("e1_n_rows").cast("long").alias("n_purchases"),
        F.col("e2_n_rows").cast("long").alias("n_views_post"),
        F.col("e1_sum_cents").cast("long").alias("purchase_cents"),
    )


_V75_ORACLE_SQL = """
    WITH RECURSIVE ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               CASE event_type WHEN 'view' THEN 'V' WHEN 'click' THEN 'C'
                    WHEN 'purchase' THEN 'P' ELSE 'X' END AS sym,
               CAST(round(value * 100) AS BIGINT) AS value_cents
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN row_number() OVER w = 1 THEN 1
                    WHEN lag(sym) OVER w IS NOT DISTINCT FROM sym THEN 0
                    ELSE 1 END AS chg
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    numbered AS (
        SELECT *,
               sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) - 1 AS run_id
        FROM flagged
    ),
    runs AS (
        SELECT user_id, run_id,
               any_value(sym) AS sym,
               CAST(count(*) AS BIGINT) AS n_rows,
               min(struct_pack(ts_us := ts_us, event_id := event_id)) AS fr,
               CAST(sum(value_cents) AS BIGINT) AS sum_cents
        FROM numbered GROUP BY user_id, run_id
    ),
    seq AS (
        -- w2, not w: under WITH RECURSIVE DuckDB scopes WINDOW names
        -- across the whole CTE list ("window w is already defined")
        SELECT user_id, run_id, sym, n_rows, fr,
               lead(sym, 1) OVER w2 AS sym1, lead(sym, 2) OVER w2 AS sym2,
               lead(n_rows, 1) OVER w2 AS n1, lead(n_rows, 2) OVER w2 AS n2,
               lead(sum_cents, 1) OVER w2 AS s1
        FROM runs
        WINDOW w2 AS (PARTITION BY user_id ORDER BY run_id)
    ),
    cand AS (
        -- run_id comes out of the window sum as a wider type that
        -- canons as float downstream of the recursion — pin BIGINT
        SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
               fr.event_id AS start_event_id,
               fr.ts_us AS start_ts_us, n_rows AS n_views_pre,
               n1 AS n_purchases, n2 AS n_views_post, s1 AS purchase_cents
        FROM seq
        WHERE sym = 'V' AND sym1 = 'P' AND sym2 = 'V'
    ),
    -- AFTER MATCH SKIP PAST LAST ROW with a repeated symbol needs
    -- sequential selection: leftmost candidate per user, then the
    -- next candidate at least 3 runs (the whole consumed span) later
    pick AS (
        SELECT c.* FROM cand c
        WHERE c.run_id = (SELECT min(c2.run_id) FROM cand c2
                          WHERE c2.user_id = c.user_id)
        UNION ALL
        SELECT c.* FROM pick p JOIN cand c
          ON c.user_id = p.user_id
         AND c.run_id = (SELECT min(c3.run_id) FROM cand c3
                         WHERE c3.user_id = p.user_id
                           AND c3.run_id >= p.run_id + 3)
    )
    SELECT user_id, run_id AS anchor_run_id, start_event_id, start_ts_us,
           n_views_pre, n_purchases, n_views_post, purchase_cents
    FROM pick
"""


def _v76_bounded_pattern(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded row-pattern quantifiers (operators/pattern.py, VERDICT
    r12 item 7): `V{2,} C{1,2} P1` per user — at least two views, one
    or two clicks, one purchase.  `{n,m}` is a '+' variant consuming a
    whole maximal run plus a run-length predicate: n_rows is already
    materialized per run, so the bound rides the SAME lead-probe
    window as the symbol checks — one exchange, all-JVM, identical
    plan shape to v71 (pinned in tests/test_pattern.py).  Finite upper
    bounds are mid-pattern-only (head/effectively-final bounds diverge
    from row semantics and raise — module docstring); the oracle adds
    the two length predicates to v71's run-CTE replay.  All output
    integer."""
    from lawlm_spark.operators.pattern import encode_runs, match_quantified

    runs = encode_runs(
        _pattern_symbol_events(spark, sf),
        "user_id",
        ["ts_us", "event_id"],
        "sym",
        agg_cols=[_pattern_first_cents().alias("first_cents")],
    )
    m = match_quantified(
        runs, [("V", "{2,}"), ("C", "{1,2}"), ("P", "1")], "user_id"
    )
    return m.select(
        "user_id",
        F.col("e0.first_event_id").alias("start_event_id"),
        F.col("e0.first_ts_us").alias("start_ts_us"),
        F.col("e0.n_rows").cast("long").alias("n_views"),
        F.col("e1.n_rows").cast("long").alias("n_clicks"),
        F.col("e2.first_event_id").alias("purchase_event_id"),
        F.col("e2.first_cents").alias("purchase_cents"),
    )


_V76_ORACLE_SQL = """
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               CASE event_type WHEN 'view' THEN 'V' WHEN 'click' THEN 'C'
                    WHEN 'purchase' THEN 'P' ELSE 'X' END AS sym,
               CAST(round(value * 100) AS BIGINT) AS value_cents
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN row_number() OVER w = 1 THEN 1
                    WHEN lag(sym) OVER w IS NOT DISTINCT FROM sym THEN 0
                    ELSE 1 END AS chg
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    numbered AS (
        SELECT *,
               sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - 1 AS run_id
        FROM flagged
    ),
    runs AS (
        SELECT user_id, run_id,
               any_value(sym) AS sym,
               CAST(count(*) AS BIGINT) AS n_rows,
               min(struct_pack(ts_us := ts_us, event_id := event_id,
                               value_cents := value_cents)) AS fr
        FROM numbered GROUP BY user_id, run_id
    ),
    seq AS (
        SELECT user_id, sym, n_rows, fr,
               lead(sym, 1) OVER w AS sym1, lead(sym, 2) OVER w AS sym2,
               lead(n_rows, 1) OVER w AS n1,
               lead(fr, 2) OVER w AS fr2
        FROM runs
        WINDOW w AS (PARTITION BY user_id ORDER BY run_id)
    )
    SELECT user_id,
           fr.event_id AS start_event_id,
           fr.ts_us AS start_ts_us,
           n_rows AS n_views,
           n1 AS n_clicks,
           fr2.event_id AS purchase_event_id,
           fr2.value_cents AS purchase_cents
    FROM seq
    WHERE sym = 'V' AND n_rows >= 2
      AND sym1 = 'C' AND n1 BETWEEN 1 AND 2
      AND sym2 = 'P'
"""


def _v77_alternation_pattern(spark: SparkSession, sf: str) -> DataFrame:
    """Alternation-group pattern via symbol composition (operators/
    pattern.py::map_symbols, VERDICT r12 item 7): `(V|C)+ P1` per user
    — any engagement chain, then one purchase.  A set-element is
    unexpressible at run granularity (module docstring's worked
    reason), so the alternation maps into ONE symbol at ROW level
    BEFORE encode_runs: alternating V/C rows collapse into a single
    maximal 'E' run and every run-level rule applies unchanged.  Same
    one-exchange all-JVM plan as v71; the oracle inlines the identical
    CASE mapping into the run-CTE replay.  All output integer."""
    from lawlm_spark.operators.pattern import (
        encode_runs,
        map_symbols,
        match_quantified,
    )

    ev = map_symbols(
        _pattern_symbol_events(spark, sf), "sym", {"E": ["V", "C"]}
    )
    runs = encode_runs(
        ev,
        "user_id",
        ["ts_us", "event_id"],
        "sym",
        agg_cols=[_pattern_first_cents().alias("first_cents")],
    )
    m = match_quantified(runs, [("E", "+"), ("P", "1")], "user_id")
    return m.select(
        "user_id",
        F.col("e0.first_event_id").alias("start_event_id"),
        F.col("e0.first_ts_us").alias("start_ts_us"),
        F.col("e0.n_rows").cast("long").alias("n_engaged"),
        F.col("e1.first_event_id").alias("purchase_event_id"),
        F.col("e1.first_cents").alias("purchase_cents"),
    )


_V77_ORACLE_SQL = """
    WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               CASE event_type WHEN 'view' THEN 'E' WHEN 'click' THEN 'E'
                    WHEN 'purchase' THEN 'P' ELSE 'X' END AS sym,
               CAST(round(value * 100) AS BIGINT) AS value_cents
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN row_number() OVER w = 1 THEN 1
                    WHEN lag(sym) OVER w IS NOT DISTINCT FROM sym THEN 0
                    ELSE 1 END AS chg
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    numbered AS (
        SELECT *,
               sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - 1 AS run_id
        FROM flagged
    ),
    runs AS (
        SELECT user_id, run_id,
               any_value(sym) AS sym,
               CAST(count(*) AS BIGINT) AS n_rows,
               min(struct_pack(ts_us := ts_us, event_id := event_id,
                               value_cents := value_cents)) AS fr
        FROM numbered GROUP BY user_id, run_id
    ),
    seq AS (
        SELECT user_id, sym, n_rows, fr,
               lead(sym, 1) OVER w AS sym1,
               lead(fr, 1) OVER w AS fr1
        FROM runs
        WINDOW w AS (PARTITION BY user_id ORDER BY run_id)
    )
    SELECT user_id,
           fr.event_id AS start_event_id,
           fr.ts_us AS start_ts_us,
           n_rows AS n_engaged,
           fr1.event_id AS purchase_event_id,
           fr1.value_cents AS purchase_cents
    FROM seq
    WHERE sym = 'E' AND sym1 = 'P'
"""


def _v78_permute_pattern(spark: SparkSession, sf: str) -> DataFrame:
    """MATCH_RECOGNIZE PERMUTE (operators/pattern.py::match_permute,
    r14 surface; VERDICT r13 item 7a): `PERMUTE(V{2,}, C+, P+)` per
    user — three consecutive runs that are views (at least two),
    clicks, and purchases in ANY order.  Distinct symbols make the
    SQL:2016 alternation-expansion choice FORCED at each anchor, but
    matches can still overlap (an anchor may sit inside an earlier
    match's span), so selection is the sequential NFA-style scan with
    AFTER MATCH SKIP PAST LAST ROW — the oracle replays it with the
    v75 recursive-CTE idiom (leftmost candidate, next candidate >= 3
    runs later).  Payloads stay addressable by ORIGINAL element (e0 =
    the V run wherever it matched); `perm` records the matched order.
    One exchange (plan-pinned in tests/test_pattern.py).  All output
    integer except perm."""
    from lawlm_spark.operators.pattern import encode_runs, match_permute

    runs = encode_runs(
        _pattern_symbol_events(spark, sf),
        "user_id",
        ["ts_us", "event_id"],
        "sym",
        agg_cols=[F.sum("value_cents").cast("long").alias("sum_cents")],
    )
    m = match_permute(
        runs, [("V", "{2,}"), ("C", "+"), ("P", "+")], "user_id"
    )
    return m.select(
        "user_id",
        "anchor_run_id",
        "perm",
        F.col("e0_n_rows").cast("long").alias("n_views"),
        F.col("e1_n_rows").cast("long").alias("n_clicks"),
        F.col("e2_n_rows").cast("long").alias("n_purchases"),
        F.col("e0_sum_cents").cast("long").alias("views_cents"),
        F.col("e2_sum_cents").cast("long").alias("purchase_cents"),
    )


_V78_ORACLE_SQL = """
    WITH RECURSIVE ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               CASE event_type WHEN 'view' THEN 'V' WHEN 'click' THEN 'C'
                    WHEN 'purchase' THEN 'P' ELSE 'X' END AS sym,
               CAST(round(value * 100) AS BIGINT) AS value_cents
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN row_number() OVER w = 1 THEN 1
                    WHEN lag(sym) OVER w IS NOT DISTINCT FROM sym THEN 0
                    ELSE 1 END AS chg
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    numbered AS (
        SELECT *,
               sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) - 1 AS run_id
        FROM flagged
    ),
    runs AS (
        SELECT user_id, run_id,
               any_value(sym) AS sym,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(value_cents) AS BIGINT) AS sum_cents
        FROM numbered GROUP BY user_id, run_id
    ),
    seq AS (
        SELECT user_id, run_id, sym, n_rows, sum_cents,
               lead(sym, 1) OVER w2 AS sym1, lead(sym, 2) OVER w2 AS sym2,
               lead(n_rows, 1) OVER w2 AS n1, lead(n_rows, 2) OVER w2 AS n2,
               lead(sum_cents, 1) OVER w2 AS c1, lead(sum_cents, 2) OVER w2 AS c2
        FROM runs
        WINDOW w2 AS (PARTITION BY user_id ORDER BY run_id)
    ),
    cand AS (
        -- PERMUTE candidate: 3 consecutive runs whose symbol SET is
        -- {V,C,P} (distinct symbols force the element->run mapping),
        -- with the V run carrying >= 2 rows; payloads pivot to the
        -- ORIGINAL elements via CASE on which offset holds each symbol
        SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
               sym || sym1 || sym2 AS perm,
               CASE WHEN sym = 'V' THEN n_rows WHEN sym1 = 'V' THEN n1 ELSE n2 END AS n_views,
               CASE WHEN sym = 'C' THEN n_rows WHEN sym1 = 'C' THEN n1 ELSE n2 END AS n_clicks,
               CASE WHEN sym = 'P' THEN n_rows WHEN sym1 = 'P' THEN n1 ELSE n2 END AS n_purchases,
               CASE WHEN sym = 'V' THEN sum_cents WHEN sym1 = 'V' THEN c1 ELSE c2 END AS views_cents,
               CASE WHEN sym = 'P' THEN sum_cents WHEN sym1 = 'P' THEN c1 ELSE c2 END AS purchase_cents
        FROM seq
        WHERE sym IN ('V', 'C', 'P') AND sym1 IN ('V', 'C', 'P')
          AND sym2 IN ('V', 'C', 'P')
          AND sym <> sym1 AND sym1 <> sym2 AND sym <> sym2
          AND (CASE WHEN sym = 'V' THEN n_rows
                    WHEN sym1 = 'V' THEN n1 ELSE n2 END) >= 2
    ),
    -- AFTER MATCH SKIP PAST LAST ROW: leftmost candidate per user,
    -- then the next candidate at least 3 runs (the consumed span) later
    pick AS (
        SELECT c.* FROM cand c
        WHERE c.run_id = (SELECT min(c2.run_id) FROM cand c2
                          WHERE c2.user_id = c.user_id)
        UNION ALL
        SELECT c.* FROM pick p JOIN cand c
          ON c.user_id = p.user_id
         AND c.run_id = (SELECT min(c3.run_id) FROM cand c3
                         WHERE c3.user_id = p.user_id
                           AND c3.run_id >= p.run_id + 3)
    )
    SELECT user_id, run_id AS anchor_run_id, perm,
           n_views, n_clicks, n_purchases, views_cents, purchase_cents
    FROM pick
"""


def _v79_bounded_permute(spark: SparkSession, sf: str) -> DataFrame:
    """PERMUTE with finite upper bounds (operators/pattern.py::
    match_permute + _scan_permute, r15 surface; VERDICT r14 item 6b):
    `PERMUTE(V{2,3}, C{1,2})` per user — a view run and a click run in
    either order, views capped at 3 rows and clicks at 2.  Finite
    bounds make row semantics diverge from whole runs at BOTH match
    boundaries: the head element consumes a greedy run SUFFIX (the
    match anchors mid-run, reported as anchor_off) and the final
    element a greedy run PREFIX (leftover rows stay scannable and may
    anchor the next match) — the two-sided boundary scan, certified
    here end to end.  The oracle replays the scan with a recursive CTE
    carrying (resume run, resume row-offset) state — the v75/v78 idiom
    extended to mid-run resume positions.  One exchange (the
    match_permute plan pins in tests/test_pattern.py cover this path).
    All output integer except perm."""
    from lawlm_spark.operators.pattern import encode_runs, match_permute

    runs = encode_runs(
        _pattern_symbol_events(spark, sf),
        "user_id",
        ["ts_us", "event_id"],
        "sym",
    )
    m = match_permute(runs, [("V", "{2,3}"), ("C", "{1,2}")], "user_id")
    return m.select(
        "user_id",
        "anchor_run_id",
        "anchor_off",
        "perm",
        F.col("e0_n_rows").cast("long").alias("n_views"),
        F.col("e0_rows_used").alias("views_used"),
        F.col("e1_n_rows").cast("long").alias("n_clicks"),
        F.col("e1_rows_used").alias("clicks_used"),
    )


def _v79_oracle_sql() -> str:
    # the two-sided boundary predicate over a seq row `s` given resume
    # state (pos, off): head = the element of s.sym consuming the
    # greedy suffix a = least(avail, hi_head); final = the other
    # element consuming the greedy prefix least(hi_final, next run len)
    def avail(pos: str, off: str) -> str:
        return (f"(s.n_rows - CASE WHEN s.run_id = {pos} "
                f"THEN {off} ELSE 0 END)")

    def a_expr(pos: str, off: str) -> str:
        return (f"(CASE WHEN s.sym = 'V' THEN least({avail(pos, off)}, 3) "
                f"ELSE least({avail(pos, off)}, 2) END)")

    def pred(alias: str, pos: str, off: str) -> str:
        p = (
            f"{alias}.run_id >= {pos} "
            f"AND (({alias}.sym = 'V' AND {alias}.sym1 = 'C') "
            f"OR ({alias}.sym = 'C' AND {alias}.sym1 = 'V')) "
            f"AND (CASE WHEN {alias}.sym = 'V' "
            f"THEN least({alias}.n_rows - CASE WHEN {alias}.run_id = {pos} "
            f"THEN {off} ELSE 0 END, 3) "
            f"ELSE least({alias}.n_rows - CASE WHEN {alias}.run_id = {pos} "
            f"THEN {off} ELSE 0 END, 2) END) "
            f">= (CASE WHEN {alias}.sym = 'V' THEN 2 ELSE 1 END) "
            f"AND {alias}.n1 >= (CASE WHEN {alias}.sym = 'V' THEN 1 ELSE 2 END)"
        )
        return p

    used_f = ("(CASE WHEN s.sym = 'V' THEN least(2, s.n1) "
              "ELSE least(3, s.n1) END)")
    emit = f"""s.user_id, s.run_id, s.sym, s.n_rows, s.sym1, s.n1,
               {{a}} AS a, {used_f} AS used_f,
               s.run_id + CASE WHEN {used_f} < s.n1 THEN 1 ELSE 2 END
                   AS resume_pos,
               CASE WHEN {used_f} < s.n1 THEN {used_f} ELSE CAST(0 AS BIGINT)
                   END AS resume_off"""
    return f"""
    WITH RECURSIVE ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               CASE event_type WHEN 'view' THEN 'V' WHEN 'click' THEN 'C'
                    WHEN 'purchase' THEN 'P' ELSE 'X' END AS sym
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN row_number() OVER w = 1 THEN 1
                    WHEN lag(sym) OVER w IS NOT DISTINCT FROM sym THEN 0
                    ELSE 1 END AS chg
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    numbered AS (
        SELECT *,
               sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) - 1 AS run_id
        FROM flagged
    ),
    runs AS (
        SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
               any_value(sym) AS sym,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM numbered GROUP BY user_id, run_id
    ),
    seq AS (
        SELECT user_id, run_id, sym, n_rows,
               lead(sym, 1) OVER w2 AS sym1,
               lead(n_rows, 1) OVER w2 AS n1
        FROM runs
        WINDOW w2 AS (PARTITION BY user_id ORDER BY run_id)
    ),
    pick AS (
        SELECT {emit.format(a=a_expr("0", "0"))}
        FROM seq s
        WHERE {pred("s", "0", "0")}
          AND s.run_id = (SELECT min(s2.run_id) FROM seq s2
                          WHERE s2.user_id = s.user_id
                            AND {pred("s2", "0", "0")})
        UNION ALL
        SELECT {emit.format(a=a_expr("p.resume_pos", "p.resume_off"))}
        FROM pick p JOIN seq s ON s.user_id = p.user_id
        WHERE {pred("s", "p.resume_pos", "p.resume_off")}
          AND s.run_id = (SELECT min(s2.run_id) FROM seq s2
                          WHERE s2.user_id = p.user_id
                            AND {pred("s2", "p.resume_pos", "p.resume_off")})
    )
    SELECT user_id, run_id AS anchor_run_id,
           n_rows - a AS anchor_off,
           sym || sym1 AS perm,
           CASE WHEN sym = 'V' THEN n_rows ELSE n1 END AS n_views,
           CASE WHEN sym = 'V' THEN a ELSE used_f END AS views_used,
           CASE WHEN sym = 'C' THEN n_rows ELSE n1 END AS n_clicks,
           CASE WHEN sym = 'C' THEN a ELSE used_f END AS clicks_used
    FROM pick
    """


def _r10_mmr_diversify(spark: SparkSession, sf: str) -> DataFrame:
    """MMR diversification (operators/ranking.py::mmr_select, r14
    surface): per query, greedy top-5 from the brute-force top-12
    candidates maximizing λ·rel − (1−λ)·max_sim_to_selected, λ = 7/10.
    The reference returns the raw Qdrant top-k (app.py:151-170) with no
    de-crowding pass; this is the standard diversification on top.

    Entirely in integer micro-units (vectors.cos_micros): relevance and
    pairwise similarity are round(cos·1e6) BIGINTs, λ rides as the
    exact integers (7, 3)/10, so `mmr_scaled = 7·rel − 3·max_sim` is
    pure integer math with (−score, id) tiebreak — no float crosses the
    greedy on either engine.  The oracle replays the selection with a
    recursive CTE carrying the selected-id list (v75's idiom).  First
    pick's score is 7·rel (empty sim term).  Candidate generation here
    is the certified brute-force oracle baseline; at scale it swaps for
    the bucketed ANN paths (d8/d8b/r4-r8) — MMR itself only ever
    touches per-query top-N sets (N=12)."""
    from lawlm_spark.functions.vectors import cos_micros
    from lawlm_spark.operators.ranking import mmr_select

    emb = load_table(spark, sf, "embeddings")
    q = _queries_df(spark).select(
        "query_id", fake_embedding(F.col("question"), EMB_DIM).alias("q_vec")
    )
    scored = emb.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        "embedding",
        cos_micros(F.col("embedding"), F.col("q_vec")).alias("rel_micros"),
    )
    cands = top_k(
        scored, ["query_id"], F.col("rel_micros").desc(), 12,
        tiebreak=["vec_id"], rank_col="_rn0",
    ).drop("_rn0")
    return mmr_select(
        cands, "query_id", "vec_id", "embedding",
        rel_micros_col="rel_micros", k=5, lam_num=7, lam_den=10,
    )


def _r10_oracle_sql() -> str:
    score = (
        "7 * {c}.rel_micros - 3 * ("
        "SELECT max({pr}.sim_micros) FROM pairs {pr} "
        "WHERE {pr}.query_id = {c}.query_id AND {pr}.id_a = {c}.vec_id "
        "AND list_contains(p.sel, {pr}.id_b))"
    )
    return f"""
    WITH RECURSIVE qq AS (SELECT * FROM {_queries_values_sql()}),
    qv AS (SELECT query_id, {fake_embedding_oracle_sql("question", EMB_DIM)} AS qvec FROM qq),
    scored AS (
        SELECT qv.query_id, e.vec_id, e.embedding,
               CAST(round({_cos_sql("e.embedding", "qv.qvec")} * 1000000) AS BIGINT)
                   AS rel_micros
        FROM embeddings e, qv
    ),
    cand AS (
        SELECT query_id, vec_id, embedding, rel_micros FROM scored
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY rel_micros DESC, vec_id) <= 12
    ),
    pairs AS (
        SELECT a.query_id, a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(round({_cos_sql("a.embedding", "b.embedding")} * 1000000) AS BIGINT)
                   AS sim_micros
        FROM cand a JOIN cand b
          ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
    ),
    pick AS (
        SELECT query_id, 1 AS rn, vec_id, rel_micros,
               CAST(7 * rel_micros AS BIGINT) AS mmr_scaled,
               [vec_id] AS sel
        FROM cand
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY rel_micros DESC, vec_id) = 1
        UNION ALL
        SELECT p.query_id, p.rn + 1, c.vec_id, c.rel_micros,
               CAST({score.format(c="c", pr="pr")} AS BIGINT) AS mmr_scaled,
               list_append(p.sel, c.vec_id) AS sel
        FROM pick p JOIN cand c
          ON c.query_id = p.query_id AND NOT list_contains(p.sel, c.vec_id)
        WHERE p.rn < 5
          AND struct_pack(s := -({score.format(c="c", pr="pr")}), v := c.vec_id)
              = (SELECT min(struct_pack(
                     s := -({score.format(c="c2", pr="pr2")}), v := c2.vec_id))
                 FROM cand c2
                 WHERE c2.query_id = p.query_id
                   AND NOT list_contains(p.sel, c2.vec_id))
    )
    SELECT query_id, CAST(rn AS INTEGER) AS rn, vec_id, rel_micros, mmr_scaled
    FROM pick
    """


def _r11_maxsim_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Late-interaction MaxSim retrieval (operators/maxsim.py, r15
    surface — Khattab & Zaharia 2020, ColBERT): per query, top-10
    documents by Σ_query_terms w · max_doc_token round(cos·1e6) over
    per-token fake embeddings (first 12 token positions per document,
    distinct tokens).  The one published retrieval shape the r4-r8
    family lacked (VERDICT r14 item 6a); the reference's retrieval is
    single-vector Qdrant + BM25 fusion only (app.py:151-168).

    Integer-exact: token-pair similarities are cos_micros BIGINTs, the
    per-position sum regroups as count-weights on distinct terms
    (Σ_positions max = Σ_terms w·max exactly), so scoring and ranking
    are pure integer math with doc_id tiebreak on both engines.

    Scale shape (plan-pinned in tests/test_maxsim.py): the query-token
    table broadcasts into the corpus token stream (corpus never
    shuffles to meet the queries); two map-side-partial keyed
    aggregates (term-max, then weighted doc-sum) are the only corpus
    exchanges; the top-k is WindowGroupLimit."""
    from lawlm_spark.operators.maxsim import (
        maxsim_topk,
        query_token_weights,
        token_vectors,
    )

    # the local parquet is ONE scan split, which would run the
    # interpreted-HOF cosine stream single-threaded; a keyed
    # repartition fans the token compute across the executors (a real
    # 100 TB scan arrives already partitioned — this is the
    # small-input knob, semantics-free: --perturb certifies
    # partitioning invariance)
    docs = load_table(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    dtok = token_vectors(docs, "doc_id", "text", dim=EMB_DIM, max_tokens=12)
    qtok = query_token_weights(_queries_df(spark), "query_id", "question",
                               dim=EMB_DIM)
    return maxsim_topk(dtok, qtok, "doc_id", "query_id", k=10)


def _r11_oracle_sql() -> str:
    return f"""
    WITH q AS (SELECT * FROM {_queries_values_sql()}),
    qt AS (
        SELECT query_id, token, count(*) AS w
        FROM (SELECT query_id,
                     unnest(regexp_extract_all(lower(question), '[a-z0-9]+'))
                         AS token
              FROM q)
        GROUP BY query_id, token
    ),
    qv AS (SELECT query_id, token, w,
                  {fake_embedding_oracle_sql("token", EMB_DIM)} AS qvec
           FROM qt),
    dt AS (
        SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id,
                   unnest(list_slice(
                       regexp_extract_all(lower(text), '[a-z0-9]+'), 1, 12))
                       AS token
            FROM documents)
    ),
    dv AS (SELECT doc_id, token,
                  {fake_embedding_oracle_sql("token", EMB_DIM)} AS dvec
           FROM dt),
    per_term AS (
        SELECT qv.query_id, dv.doc_id, qv.token, qv.w,
               max(CAST(round({_cos_sql("dv.dvec", "qv.qvec")} * 1000000)
                        AS BIGINT)) AS max_sim
        FROM dv, qv
        GROUP BY qv.query_id, dv.doc_id, qv.token, qv.w
    ),
    scored AS (
        SELECT query_id, doc_id,
               CAST(sum(w * max_sim) AS BIGINT) AS maxsim_micros
        FROM per_term GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, maxsim_micros, CAST(rn AS INTEGER) AS rn
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY maxsim_micros DESC, doc_id) AS rn
        FROM scored)
    WHERE rn <= 10
    """


def _r12_maxsim_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Two-stage late-interaction retrieval (operators/maxsim.py::
    maxsim_rerank, r15 surface — the ColBERTv2/PLAID serving shape,
    Santhanam et al. 2022): stage 1 shortlists the per-query top-30
    documents by whole-document cosine (the certified v10/d7 brute
    path — rounded cos, doc_id tiebreak); stage 2 computes the exact
    MaxSim score (Σ_terms w · max round(cos·1e6), the r11 contract)
    ONLY for shortlisted pairs and re-ranks to top-10.

    Scale shape: the shortlist broadcasts onto the corpus token stream
    (the corpus meets only its shortlisted tokens — O(|shortlist| ·
    tokens), not O(corpus · query tokens)); at 100 TB stage 1 swaps
    for the certified ANN paths behind the same pair schema.  Oracle:
    full SQL replay of both stages."""
    from lawlm_spark.functions.vectors import add_fake_embedding
    from lawlm_spark.operators.maxsim import (
        maxsim_rerank,
        query_token_weights,
        token_vectors,
    )
    from lawlm_spark.operators.similarity import brute_force_topk

    # keyed repartition for the same single-split reason as r11 (the
    # doc embedding + token cosine streams are compute-bound)
    docs = load_table(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    demb = add_fake_embedding(
        docs.select("doc_id", "text"), "text", "embedding", EMB_DIM
    ).select("doc_id", "embedding")
    qv = _queries_df(spark).select(
        "query_id", fake_embedding(F.col("question"), EMB_DIM).alias("q_vec")
    )
    shortlist = brute_force_topk(
        demb, qv, "doc_id", "embedding", "query_id", "q_vec", k=30
    )
    dtok = token_vectors(docs, "doc_id", "text", dim=EMB_DIM, max_tokens=12)
    qtok = query_token_weights(_queries_df(spark), "query_id", "question",
                               dim=EMB_DIM)
    return maxsim_rerank(shortlist, dtok, qtok, "doc_id", "query_id", k=10)


def _r12_oracle_sql() -> str:
    return f"""
    WITH q AS (SELECT * FROM {_queries_values_sql()}),
    qv AS (SELECT query_id,
                  {fake_embedding_oracle_sql("question", EMB_DIM)} AS qvec
           FROM q),
    demb AS (SELECT doc_id,
                    {fake_embedding_oracle_sql("text", EMB_DIM)} AS dvec
             FROM documents),
    shortlist AS (
        SELECT query_id, doc_id FROM (
            SELECT qv.query_id, demb.doc_id,
                   row_number() OVER (
                       PARTITION BY qv.query_id
                       ORDER BY round({_cos_sql("demb.dvec", "qv.qvec")}, 6)
                                DESC, demb.doc_id) AS srn
            FROM demb, qv)
        WHERE srn <= 30
    ),
    qt AS (
        SELECT query_id, token, count(*) AS w
        FROM (SELECT query_id,
                     unnest(regexp_extract_all(lower(question), '[a-z0-9]+'))
                         AS token
              FROM q)
        GROUP BY query_id, token
    ),
    qtv AS (SELECT query_id, token, w,
                   {fake_embedding_oracle_sql("token", EMB_DIM)} AS tvec
            FROM qt),
    dt AS (
        SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id,
                   unnest(list_slice(
                       regexp_extract_all(lower(text), '[a-z0-9]+'), 1, 12))
                       AS token
            FROM documents)
    ),
    dv AS (SELECT dt.doc_id, dt.token,
                  {fake_embedding_oracle_sql("dt.token", EMB_DIM)} AS dvec
           FROM dt),
    per_term AS (
        SELECT s.query_id, s.doc_id, qtv.token, qtv.w,
               max(CAST(round({_cos_sql("dv.dvec", "qtv.tvec")} * 1000000)
                        AS BIGINT)) AS max_sim
        FROM shortlist s
        JOIN dv ON dv.doc_id = s.doc_id
        JOIN qtv ON qtv.query_id = s.query_id
        GROUP BY s.query_id, s.doc_id, qtv.token, qtv.w
    ),
    scored AS (
        SELECT query_id, doc_id,
               CAST(sum(w * max_sim) AS BIGINT) AS maxsim_micros
        FROM per_term GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, maxsim_micros, CAST(rn AS INTEGER) AS rn
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY maxsim_micros DESC, doc_id) AS rn
        FROM scored)
    WHERE rn <= 10
    """


def _d77_pareto_skyline(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto-frontier curation (operators/skyline.py::pareto_front_2d,
    r14 surface): documents on the quality-vs-token-cost frontier —
    maximize quality, minimize n_tokens; a document survives iff no
    other is at least as good on both axes and strictly better on one.
    Generalizes the reference's single-threshold quality gate (O5,
    data_extraction.py:136-139) to multi-objective selection.

    Metrics enter as exact integers (n_tokens long, quality_micros =
    round(quality·1e6) on the certified d10 quality score), so
    dominance is pure integer comparison on both engines.  The Spark
    path is the pure-Catalyst 2-D skyline: groupBy(neg_tokens) max —
    the only corpus exchange, bounded by |distinct n_tokens| — a
    running-max window over that aggregate, broadcast semi join back;
    the oracle is the literal NOT EXISTS dominance definition."""
    from lawlm_spark.operators.skyline import pareto_front_2d

    docs = load_table(spark, sf, "documents")
    m = docs.select(
        "doc_id",
        word_count(F.col("text")).alias("n_tokens"),
        F.round(quality_score(F.col("text")) * F.lit(1000000.0), 0)
        .cast("long")
        .alias("quality_micros"),
    ).withColumn("neg_tokens", -F.col("n_tokens"))
    front = pareto_front_2d(m, "neg_tokens", "quality_micros")
    return front.select("doc_id", "n_tokens", "quality_micros")


def _d77_oracle_sql() -> str:
    return f"""
    WITH {_features_ctes("documents")},
    m AS (
        SELECT doc_id, n_tokens,
               CAST(round(quality * 1000000) AS BIGINT) AS quality_micros
        FROM f_scored
    )
    SELECT doc_id, n_tokens, quality_micros FROM m t
    WHERE NOT EXISTS (
        SELECT 1 FROM m o
        WHERE o.n_tokens <= t.n_tokens
          AND o.quality_micros >= t.quality_micros
          AND (o.n_tokens < t.n_tokens OR o.quality_micros > t.quality_micros))
    """


def _d78_dsir_select(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance resampling (operators/dsir.py, r14 surface —
    Xie et al. 2023): every document scored by its hashed-ngram
    importance log-ratio toward the lang='en' target slice, top-50
    flagged.  Distribution-matching SELECTION of individual documents
    — the axis the quality gates (absolute signals) and source mixers
    (per-source weights) don't cover; the reference's only selection
    gate is the single min-length threshold
    (data_extraction.py:136-139).

    Scale shape (plan-pinned in tests/test_dsir.py): one corpus
    explode into a bucket aggregate bounded at 512 rows (lineage-cut;
    broadcasts into the scoring join), one doc-keyed exchange for the
    per-doc sum, TakeOrderedAndProject for the selection boundary —
    never a corpus-wide window sort.  Scores round(..,6) like the NLL
    family; ranking compares rounded scores with doc_id tiebreak, so
    both engines flag the identical set."""
    from lawlm_spark.session import lineage_cut
    from lawlm_spark.operators.dsir import dsir_importance, dsir_select

    docs = load_table(spark, sf, "documents")
    scored = dsir_importance(
        docs, F.col("lang") == "en", num_buckets=512, salt="d78"
    )
    caches: list[DataFrame] = []
    flagged = dsir_select(scored, k=50, keep_all=True, cache_registry=caches)
    # Materialize the narrow (id, n_feats, lr_score, selected) result
    # (lineage cut), then drop the persisted score frame — without
    # this every invocation leaked a MEMORY_AND_DISK block until
    # session LRU eviction (the ADVICE r9 class d74 fixed; ADVICE r14
    # flagged this call site).
    flagged = lineage_cut(flagged)
    for c in caches:
        c.unpersist()
    return flagged


_D78_ORACLE_SQL = """
    WITH toks AS (
        SELECT doc_id, lang = 'en' AS tgt,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS tl
        FROM documents
    ),
    feats AS (
        SELECT doc_id, tgt,
               unnest(tl || CASE WHEN len(tl) >= 2
                   THEN list_transform(generate_series(1, len(tl)-1),
                                       i -> tl[i] || '_' || tl[i+1])
                   ELSE []::VARCHAR[] END) AS f
        FROM toks
    ),
    occ AS (
        SELECT doc_id, tgt,
               ('0x' || substring(md5('d78:' || f), 1, 8))::BIGINT % 512
                 AS bucket
        FROM feats
    ),
    counts AS (
        SELECT bucket, count(*) AS cr,
               sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
        FROM occ GROUP BY bucket
    ),
    tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM counts),
    lr AS (
        SELECT bucket, ln((ct + 1) / (nt + 512.0))
                     - ln((cr + 1) / (nr + 512.0)) AS lr
        FROM counts, tot
    ),
    per_doc AS (
        SELECT o.doc_id, count(*) AS n_feats, round(sum(l.lr), 6) AS lr_score
        FROM occ o JOIN lr l USING (bucket) GROUP BY o.doc_id
    ),
    scored AS (
        SELECT d.doc_id, CAST(coalesce(p.n_feats, 0) AS BIGINT) AS n_feats,
               coalesce(p.lr_score, 0.0) AS lr_score
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    )
    SELECT doc_id, n_feats, lr_score,
           row_number() OVER (ORDER BY lr_score DESC, doc_id) <= 50 AS selected
    FROM scored
"""


def _v72_stream_enrichment(spark: SparkSession, sf: str) -> DataFrame:
    """Broadcast-state stream enrichment (streaming/enrichment.py —
    Flink's broadcast-state pattern, VERDICT r9's second candidate):
    reference updates (signups → multiplier) and data events
    (purchases → cents) arrive as ONE tagged stream; per-key state
    holds the latest reference and every data event is enriched with
    the multiplier live strictly before it in (ts_us, event_id) order.
    Two time-split micro-batches certify cross-batch state carry; the
    oracle replays the identical as-of contract in SQL.  All output
    integer.  transformWithState is the Spark 4.x native binding —
    environment-gated here (google.protobuf absent; module docstring)
    — so the semantics run on applyInPandasWithState."""
    from lawlm_spark.streaming.enrichment import (
        build_enrichment_landing,
        run_v72_query,
    )
    from lawlm_spark.streaming.landing import remove_landing

    landing = build_enrichment_landing(spark, sf)
    out = run_v72_query(spark, landing)
    remove_landing(landing)  # memory sink holds the rows; scratch dies here
    return out


_V72_ORACLE_SQL = """
    WITH su AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               ((CAST(round(value) AS BIGINT) % 9) + 9) % 9 + 2 AS mult
        FROM events WHERE event_type = 'signup'
    ),
    pu AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id, ts_us, cents, mult_applied,
           cents * mult_applied AS enriched_cents
    FROM (
        SELECT p.user_id, p.event_id, p.ts_us, p.cents,
               coalesce((
                   SELECT s.mult FROM su s
                   WHERE s.user_id = p.user_id
                     AND (s.ts_us, s.event_id) < (p.ts_us, p.event_id)
                   ORDER BY s.ts_us DESC, s.event_id DESC LIMIT 1
               ), 1) AS mult_applied
        FROM pu p
    )
"""


V74_TTL_US = 86_400_000_000  # 1 day: ~40% of sf0.01 purchases have a
# fresher reference, so both the fresh and the stale branch carry rows


def _v74_enrichment_ttl(spark: SparkSession, sf: str) -> DataFrame:
    """TTL-bounded stream enrichment (streaming/enrichment.py,
    VERDICT r11 item 3 — the open-key-domain form of v72): same
    broadcast-state as-of contract, plus an event-time staleness
    horizon — a purchase more than V74_TTL_US after its latest signup
    reference reads DEFAULT_MULT, and reference state expired behind
    the watermark is evicted by EventTimeTimeout (v41's GC pattern).
    The eviction is result-neutral by construction (module docstring),
    so the output is micro-batch-layout independent and the batch SQL
    oracle replays it exactly: the same correlated as-of lookup with
    the staleness predicate.  State is O(keys active within one ttl),
    not O(all keys ever) — the 100 TB retention story."""
    from lawlm_spark.streaming.enrichment import (
        build_enrichment_landing,
        run_v72_ttl_query,
    )
    from lawlm_spark.streaming.landing import remove_landing

    landing = build_enrichment_landing(spark, sf)
    out = run_v72_ttl_query(spark, landing, V74_TTL_US)
    remove_landing(landing)  # memory sink holds the rows; scratch dies here
    return out


_V74_ORACLE_SQL = """
    WITH su AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               ((CAST(round(value) AS BIGINT) % 9) + 9) % 9 + 2 AS mult
        FROM events WHERE event_type = 'signup'
    ),
    pu AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id, ts_us, cents, mult_applied,
           cents * mult_applied AS enriched_cents
    FROM (
        SELECT p.user_id, p.event_id, p.ts_us, p.cents,
               coalesce((
                   SELECT s.mult FROM su s
                   WHERE s.user_id = p.user_id
                     AND (s.ts_us, s.event_id) < (p.ts_us, p.event_id)
                     -- staleness horizon (STRICT <, matching the
                     -- fold's rule and the ceil-ms eviction bound);
                     -- freshness is monotone in recency, so filtering
                     -- before latest-pick == latest-pick then check
                     AND p.ts_us - s.ts_us < 86400000000
                   ORDER BY s.ts_us DESC, s.event_id DESC LIMIT 1
               ), 1) AS mult_applied
        FROM pu p
    )
"""


def _d74_winnowing(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing fingerprint near-dup candidates (operators/
    fingerprint.py, Schleimer et al. 2003): top-20 document pairs by
    shared winnowed k-gram fingerprints (k=8, w=6, doc-frequency cap
    50).  The guarantee MinHash lacks: any shared substring of length
    >= w+k-1 = 13 chars yields >= 1 shared fingerprint.  The oracle
    replays the identical selection — packed (hash, pos) min over the
    same ROWS frame — in SQL."""
    from lawlm_spark.session import lineage_cut
    from lawlm_spark.operators.fingerprint import winnow_pairs

    docs = load_table(spark, sf, "documents")
    caches: list[DataFrame] = []
    pairs = winnow_pairs(
        docs, "doc_id", "text", k=8, w=6, max_doc_freq=50,
        cache_registry=caches,
    )
    top = pairs.orderBy(F.desc("shared"), "doc_a", "doc_b").limit(20)
    ranked = top.withColumn(
        "rank",
        # bounded window: 20-row relation (allowlisted in test_window_hygiene.py)
        F.row_number().over(
            Window.orderBy(F.desc("shared"), "doc_a", "doc_b")
        ),
    )
    # Materialize the 20-row result (lineage cut), then drop the
    # persisted fingerprint frame — without this every invocation
    # leaked a MEMORY_AND_DISK block until session LRU eviction
    # (ADVICE r9), which accumulates across a full-registry sweep.
    ranked = lineage_cut(ranked)
    for c in caches:
        c.unpersist()
    return ranked


_D74_ORACLE_SQL = """
    WITH pos AS (
        SELECT doc_id, unnest(range(1, greatest(length(text) - 6, 2))) AS p,
               text
        FROM documents
    ),
    hashed AS (
        SELECT doc_id, p,
               ('0x' || substring(md5(substring(text, CAST(p AS INT), 8)), 1, 8))::BIGINT
                 * 16777216 + (16777215 - p) AS key
        FROM pos
    ),
    win AS (
        SELECT doc_id,
               min(key) OVER (PARTITION BY doc_id ORDER BY p
                              ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS sel
        FROM hashed
    ),
    fp AS (
        SELECT DISTINCT doc_id, sel // 16777216 AS fhash FROM win
    ),
    kept AS (
        SELECT fhash FROM fp GROUP BY fhash HAVING count(*) <= 50
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS shared
        FROM fp a JOIN fp b USING (fhash) JOIN kept USING (fhash)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, shared,
           CAST(row_number() OVER (ORDER BY shared DESC, doc_a, doc_b) AS INT)
             AS rank
    FROM pairs
    QUALIFY rank <= 20
"""


def _v64_streaming_cms(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min cells maintained by a streaming aggregation
    (streaming/events.py::run_streaming_cms): the frequency twin of
    v54 — constant depth×width state, sum never retracts, drained
    state ≡ the batch sketch cell-for-cell (the oracle replays the
    batch build over event_type)."""
    from lawlm_spark.streaming.events import run_streaming_cms

    return run_streaming_cms(spark, sf, salt="v64")


_V64_ORACLE_SQL = """
    WITH depths AS (SELECT unnest([0, 1, 2, 3]) AS d)
    SELECT d,
           ('0x' || substring(md5(CAST(d AS VARCHAR) || ':v64:' || event_type), 1, 8))::BIGINT
             % 512 AS w,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events, depths
    GROUP BY 1, 2
"""


def _v62_null_semantics(spark: SparkSession, sf: str) -> DataFrame:
    """Null-semantics surface: null-safe equality (Spark `<=>` ==
    DuckDB `IS NOT DISTINCT FROM`) and EXPLICIT null ordering (Spark
    ASC defaults NULLS FIRST, DuckDB NULLS LAST — the pin is the
    point: portable SQL must spell it out).  Nullable columns derived
    via nullif; the display key coalesces so the output itself stays
    null-free for the hash compare."""
    load_table(spark, sf, "events").createOrReplaceTempView("events")
    return spark.sql("""
        WITH n AS (
            SELECT nullif(event_type, 'click') AS a,
                   nullif(event_type, 'view') AS b
            FROM events
        )
        SELECT coalesce(a, '(null)') AS a_disp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN a <=> b THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_null_safe_eq,
               CAST(row_number() OVER (ORDER BY a ASC NULLS FIRST) AS INT)
                 AS null_first_rank
        FROM n GROUP BY a
    """)


_V62_ORACLE_SQL = """
    WITH n AS (
        SELECT nullif(event_type, 'click') AS a,
               nullif(event_type, 'view') AS b
        FROM events
    )
    SELECT coalesce(a, '(null)') AS a_disp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN a IS NOT DISTINCT FROM b THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_safe_eq,
           CAST(row_number() OVER (ORDER BY a ASC NULLS FIRST) AS INT)
             AS null_first_rank
    FROM n GROUP BY a
"""


def _v58_debounce(spark: SparkSession, sf: str) -> DataFrame:
    """Leading-edge debounce (operators/timeseries.py::debounce): per
    (user, event_type), drop events whose raw predecessor is within 12
    hours — bursts collapse to their opener (~21% of rows drop at the
    shipped SFs, so the drop path is load-bearing, not a corner).
    lag(1) window on epoch micros; oracle replays it verbatim."""
    from lawlm_spark.operators.timeseries import debounce
    from lawlm_spark.streaming.events import normalize_event_time

    ev = normalize_event_time(load_table(spark, sf, "events"))
    out = debounce(ev, ["user_id", "event_type"], gap_us=43_200_000_000)
    return out.select(
        "user_id", "event_type", "event_id", F.unix_micros("ts").alias("us")
    )


_V58_ORACLE_SQL = """
    WITH ev AS (
        SELECT user_id, event_type, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
    ),
    l AS (
        SELECT user_id, event_type, event_id, us,
               lag(us) OVER (PARTITION BY user_id, event_type
                             ORDER BY us, event_id) AS prev_us
        FROM ev
    )
    SELECT user_id, event_type, event_id, us
    FROM l WHERE prev_us IS NULL OR us - prev_us > 43200000000
"""


def _d65_feature_hash(spark: SparkSession, sf: str) -> DataFrame:
    """The hashing trick (functions/vectors.py::hashed_features):
    vocabulary-free signed sparse features over document tokens — pure
    codegen extraction, exact integer weights."""
    from lawlm_spark.functions.vectors import hashed_features

    docs = load_table(spark, sf, "documents")
    return hashed_features(docs, "doc_id", "text", dim=256, salt="d65")


_D65_ORACLE_SQL = """
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               (('0x' || substring(md5('d65:' || tok), 1, 8))::BIGINT % 256)::INT
                 AS idx,
               CASE WHEN ('0x' || substring(md5('d65:' || tok), 9, 1))::INT % 2 = 0
                    THEN 1 ELSE -1 END AS s
        FROM toks
    )
    SELECT doc_id, idx, CAST(sum(s) AS BIGINT) AS weight
    FROM h GROUP BY doc_id, idx
"""


def _d64_join_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    """Join-size estimation from sketches (operators/sketches.py::
    cms_inner_product): |orders ⋈ lineitem on orderkey| estimated from
    two constant-size CMS sketches — the optimizer-statistics use of
    the sketch family — next to the exact join count.  Integer
    arithmetic throughout; decimal products (corpus-sized cell counts
    overflow BIGINT when multiplied)."""
    from lawlm_spark.operators.sketches import cms_build, cms_inner_product

    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    ca = cms_build(orders, "o_orderkey", depth=4, width=2048, salt="d64")
    cb = cms_build(li, "l_orderkey", depth=4, width=2048, salt="d64")
    est = cms_inner_product(ca, cb)
    exact = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .agg(F.count(F.lit(1)).alias("exact_join_size"))
    )
    return est.crossJoin(exact)


_D64_ORACLE_SQL = """
    WITH depths AS (SELECT unnest([0, 1, 2, 3]) AS d),
    ca AS (
        SELECT d,
               ('0x' || substring(md5(CAST(d AS VARCHAR) || ':d64:'
                                      || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
                 % 2048 AS w,
               CAST(count(*) AS BIGINT) AS cnt
        FROM orders, depths GROUP BY 1, 2
    ),
    cb AS (
        SELECT d,
               ('0x' || substring(md5(CAST(d AS VARCHAR) || ':d64:'
                                      || CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT
                 % 2048 AS w,
               CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem, depths GROUP BY 1, 2
    ),
    ip AS (
        SELECT ca.d, sum(CAST(ca.cnt AS HUGEINT) * cb.cnt) AS v
        FROM ca JOIN cb ON ca.d = cb.d AND ca.w = cb.w
        GROUP BY ca.d
    )
    SELECT CAST((SELECT min(v) FROM ip) AS BIGINT) AS est_join_size,
           (SELECT CAST(count(*) AS BIGINT)
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
             AS exact_join_size
"""


def _r8_sq8_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 scalar quantization ANN (operators/sq.py): per-vector
    symmetric SQ8 encode (map-only) + scaled INTEGER dot-product top-5
    for the 3 lowest-id queries.  Unlike PQ, the construction needs no
    seed trick to hash-certify — the integer dot is exact in any order
    and the scaling is an exact-input IEEE chain, so the DuckDB oracle
    replays encode AND scoring verbatim."""
    from lawlm_spark.operators.sq import sq8_encode, sq8_topk

    vecs = load_table(spark, sf, "embeddings")
    enc = sq8_encode(vecs)
    qenc = (
        sq8_encode(
            vecs.orderBy("vec_id")
            .limit(3)
            .select(F.col("vec_id").alias("qid"), "embedding"),
            id_col="qid",
        )
    )
    return sq8_topk(enc, qenc, k=5)


_R8_SQ8_ORACLE = """
    WITH em AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    enc AS (
        SELECT vec_id,
               list_max(list_transform(v, x -> abs(x))) / 127.0e0 AS scale,
               v
        FROM em
    ),
    codes AS (
        SELECT vec_id, scale,
               CASE WHEN scale = 0
                    THEN list_transform(v, x -> 0)
                    ELSE list_transform(v, x ->
                        CAST(greatest(-127.0e0,
                                      least(127.0e0, round(x / scale))) AS INT))
               END AS c
        FROM enc
    ),
    q AS (
        SELECT vec_id AS qid, scale AS qs, c AS qc FROM codes
        WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 3)
    ),
    scored AS (
        SELECT q.qid, d.vec_id,
               round(d.scale * q.qs
                     * CAST(list_sum(list_transform(generate_series(1, 64),
                           i -> d.c[i] * q.qc[i])) AS DOUBLE), 6) AS score
        FROM codes d, q
    )
    SELECT qid, vec_id, score,
           CAST(row_number() OVER (PARTITION BY qid
                                   ORDER BY score DESC, vec_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5
"""


def _d71_pack_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Packing manifests (operators/packing.py::pack_manifest): one row
    per bin with the ordered (offset, doc, length) segment list — the
    artifact a training loader consumes (segment boundaries ARE the
    attention-mask spans).  The certified row stringifies the segment
    array ('off:doc:len|...') so both engines compare text rather than
    engine-local struct renderings; the operator itself returns real
    structs."""
    from lawlm_spark.operators.packing import pack_documents, pack_manifest

    docs = load_table(spark, sf, "documents")
    packed = pack_documents(docs, budget=512)
    m = pack_manifest(packed)
    seg_str = F.array_join(
        F.transform(
            F.col("segments"),
            lambda s: F.concat_ws(
                ":",
                s["offset"].cast("string"),
                s["doc"].cast("string"),
                s["length"].cast("string"),
            ),
        ),
        "|",
    )
    return m.select(
        "bin_id", "n_docs", "bin_tokens", seg_str.alias("segments_str")
    )


_D71_ORACLE_SQL = """
    WITH t AS (
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS tok_before
        FROM t
    ),
    p AS (
        SELECT doc_id, n_tokens,
               CAST(tok_before // 512 AS INTEGER) AS bin_id,
               CAST(tok_before % 512 AS BIGINT) AS offset_in_bin
        FROM c
    )
    SELECT bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           string_agg(CAST(offset_in_bin AS VARCHAR) || ':'
                      || CAST(doc_id AS VARCHAR) || ':'
                      || CAST(n_tokens AS VARCHAR), '|'
                      ORDER BY offset_in_bin, doc_id, n_tokens) AS segments_str
    FROM p GROUP BY bin_id
"""


def _d70_retrieval_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieval evaluation (operators/evaluation.py): recall@10 / MRR
    / nDCG of the SQ8 ranking (r8) scored against exact-dot top-3
    ground truth — the metrics operator certified END TO END, and the
    numbers themselves quantify SQ8's quantization loss."""
    from lawlm_spark.operators.evaluation import retrieval_metrics
    from lawlm_spark.operators.sq import sq8_encode, sq8_topk

    from lawlm_spark.session import lineage_cut

    vecs = load_table(spark, sf, "embeddings")
    # the SQ8 code table is the materialized index (the IVF/PQ
    # argument); queries are 3 rows — cuts keep the metric joins from
    # replaying the encode per consumer (6 FileScans in the r8 audit)
    enc = lineage_cut(sq8_encode(vecs))
    q_raw = lineage_cut(
        vecs.orderBy("vec_id")
        .limit(3)
        .select(F.col("vec_id").alias("qid"), "embedding"),
    )
    system = sq8_topk(enc, sq8_encode(q_raw, id_col="qid"), k=10)
    dot = F.aggregate(
        F.zip_with(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            F.transform(F.col("_qv"), lambda x: x.cast("double")),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = vecs.crossJoin(
        F.broadcast(q_raw.select("qid", F.col("embedding").alias("_qv")))
    ).select("qid", "vec_id", F.round(dot, 6).alias("_dot"))
    labels = lineage_cut(
        top_k(scored, ["qid"], F.col("_dot").desc(), 3, tiebreak=["vec_id"])
    )
    return retrieval_metrics(
        system, labels, qid_col="qid", doc_col="vec_id", rank_col="rank", k=10
    )


_D70_ORACLE_SQL = """
    WITH em AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    enc AS (
        SELECT vec_id,
               list_max(list_transform(v, x -> abs(x))) / 127.0e0 AS scale, v
        FROM em
    ),
    codes AS (
        SELECT vec_id, scale,
               CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
                    ELSE list_transform(v, x ->
                        CAST(greatest(-127.0e0,
                                      least(127.0e0, round(x / scale))) AS INT))
               END AS c
        FROM enc
    ),
    q AS (
        SELECT vec_id AS qid, scale AS qs, c AS qc FROM codes
        WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 3)
    ),
    system AS (
        SELECT qid, vec_id, rank FROM (
            SELECT q.qid, d.vec_id,
                   round(d.scale * q.qs
                         * CAST(list_sum(list_transform(generate_series(1, 64),
                               i -> d.c[i] * q.qc[i])) AS DOUBLE), 6) AS score,
                   row_number() OVER (PARTITION BY q.qid
                                      ORDER BY (d.scale * q.qs
                         * CAST(list_sum(list_transform(generate_series(1, 64),
                               i -> d.c[i] * q.qc[i])) AS DOUBLE)) DESC, d.vec_id)
                     AS rank
            FROM codes d, q
        ) WHERE rank <= 10
    ),
    qv AS (
        SELECT vec_id AS qid, v AS qvec FROM em
        WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 3)
    ),
    lab AS (
        SELECT qid, vec_id FROM (
            SELECT qv.qid, e.vec_id,
                   round(list_sum(list_transform(generate_series(1, 64),
                         i -> e.v[i] * qv.qvec[i])), 6) AS d,
                   row_number() OVER (PARTITION BY qv.qid
                                      ORDER BY round(list_sum(list_transform(
                                          generate_series(1, 64),
                                          i -> e.v[i] * qv.qvec[i])), 6) DESC,
                                               e.vec_id) AS rn
            FROM em e, qv
        ) WHERE rn <= 3
    ),
    nrel AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_relevant FROM lab GROUP BY qid),
    hits AS (
        SELECT s.qid, s.rank FROM system s
        JOIN lab l ON s.qid = l.qid AND s.vec_id = l.vec_id
    ),
    perq AS (
        SELECT qid, CAST(count(*) AS BIGINT) AS n_hit,
               min(rank) AS fr,
               sum(1.0e0 / log2(rank + 1.0e0)) AS dcg
        FROM hits GROUP BY qid
    )
    SELECT n.qid, n.n_relevant,
           CAST(coalesce(p.n_hit, 0) AS BIGINT) AS n_hit,
           round(coalesce(p.n_hit, 0) / CAST(n.n_relevant AS DOUBLE), 6)
             AS recall_at_k,
           round(coalesce(1.0e0 / p.fr, 0.0e0), 6) AS mrr,
           round(coalesce(p.dcg, 0.0e0), 6) AS dcg,
           round(list_sum(list_transform(
                 generate_series(1, least(10, n.n_relevant)::INT),
                 i -> 1.0e0 / log2(i + 1.0e0))), 6) AS idcg,
           round(coalesce(p.dcg, 0.0e0)
                 / list_sum(list_transform(
                       generate_series(1, least(10, n.n_relevant)::INT),
                       i -> 1.0e0 / log2(i + 1.0e0))), 6) AS ndcg
    FROM nrel n LEFT JOIN perq p ON n.qid = p.qid
"""


def _d63_association_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association rules (operators/association.py): top
    20 part pairs by lift over order baskets, min pair support 3 —
    support/confidence/lift from three integer counts, exact cross-
    engine.  The statistical layer over the same co-occurrence data
    d51 analyzes structurally."""
    from lawlm_spark.operators.association import association_rules

    li = load_table(spark, sf, "lineitem")
    return association_rules(
        li, "l_orderkey", "l_partkey", min_pair_support=3, k=20
    )


_D63_ORACLE_SQL = """
    WITH b AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
    ),
    n AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n_baskets FROM b),
    ic AS (SELECT it, CAST(count(*) AS BIGINT) AS ci FROM b GROUP BY it),
    p AS (
        SELECT x.it AS a, y.it AS c, CAST(count(*) AS BIGINT) AS n_both
        FROM b x JOIN b y ON x.bk = y.bk AND x.it != y.it
        GROUP BY 1, 2
        HAVING count(*) >= 3
    ),
    scored AS (
        SELECT p.a AS antecedent, p.c AS consequent, p.n_both,
               ca.ci AS n_ante, cc.ci AS n_cons,
               round(p.n_both / CAST(ca.ci AS DOUBLE), 6) AS confidence,
               round(CAST(p.n_both AS DOUBLE) * n.n_baskets
                     / (CAST(ca.ci AS DOUBLE) * cc.ci), 6) AS lift
        FROM p JOIN ic ca ON p.a = ca.it JOIN ic cc ON p.c = cc.it, n
    )
    SELECT antecedent, consequent, n_both, n_ante, n_cons, confidence, lift,
           CAST(row_number() OVER (ORDER BY lift DESC, antecedent, consequent)
                AS INT) AS rank
    FROM scored
    QUALIFY rank <= 20
"""


_D61_RULES = [
    ("quantity_in_range", "l_quantity BETWEEN 1 AND 50"),
    ("discount_in_range", "l_discount BETWEEN 0.0 AND 0.1"),
    ("positive_price", "l_extendedprice > 0"),
    ("shipdate_present", "l_shipdate IS NOT NULL"),
    ("low_tax", "l_tax <= 0.05"),
    ("flag_domain", "l_returnflag IN ('A', 'N', 'R')"),
]


def _d61_expectations(spark: SparkSession, sf: str) -> DataFrame:
    """Declarative data validation (operators/quality.py::
    check_expectations): six rules over lineitem as conditional sums in
    ONE aggregate over ONE scan — violation = predicate not satisfied,
    NULL included (strict reading, coalesce(pred, false))."""
    from lawlm_spark.operators.quality import check_expectations

    return check_expectations(load_table(spark, sf, "lineitem"), _D61_RULES)


def _d61_oracle_sql() -> str:
    parts = []
    for name, pred in _D61_RULES:
        parts.append(f"""
            SELECT '{name}' AS rule,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN NOT coalesce({pred}, false)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
                   round(sum(CASE WHEN NOT coalesce({pred}, false)
                             THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 6) AS violation_rate
            FROM lineitem""")
    return " UNION ALL ".join(parts)


def _d62_zscore_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group z-score outliers (operators/quality.py::
    zscore_outliers): integer milli-unit moments make count/sum/
    sum-of-squares exact BIGINT/decimal aggregates; the variance and
    z derive from exact inputs in one IEEE expression both engines
    compute identically."""
    from lawlm_spark.operators.quality import zscore_outliers

    ev = load_table(spark, sf, "events")
    return zscore_outliers(
        ev,
        "event_type",
        F.round(F.col("value") * 100).cast("long"),
        "event_id",
        threshold=3.0,
    )


_D62_ORACLE_SQL = """
    WITH v AS (
        SELECT event_type, event_id,
               CAST(round(value * 100) AS BIGINT) AS value_milli
        FROM events
    ),
    s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(value_milli) AS BIGINT) AS s,
               sum(CAST(value_milli AS HUGEINT) * value_milli) AS ss
        FROM v GROUP BY event_type
    )
    SELECT v.event_type, v.event_id, v.value_milli,
           round((CAST(v.value_milli AS DOUBLE)
                  - CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE))
                 / sqrt((CAST(s.ss AS DOUBLE)
                         - CAST(s.s AS DOUBLE) * CAST(s.s AS DOUBLE)
                           / CAST(s.n AS DOUBLE))
                        / CAST(s.n AS DOUBLE)), 6) + 0.0e0 AS z,
           abs(round((CAST(v.value_milli AS DOUBLE)
                      - CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE))
                     / sqrt((CAST(s.ss AS DOUBLE)
                             - CAST(s.s AS DOUBLE) * CAST(s.s AS DOUBLE)
                               / CAST(s.n AS DOUBLE))
                            / CAST(s.n AS DOUBLE)), 6)) > 3.0 AS is_outlier
    FROM v JOIN s ON v.event_type = s.event_type
"""


def _v57_windowed_hll(spark: SparkSession, sf: str) -> DataFrame:
    """Per-window streaming HLL (streaming/events.py::
    run_streaming_windowed_hll): daily distinct-user registers
    maintained by a streaming window aggregate — sketch-sized state per
    window.  Window start emitted as epoch micros; oracle replays the
    batch construction over epoch-aligned day buckets."""
    from lawlm_spark.streaming.events import run_streaming_windowed_hll

    return run_streaming_windowed_hll(spark, sf, width="1 day", salt="v57")


_V57_ORACLE_SQL = """
    WITH h AS (
        SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) * 86400000000
                 AS win_us,
               ('0x' || substring(md5('v57:' || CAST(user_id AS VARCHAR)), 1, 2))::INT AS bucket,
               ('0x' || substring(md5('v57:' || CAST(user_id AS VARCHAR)), 3, 14))::BIGINT AS v
        FROM events
    )
    SELECT win_us, bucket,
           CAST(max(CASE WHEN v = 0 THEN 57 ELSE 57 - length(bin(v)) END) AS INT) AS rho
    FROM h GROUP BY win_us, bucket
"""


def _d60_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Hot-key diagnostic (operators/skew.py::skew_report): the 10
    hottest order keys in lineitem with row share — the planning probe
    that decides when salted_aggregate/salted_join (d14,
    r5_salted_join) are worth their extra shuffle."""
    from lawlm_spark.operators.skew import skew_report

    return skew_report(load_table(spark, sf, "lineitem"), "l_orderkey", k=10)


_D60_ORACLE_SQL = """
    WITH c AS (
        SELECT l_orderkey, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY l_orderkey
    ),
    t AS (SELECT sum(cnt) AS total FROM c)
    SELECT l_orderkey, cnt,
           round(cnt / CAST(t.total AS DOUBLE), 6) AS share,
           CAST(row_number() OVER (ORDER BY cnt DESC, l_orderkey) AS INT) AS rank
    FROM c, t
    QUALIFY rank <= 10
"""


_V56_Q17_SQL = """
    -- 7.0e0: the exponent form is a DOUBLE literal on BOTH engines
    -- (bare 7.0 parses as DECIMAL in Spark -> Decimal output type)
    SELECT round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) / 7.0e0, 6)
             AS avg_yearly_cents,
           CAST(count(*) AS BIGINT) AS n_small_orders
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#19'
      AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
"""


def _v56_tpch_q17(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): a correlated
    scalar AVG subquery per join row — Catalyst rewrites it to an
    aggregate + re-join (the classic decorrelation), DuckDB runs its
    own; IDENTICAL SQL text on both engines (v44/v50 pattern).
    Revenue sums integer cents (double sums are shuffle-order-
    dependent); the quantity AVG is safe uncast because quantities are
    small integers in doubles — exact sums at any order."""
    for t in ("lineitem", "part"):
        load_table(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(_V56_Q17_SQL)


def _d59_incremental_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/relational.py::
    agg_state/merge_agg_states): the per-event-type rollup built from
    THREE per-batch states folded pairwise — the materialized-view
    delta path — plus derived avg.  Value in milli-units (round(v*100):
    integer sums are shuffle-order-proof, double sums are not).  The
    oracle aggregates the whole table directly: hash equality == the
    incremental fold is lossless."""
    from lawlm_spark.operators.relational import agg_state, merge_agg_states

    ev = load_table(spark, sf, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("v_milli"),
    )
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    state = agg_state(batches[0], ["event_type"], F.col("v_milli"))
    for b in batches[1:]:
        state = merge_agg_states(
            state, agg_state(b, ["event_type"], F.col("v_milli")), ["event_type"]
        )
    return state.select(
        "event_type", "m_cnt", "m_sum", "m_min", "m_max",
        F.round(F.col("m_sum") / F.col("m_cnt"), 6).alias("m_avg"),
    )


_D59_ORACLE_SQL = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS m_cnt,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m_sum,
           CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m_min,
           CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m_max,
           round(sum(CAST(round(value * 100) AS BIGINT))
                 / CAST(count(*) AS DOUBLE), 6) AS m_avg
    FROM events
    GROUP BY event_type
"""


def _d58_cluster_qa(spark: SparkSession, sf: str) -> DataFrame:
    """Dup-component QA (operators/components.py::component_quality):
    edge density per near-dup component — clique-vs-chain over-merge
    detection.  Pairs from the d15-certified MinHash-LSH config
    (cache-safe via _neardup_pairs_cut); oracle = the recursive
    reachability + per-component edge/node counts."""
    from lawlm_spark.operators.components import component_quality

    corpus = _neardup_corpus(load_table(spark, sf, "documents"))
    pairs = _neardup_pairs_cut(corpus)
    return component_quality(pairs, "id_a", "id_b")


def _d58_oracle_sql() -> str:
    return f"""
        WITH RECURSIVE {_NEARDUP_SQL},
        {_shingle_sql("corpus")},
        {_minhash_sig_sql(8)},
        {_band_sql(8, 4)},
        {_LSH_CAND_SQL},
        {_JACCARD_SQL},
        verified AS (
            SELECT c.id_a, c.id_b
            FROM cand c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
            WHERE j.jaccard >= 0.2
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM verified
            UNION
            SELECT id_b AS src, id_a AS dst FROM verified
        ),
        reach AS (
            SELECT src AS node, src AS lbl FROM edges
            UNION
            SELECT e.dst AS node, r.lbl AS lbl
            FROM reach r JOIN edges e ON e.src = r.node
        ),
        comp AS (SELECT node, min(lbl) AS component_id FROM reach GROUP BY node),
        ce AS (
            SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
            FROM verified WHERE id_a != id_b
        ),
        pe AS (
            SELECT c.component_id, CAST(count(*) AS BIGINT) AS n_edges
            FROM ce JOIN comp c ON ce.a = c.node GROUP BY c.component_id
        ),
        pn AS (
            SELECT component_id, CAST(count(*) AS BIGINT) AS n_nodes
            FROM comp GROUP BY component_id
        )
        SELECT pn.component_id, pn.n_nodes, pe.n_edges,
               round(pe.n_edges / (pn.n_nodes * (pn.n_nodes - 1) / 2.0), 6)
                 AS density
        FROM pn JOIN pe ON pn.component_id = pe.component_id
    """


def _d55_kmv_intersect(spark: SparkSession, sf: str) -> DataFrame:
    """KMV/theta sketch set algebra (operators/sketches.py): distinct
    click-users ∩ purchase-users estimated from two k=64 hash-sample
    sketches — the set operation HLL structurally cannot do.  Exact
    counts ride along for the error contrast.  At sf0.001 the sketches
    hold fewer than k hashes (exact branch); at sf0.01+ the theta
    estimator branch runs — both engines replay the whole construction."""
    from lawlm_spark.operators.sketches import kmv_intersect_estimate, kmv_sketch

    ev = load_table(spark, sf, "events")
    a = kmv_sketch(ev.filter("event_type = 'click'"), "user_id", 64, salt="d55")
    b = kmv_sketch(ev.filter("event_type = 'purchase'"), "user_id", 64, salt="d55")
    est = kmv_intersect_estimate(a, b, 64)
    flags = (
        ev.filter("event_type IN ('click', 'purchase')")
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias("_c"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("_p"),
        )
    )
    exact = flags.agg(
        F.count(F.lit(1)).alias("exact_union"),
        F.sum((F.col("_c") * F.col("_p"))).cast("long").alias("exact_intersection"),
    )
    return est.crossJoin(exact)


def _d55_oracle_sql() -> str:
    from lawlm_spark.operators.sketches import KMV_HASH_SPACE

    return f"""
        WITH ha AS (
            SELECT DISTINCT ('0x' || substring(md5('d55:' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
            FROM events WHERE event_type = 'click'
        ),
        hb AS (
            SELECT DISTINCT ('0x' || substring(md5('d55:' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
            FROM events WHERE event_type = 'purchase'
        ),
        sa AS (SELECT h FROM ha ORDER BY h LIMIT 64),
        sb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
        su AS (
            SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
            ORDER BY h LIMIT 64
        ),
        kth AS (SELECT max(h) AS kh, CAST(count(*) AS BIGINT) AS n FROM su),
        onb AS (
            SELECT CAST(count(*) AS BIGINT) AS n_both FROM su
            WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)
        ),
        est AS (
            SELECT CASE WHEN k.n < 64 THEN CAST(k.n AS DOUBLE)
                        ELSE 63.0 / ((CAST(k.kh AS DOUBLE) + 1.0) / {KMV_HASH_SPACE!r})
                   END AS eu,
                   CAST(o.n_both AS DOUBLE) / CAST(k.n AS DOUBLE) AS j
            FROM kth k, onb o
        ),
        fl AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
            FROM events WHERE event_type IN ('click', 'purchase')
            GROUP BY user_id
        ),
        ex AS (
            SELECT CAST(count(*) AS BIGINT) AS exact_union,
                   CAST(sum(c * p) AS BIGINT) AS exact_intersection
            FROM fl
        )
        SELECT round(e.eu, 6) AS est_union,
               round(e.j * e.eu, 6) AS est_intersection,
               x.exact_union, x.exact_intersection
        FROM est e, ex x
    """


def _d56_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher rule-based quality gate (operators/quality.py::
    gopher_rules): the Rae et al. 2021 Table-A1 web-text heuristics as
    one pure-codegen projection — per-doc metrics + verdict, every
    ratio from integer counts.  Deviations from the paper (whitespace
    words, engine stopword octet) documented in the operator."""
    from lawlm_spark.operators.quality import gopher_rules

    docs = load_table(spark, sf, "documents")
    return gopher_rules(docs).select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "ellipsis_line_ratio", "bullet_line_ratio", "alpha_word_ratio",
        "stopword_hits", "gopher_pass",
    )


def _gopher_ctes() -> str:
    """CTEs gw/gm mirroring operators/quality.gopher_rules: gm = one row
    per doc with every metric + gopher_pass.  Shared by the d56 oracle
    and d67's dataset card."""
    from lawlm_spark.functions.text import STOPWORDS_EN
    from lawlm_spark.operators.quality import (
        GOPHER_MAX_BULLET_LINE_RATIO,
        GOPHER_MAX_ELLIPSIS_LINE_RATIO,
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_WORD_RATIO,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_STOPWORD_HITS,
        GOPHER_MIN_WORDS,
    )

    stoplist = ", ".join(f"'{s}'" for s in STOPWORDS_EN)
    return f"""gw AS (
            SELECT doc_id, text,
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> length(x) > 0) AS words,
                   list_filter(string_split(text, chr(10)),
                               x -> trim(x) != '') AS lines
            FROM documents
        ),
        gm AS (
            SELECT doc_id, n_words, mean_word_len, symbol_ratio,
                   ellipsis_line_ratio, bullet_line_ratio, alpha_word_ratio,
                   stopword_hits,
                   (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                    AND mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN!r}
                                          AND {GOPHER_MAX_MEAN_WORD_LEN!r}
                    AND symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO!r}
                    AND ellipsis_line_ratio < {GOPHER_MAX_ELLIPSIS_LINE_RATIO!r}
                    AND bullet_line_ratio < {GOPHER_MAX_BULLET_LINE_RATIO!r}
                    AND alpha_word_ratio >= {GOPHER_MIN_ALPHA_WORD_RATIO!r}
                    AND stopword_hits >= {GOPHER_MIN_STOPWORD_HITS}) AS gopher_pass
            FROM (
                SELECT doc_id,
                       CAST(len(words) AS BIGINT) AS n_words,
                       round(list_sum(list_transform(words, x -> length(x)))
                             / CAST(len(words) AS DOUBLE), 6) AS mean_word_len,
                       round((CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
                              + (length(text) - length(replace(text, '...', ''))) / 3)
                             / CAST(greatest(len(words), 1) AS DOUBLE), 6) AS symbol_ratio,
                       round(len(list_filter(lines,
                                 x -> regexp_matches(rtrim(x), '(\\.\\.\\.|…)$')))
                             / CAST(greatest(len(lines), 1) AS DOUBLE), 6)
                           AS ellipsis_line_ratio,
                       round(len(list_filter(lines,
                                 x -> regexp_matches(trim(x), '^[-*•]')))
                             / CAST(greatest(len(lines), 1) AS DOUBLE), 6)
                           AS bullet_line_ratio,
                       round(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))
                             / CAST(greatest(len(words), 1) AS DOUBLE), 6)
                           AS alpha_word_ratio,
                       CAST(len(list_intersect(
                                list_distinct(list_transform(words, x -> lower(x))),
                                [{stoplist}])) AS BIGINT) AS stopword_hits
                FROM gw
            )
        )"""


def _d56_oracle_sql() -> str:
    return f"""
        WITH {_gopher_ctes()}
        SELECT doc_id, n_words, mean_word_len, symbol_ratio,
               ellipsis_line_ratio, bullet_line_ratio, alpha_word_ratio,
               stopword_hits, gopher_pass
        FROM gm
    """


def _d67_dataset_card(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset card (operators/quality.py::dataset_card): the per-
    language corpus documentation artifact — doc counts, exact-dup
    pressure, token mass, Gopher pass rate, composite quality — one
    composed plan over the family's own signals (Datasheets for
    Datasets shape)."""
    from lawlm_spark.operators.quality import dataset_card

    return dataset_card(load_table(spark, sf, "documents"))


def _d67_oracle_sql() -> str:
    return f"""
        WITH {_gopher_ctes()},
        {_features_ctes("documents")},
        j AS (
            SELECT d.lang, d.doc_id, sc.fp, gm.gopher_pass,
                   sc.quality, sc.n_tokens
            FROM documents d
            JOIN gm ON d.doc_id = gm.doc_id
            JOIN f_scored sc ON d.doc_id = sc.doc_id
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dup_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               round(sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS pct_gopher_pass,
               round(avg(quality), 4) AS avg_quality
        FROM j GROUP BY lang
    """


def _d57_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.py::
    mine_hard_negatives): per anchor chunk, the 5 most-similar chunks
    from OTHER documents — the contrastive-training mining step with
    same-group (near-positive) exclusion as a relational plan.  Brute
    retriever = the oracle shape; the rp_lsh over-fetch path is pinned
    in test_similarity.py."""
    from lawlm_spark.operators.similarity import mine_hard_negatives

    docs = load_table(spark, sf, "documents")
    chunks, _ = ingest_documents(docs, chunk_size=256, overlap=32, min_chunk=64)
    corpus = chunks.select("chunk_key", "doc_id", "embedding")
    anchors = (
        chunks.filter(F.col("chunk_index") == 0)
        .orderBy("doc_id")
        .limit(3)
        .select("chunk_key", "doc_id", "embedding")
    )
    return mine_hard_negatives(
        corpus, anchors,
        id_col="chunk_key", vec_col="embedding", group_col="doc_id",
        anchor_id_col="chunk_key", anchor_vec_col="embedding",
        anchor_group_col="doc_id", k=5,
    )


def _d57_oracle_sql() -> str:
    cos = _cos_sql("c.cvec", "a.avec")
    return f"""
        WITH {_chunk_ctes()},
        cemb AS (
            SELECT doc_id, chunk_index, chunk_key,
                   {fake_embedding_oracle_sql("chunk_text", EMB_DIM)} AS cvec
            FROM chunks
        ),
        anch AS (
            SELECT chunk_key AS aid, doc_id AS agrp, cvec AS avec
            FROM cemb WHERE chunk_index = 0
            ORDER BY doc_id LIMIT 3
        ),
        scored AS (
            SELECT a.aid, c.chunk_key, round({cos}, 6) AS cos
            FROM cemb c, anch a
            WHERE c.doc_id != a.agrp
        )
        SELECT aid AS anchor_id, chunk_key, cos,
               CAST(row_number() OVER (PARTITION BY aid
                                       ORDER BY cos DESC, chunk_key) AS INT) AS rank
        FROM scored
        QUALIFY rank <= 5
    """


def _d72_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-driven winsorization (operators/sketches.py::winsorize):
    values clamped at the histogram-sketch p05/p95 per event type, then
    summarized — clamp counts and the winsorized sum in integer
    micro-units (a double sum would be shuffle-order-dependent)."""
    from lawlm_spark.operators.sketches import winsorize

    ev = load_table(spark, sf, "events")
    w = winsorize(ev, "value", 0.0, 500.0, 128, 0.05, 0.95, ["event_type"])
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("clamped_low").cast("long")).alias("n_clamped_low"),
        F.sum(F.col("clamped_high").cast("long")).alias("n_clamped_high"),
        F.sum(
            F.round(F.col("v_wins") * 1_000_000).cast("long")
        ).alias("sum_wins_micro"),
    )


def _d72_oracle_sql() -> str:
    width = 500.0 / 128
    return f"""
        WITH b AS (
            SELECT event_type, value,
                   least(127, greatest(0,
                       CAST(floor((value - 0.0) / {width!r}) AS INT))) AS bin
            FROM events
        ),
        bins AS (
            SELECT event_type, bin, CAST(count(*) AS BIGINT) AS cnt
            FROM b GROUP BY 1, 2
        ),
        cum AS (
            SELECT event_type, bin, cnt,
                   CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin)
                        - cnt AS BIGINT) AS cum_before,
                   CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n_total
            FROM bins
        ),
        probs AS (SELECT unnest([0.05::DOUBLE, 0.95::DOUBLE]) AS p),
        hit AS (
            SELECT c.event_type, p.p,
                   round(0.0 + {width!r} * (c.bin
                       + (CAST(ceil(p.p * c.n_total) AS BIGINT) - c.cum_before)
                         / CAST(c.cnt AS DOUBLE)), 6) AS q
            FROM cum c, probs p
            WHERE c.cum_before < CAST(ceil(p.p * c.n_total) AS BIGINT)
              AND CAST(ceil(p.p * c.n_total) AS BIGINT) <= c.cum_before + c.cnt
        ),
        bounds AS (
            SELECT event_type,
                   max(CASE WHEN p = 0.05 THEN q END) AS qlo,
                   max(CASE WHEN p = 0.95 THEN q END) AS qhi
            FROM hit GROUP BY event_type
        ),
        w AS (
            SELECT e.event_type,
                   greatest(bo.qlo, least(bo.qhi, e.value)) AS vw,
                   e.value < bo.qlo AS cl,
                   e.value > bo.qhi AS ch
            FROM events e JOIN bounds bo ON e.event_type = bo.event_type
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN cl THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_clamped_low,
               CAST(sum(CASE WHEN ch THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_clamped_high,
               CAST(sum(CAST(round(vw * 1000000) AS BIGINT)) AS BIGINT)
                 AS sum_wins_micro
        FROM w GROUP BY event_type
    """


def _v53_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention (operators/timeseries.py::retention_cohorts):
    weekly cohorts by first event, distinct-active per (cohort, offset)
    cell — the classic product-analytics triangle.  Integer week
    arithmetic on epoch micros; retention is one IEEE division."""
    from lawlm_spark.operators.timeseries import retention_cohorts
    from lawlm_spark.streaming.events import normalize_event_time

    ev = normalize_event_time(load_table(spark, sf, "events"))
    return retention_cohorts(ev)


_V53_ORACLE_SQL = """
    WITH w AS (
        SELECT user_id AS u,
               epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS p
        FROM events
    ),
    first AS (SELECT u, min(p) AS cohort_period FROM w GROUP BY u),
    sizes AS (
        SELECT cohort_period, CAST(count(*) AS BIGINT) AS cohort_size
        FROM first GROUP BY cohort_period
    ),
    active AS (
        SELECT f.cohort_period, w.p - f.cohort_period AS period_offset,
               CAST(count(DISTINCT w.u) AS BIGINT) AS active_users
        FROM w JOIN first f ON w.u = f.u
        GROUP BY 1, 2
    )
    SELECT a.cohort_period, a.period_offset, a.active_users, s.cohort_size,
           round(a.active_users / CAST(s.cohort_size AS DOUBLE), 6) AS retention
    FROM active a JOIN sizes s ON a.cohort_period = s.cohort_period
"""


def _d51_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle counting (operators/triangles.py): per-part triangle
    participation in the order co-occurrence graph, top 20.  The engine
    runs the degree-ordered orientation (no hub wedge blowup — module
    docstring); the oracle counts the same triangles with the naive
    id-ordered 3-way join.  Equal integers certify the orientation
    rewrite preserves the count exactly."""
    from lawlm_spark.operators.triangles import triangle_counts

    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .distinct()
    )
    counts = triangle_counts(pairs, "pa", "pb")
    # TakeOrderedAndProject prunes to 20 rows BEFORE the rank window
    # touches anything (the d31/d45 no-1-partition-window discipline):
    # the row_number then runs over 20 rows, not the node table.
    top = counts.orderBy(F.desc("n_triangles"), "node").limit(20)
    return top.withColumn(
        "rank",
        # bounded window: 20-row relation (allowlisted in test_window_hygiene.py)
        F.row_number().over(Window.orderBy(F.desc("n_triangles"), F.col("node"))),
    )


_D51_ORACLE_SQL = """
    WITH e AS (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    t AS (
        SELECT t1.pa AS x, t1.pb AS y, t2.pb AS z
        FROM e t1 JOIN e t2 ON t1.pa = t2.pa AND t1.pb < t2.pb
                  JOIN e t3 ON t3.pa = t1.pb AND t3.pb = t2.pb
    ),
    n AS (SELECT unnest([x, y, z]) AS node FROM t),
    c AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM n GROUP BY node
    )
    SELECT node, n_triangles,
           CAST(row_number() OVER (ORDER BY n_triangles DESC, node) AS INT) AS rank
    FROM c
    QUALIFY rank <= 20
"""


def _d52_bloom_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter scan-side pruning (operators/sketches.py): build the
    filter over BUILDING-segment customers, fold it to a broadcast
    bitmask literal, and prune the orders scan with k shift-and-test
    terms (zero joins, zero shuffles — plan-asserted in
    test_sketches.py).  Emits the one-row audit: probe size, bloom
    passes, true matches, false positives.  No false negatives by
    construction (the pinned Bloom contract).  The `bloom_mask` collect
    is the documented bounded-artifact pattern (≤ num_bits bits, like
    the IVF centroids) — never data-sized."""
    from lawlm_spark.operators.sketches import bloom_bits, bloom_mask, bloom_prune

    build = load_table(spark, sf, "customer").filter("c_mktsegment = 'BUILDING'")
    mask = bloom_mask(
        bloom_bits(build, "c_custkey", num_bits=4096, num_hashes=3, salt="d52"), 4096
    )
    orders = load_table(spark, sf, "orders")
    passed = bloom_prune(orders, "o_custkey", mask, num_hashes=3, salt="d52")
    flagged = (
        orders.join(
            F.broadcast(build.select("c_custkey")),
            orders.o_custkey == F.col("c_custkey"),
            "left",
        )
        .select(
            orders["o_orderkey"],
            orders["o_custkey"],
            F.col("c_custkey").isNotNull().alias("is_true"),
        )
        .join(
            passed.select(F.col("o_orderkey").alias("_pk")).withColumn(
                "_p", F.lit(True)
            ),
            F.col("o_orderkey") == F.col("_pk"),
            "left",
        )
        .select("is_true", F.coalesce("_p", F.lit(False)).alias("is_pass"))
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.col("is_pass").cast("long")).alias("n_pass"),
        F.sum(F.col("is_true").cast("long")).alias("n_true"),
        F.sum((F.col("is_pass") & ~F.col("is_true")).cast("long")).alias(
            "n_false_pos"
        ),
    )


_D52_ORACLE_SQL = """
    WITH build AS (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    depths AS (SELECT unnest([0, 1, 2]) AS d),
    bits AS (
        SELECT DISTINCT
               ('0x' || substring(md5(CAST(d AS VARCHAR) || ':d52:'
                                      || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
                 % 4096 AS bit
        FROM build, depths
    ),
    flags AS (
        SELECT o_orderkey,
               ((SELECT count(*) FROM depths dd
                 WHERE (('0x' || substring(md5(CAST(dd.d AS VARCHAR) || ':d52:'
                                               || CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT
                          % 4096) IN (SELECT bit FROM bits)) = 3) AS is_pass,
               EXISTS (SELECT 1 FROM build b WHERE b.c_custkey = o_custkey) AS is_true
        FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probe,
           CAST(sum(CASE WHEN is_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           CAST(sum(CASE WHEN is_pass AND NOT is_true THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_pos
    FROM flags
"""


def _pagerank_oracle_sql(iterations: int = 6) -> str:
    """DuckDB replay of the integer PageRank update rule with the
    iterations unrolled as chained CTEs (aggregates are not allowed in
    a recursive CTE term, and unrolling keeps every step pure SQL).
    `//` (floor div) matches Spark's `div` because every quantity is
    non-negative."""
    scale = 10**12
    ctes = [
        """edges AS (
            SELECT DISTINCT src, dst FROM (
                SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS src,
                       'c' || CAST(o_custkey AS VARCHAR) AS dst FROM orders
                UNION ALL
                SELECT 'c' || CAST(c_custkey AS VARCHAR),
                       'n' || CAST(c_nationkey AS VARCHAR) FROM customer
                UNION ALL
                SELECT 's' || CAST(s_suppkey AS VARCHAR),
                       'n' || CAST(s_nationkey AS VARCHAR) FROM supplier
                UNION ALL
                SELECT 'n' || CAST(n_nationkey AS VARCHAR),
                       'r' || CAST(n_regionkey AS VARCHAR) FROM nation
            )
        )""",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "outdeg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        f"r0 AS (SELECT node, (SELECT {scale} // n FROM nn) AS rank FROM nodes)",
    ]
    for i in range(iterations):
        ctes.append(
            f"""c{i} AS (
                SELECT e.dst AS node, SUM(r.rank // o.outdeg) AS inflow
                FROM r{i} r JOIN outdeg o ON r.node = o.node
                            JOIN edges e ON e.src = r.node
                GROUP BY e.dst
            )"""
        )
        ctes.append(
            f"""s{i} AS (
                SELECT COALESCE(SUM(r.rank), 0) // (SELECT n FROM nn) AS share
                FROM r{i} r LEFT JOIN outdeg o ON r.node = o.node
                WHERE o.node IS NULL
            )"""
        )
        ctes.append(
            f"""r{i + 1} AS (
                SELECT nodes.node,
                       ( (SELECT 15 * ({scale} // n) FROM nn)
                         + 85 * (COALESCE(c{i}.inflow, 0)
                                 + (SELECT share FROM s{i})) ) // 100 AS rank
                FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node
            )"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        # DuckDB SUM(BIGINT) widens to HUGEINT, which pandas would render
        # as float — the arithmetic is exact either way, so cast back
        + f"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r{iterations}"
    )


_D21_TARGETS = {"en": 2000.0, "fr": 50000.0, "de": 1000.0}
_D21_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _d21_curate_mix_pack(spark: SparkSession, sf: str) -> DataFrame:
    """The full training-data prep pipeline as ONE plan: curate (exact +
    near dedup, quality gate, all langs) -> per-language token-budget mix
    -> deterministic train/val/test split -> per-split token packing
    (bins never mix splits; the cumsum window parallelizes by split).
    Every stage deterministic and layout-stable -> end-to-end hash oracle
    (d12's curation SQL + the d17-19 hash fragments + d16b's partitioned
    cumsum, composed)."""
    from lawlm_spark.session import lineage_cut
    from lawlm_spark.operators.tuning import coalesced_shuffles
    from lawlm_spark.plans.curation import curate_mix_pack

    corpus = _curation_corpus(load_table(spark, sf, "documents"))
    caches: list[DataFrame] = []
    # coalesced_shuffles (r18): same rationale as _d12 — the whole
    # curate->mix->split->pack plan materializes inside this entry and
    # every shuffle is manifest-sized (measured 0.63x; tuning.py).
    with coalesced_shuffles(spark):
        out = curate_mix_pack(
            corpus, targets=_D21_TARGETS, split_weights=_D21_SPLITS, budget=512,
            min_quality=0.5, near_dup_jaccard=0.5, cache_registry=caches,
        )
        # cache_registry pattern (see _d12): the packed manifest is narrow
        # (one row per doc, no text) — materialize, release persists.
        out = lineage_cut(out)
    for c in caches:
        c.unpersist()
    return out


def _r13_rm3_expand(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 pseudo-relevance feedback (operators/bm25.py::
    rm3_expand_topk, r16 surface — Abdul-Jaleel et al. 2004): the top-5
    first-pass documents vote on 8 expansion terms and the final
    ranking interpolates original query and relevance model at
    alpha=0.5.  The retrieval-quality axis the reference's raw-question
    Qdrant query (app.py:139-173) never covers.  Integer-exact: posting
    weights quantize to centis of the certified 4-dp value, and the
    per-query-positive constant alpha_den·|q|·fb_tot multiplies through
    the interpolation, so the oracle replays the identical integer
    arithmetic (no float accumulation-order risk)."""
    from lawlm_spark.operators.bm25 import rm3_expand_topk

    docs = load_table(spark, sf, "documents")
    idx = bm25_index(docs, "doc_id", "text")
    qs = _queries_df(spark)
    return rm3_expand_topk(
        idx, qs, k_fb=5, m_terms=8, alpha_num=5, alpha_den=10, k=10
    )


def _r14_crossenc_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise (cross-encoder-shaped) re-ranking (operators/rerank.py,
    r16 surface): the v9-certified BM25 stage retrieves a top-20
    shortlist per query, then the pair scorer re-orders it — the
    deterministic integer token-overlap relevance here; a real
    CrossEncoder rides the same broadcast-pair plan via the pandas-UDF
    hook (tests/test_rerank_rm3.py).  Completes the certified ladder
    brute → ANN → MaxSim → pairwise re-rank.  The corpus meets only
    its shortlisted rows (BroadcastHashJoin on the doc key)."""
    from lawlm_spark.operators.bm25 import bm25_score_queries
    from lawlm_spark.operators.rerank import pairwise_rerank

    docs = load_table(spark, sf, "documents")
    idx = bm25_index(docs, "doc_id", "text")
    qs = _queries_df(spark)
    s1 = bm25_score_queries(idx, "doc_id", qs, "query_id", "question").select(
        "query_id", "doc_id", F.round("bm25_score", 4).alias("s")
    )
    short = top_k(
        s1, ["query_id"], F.col("s").desc(), 20, tiebreak=["doc_id"]
    ).select("query_id", "doc_id")
    return pairwise_rerank(short, docs, qs, k=10)


def _r15_sdm_proximity(spark: SparkSession, sf: str) -> DataFrame:
    """Sequential-dependence proximity ranking (operators/bm25.py::
    sdm_bigram_topk, r16 surface — Metzler & Croft 2005): BM25 term
    feature + ordered-bigram feature, linearly combined with integer
    weights — the adjacency signal bag-of-words retrieval cannot
    express (an exact "table scan" phrase hit outranks the scattered
    terms).  Integer-exact: centi-quantized certified 4-dp weights for
    the term feature, raw bigram counts for the proximity feature, one
    union-then-aggregate plan (two broadcast corpus branches, one
    keyed exchange + WindowGroupLimit)."""
    from lawlm_spark.operators.bm25 import sdm_bigram_topk

    docs = load_table(spark, sf, "documents")
    idx = bm25_index(docs, "doc_id", "text")
    qs = _queries_df(spark)
    return sdm_bigram_topk(idx, docs, qs, k=10)


def _r16_sdm_window(spark: SparkSession, sf: str) -> DataFrame:
    """Full three-feature sequential dependence (operators/bm25.py::
    sdm_window_topk, r17 surface — VERDICT r16 item 4a): r15's
    term + ordered-bigram features plus the UNORDERED-WINDOW
    co-occurrence feature, completing Metzler & Croft 2005's MRF.
    Adjacent query-term pairs (canonicalized least/greatest, a != b)
    score w_window per position pair within 8 tokens in either order.
    Integer-exact by construction (counts and centi-quantized certified
    weights only); the oracle replays the window count as a positional
    self-join, which equals the operator's per-row element_at lookup
    (no positional self-join ever shuffles on the Spark side)."""
    from lawlm_spark.operators.bm25 import sdm_window_topk

    docs = load_table(spark, sf, "documents")
    idx = bm25_index(docs, "doc_id", "text")
    qs = _queries_df(spark)
    return sdm_window_topk(idx, docs, qs, k=10)


def _r17_rocchio_expand(spark: SparkSession, sf: str) -> DataFrame:
    """Dense pseudo-relevance feedback — Rocchio expansion
    (operators/similarity.py::rocchio_topk, r17 surface — VERDICT r16
    item 4c, the vector-space twin of r13's RM3): the v10-certified
    brute-force pass retrieves 5 feedback neighbors per query, their
    micro-quantized integer centroid re-aims the query
    (q'' = 4·|R|·qm + 3·Σdm — the positive constant multiplied
    through, so q'' is cross-engine IDENTICAL in int64), and the
    corpus re-scores against q'' with the v10 pattern (cosine of
    identical doubles, rounded 6 dp).  alpha/beta defaults ≈ the
    classic 1.0/0.75 SMART weights."""
    from lawlm_spark.operators.similarity import rocchio_topk

    emb = load_table(spark, sf, "embeddings")
    q = _queries_df(spark).select(
        "query_id", fake_embedding(F.col("question"), EMB_DIM).alias("q_vec")
    )
    return rocchio_topk(
        emb, q, "vec_id", "embedding", "query_id", "q_vec",
        k_fb=5, alpha_num=4, beta_num=3, k=10,
    )


def _v80_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Keyed snapshot diff over the CDC time-travel states
    (streaming/cdc.py::snapshot_diff, r16 surface): the v43 change
    fixture lands in TWO seq-ordered batches, the stream retains
    {previous, current} versions, and the entry returns
    diff(previous, current) — the minimal I/U/D change set of the last
    batch.  Oracle identity: both snapshots are latest-op-wins merges
    (the v43-certified fold == global equivalence), diffed with
    null-safe compares."""
    import os
    import tempfile
    import uuid as uuidlib

    from lawlm_spark.streaming import cdc

    target = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").cast("double").alias("bal"),
    )
    orders = load_table(spark, sf, "orders")
    changes = orders.select(
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_custkey") + 1000000)
        .otherwise(F.col("o_custkey"))
        .alias("k"),
        F.concat(F.lit("cdc_"), F.col("o_orderkey")).alias("name"),
        F.col("o_totalprice").cast("double").alias("bal"),
        F.when(F.col("o_orderstatus") == "F", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_orderkey").alias("seq"),
    )
    mx = changes.agg(F.max("seq")).first()[0]
    cut = mx // 2
    parts = [
        changes.filter(F.col("seq") <= cut),
        changes.filter(F.col("seq") > cut),
    ]
    base = os.path.join(tempfile.gettempdir(), f"v80_{uuidlib.uuid4().hex[:8]}")
    landing, state = os.path.join(base, "landing"), os.path.join(base, "state")
    cdc.land_ordered_files(parts, landing)
    cdc.init_snapshot(target, state)
    cdc.stream_apply_changes(
        spark, landing, changes.schema, state, "k", ["seq"], "op",
        checkpoint_dir=os.path.join(base, "ckpt"),
    )
    prev, cur = cdc.list_versions(spark, state)
    return cdc.snapshot_diff(
        cdc.read_version(spark, state, prev),
        cdc.read_version(spark, state, cur),
        ["k"],
    )


def _v81_change_feed(spark: SparkSession, sf: str) -> DataFrame:
    """Streamed change data feed (streaming/cdc.py::
    stream_apply_changes(feed_dir=...) + read_change_feed, r16
    surface): the v80 fixture streamed with the feed armed — per
    micro-batch, the NET I/U/D diff of {pre-merge, post-merge}
    snapshots lands under feed/batch=<id>/ before the pointer swap
    (replay-idempotent in both crash windows, test-pinned).  The
    returned frame is the WHOLE feed (both commits) — the Delta/
    Iceberg CDF contract, format-free; `batch` is a real partition
    column so version-range reads prune (plan-pinned).  Oracle: the
    per-batch latest-op-wins merges diffed pairwise (v0→v1, v1→v2)
    and unioned with their commit ids."""
    import os
    import tempfile
    import uuid as uuidlib

    from lawlm_spark.streaming import cdc

    target = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").cast("double").alias("bal"),
    )
    orders = load_table(spark, sf, "orders")
    changes = orders.select(
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_custkey") + 1000000)
        .otherwise(F.col("o_custkey"))
        .alias("k"),
        F.concat(F.lit("cdc_"), F.col("o_orderkey")).alias("name"),
        F.col("o_totalprice").cast("double").alias("bal"),
        F.when(F.col("o_orderstatus") == "F", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_orderkey").alias("seq"),
    )
    mx = changes.agg(F.max("seq")).first()[0]
    cut = mx // 2
    parts = [
        changes.filter(F.col("seq") <= cut),
        changes.filter(F.col("seq") > cut),
    ]
    base = os.path.join(tempfile.gettempdir(), f"v81_{uuidlib.uuid4().hex[:8]}")
    landing, state = os.path.join(base, "landing"), os.path.join(base, "state")
    cdc.land_ordered_files(parts, landing)
    cdc.init_snapshot(target, state)
    cdc.stream_apply_changes(
        spark, landing, changes.schema, state, "k", ["seq"], "op",
        checkpoint_dir=os.path.join(base, "ckpt"),
        feed_dir=os.path.join(base, "feed"),
    )
    return cdc.read_change_feed(spark, os.path.join(base, "feed"))


def _cdc_mv_fixture(spark: SparkSession, sf: str, prefix: str):
    """Shared v82/v84 fixture (factored by the r17 review — the two
    entries certify the SAME oracle identity, so their change
    generator must stay in exact lockstep): the v81 CDC run with the
    feed armed.  Returns (target, feed_dir, base_dir)."""
    import os
    import tempfile
    import uuid as uuidlib

    from lawlm_spark.streaming import cdc

    target = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").cast("double").alias("bal"),
    )
    orders = load_table(spark, sf, "orders")
    changes = orders.select(
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_custkey") + 1000000)
        .otherwise(F.col("o_custkey"))
        .alias("k"),
        F.concat(F.lit("cdc_"), F.col("o_orderkey")).alias("name"),
        F.col("o_totalprice").cast("double").alias("bal"),
        F.when(F.col("o_orderstatus") == "F", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_orderkey").alias("seq"),
    )
    mx = changes.agg(F.max("seq")).first()[0]
    cut = mx // 2
    parts = [
        changes.filter(F.col("seq") <= cut),
        changes.filter(F.col("seq") > cut),
    ]
    base = os.path.join(
        tempfile.gettempdir(), f"{prefix}_{uuidlib.uuid4().hex[:8]}"
    )
    landing, state_dir = os.path.join(base, "landing"), os.path.join(base, "state")
    feed = os.path.join(base, "feed")
    cdc.land_ordered_files(parts, landing)
    cdc.init_snapshot(target, state_dir)
    cdc.stream_apply_changes(
        spark, landing, changes.schema, state_dir, "k", ["seq"], "op",
        checkpoint_dir=os.path.join(base, "ckpt"), feed_dir=feed,
    )
    return target, feed, base


def _mv_cents(c):
    return F.round(c * 100).cast("long")


def _mv_bucket(c):
    return F.expr(f"CAST(round(({c}) * 100) AS BIGINT) div 100000")


def _v82_incremental_mv(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized-view maintenance over the change data
    feed (operators/relational.py::distributive_state/fold_change_feed
    + streaming/cdc.py::read_change_feed, r17 surface — VERDICT r16
    item 4b, closing the CDC arc producer -> consumer): the v81
    fixture streams with the feed armed, then a per-thousand-dollar-
    bucket (cnt, sum-of-cents) view folds each commit's feed rows —
    read with version bounds, so the read prunes to one batch=<id>
    partition — instead of rescanning snapshots.  Updates retract the
    old row and insert the new one, so bucket MIGRATION (a balance
    update moving a customer between buckets) is exact by
    construction.  Oracle identity: fold(state(S0), feed) ==
    distributive_state(S_final) — the direct aggregate over the final
    latest-op-wins snapshot."""
    from lawlm_spark.operators.relational import (
        distributive_state,
        fold_change_feed,
    )
    from lawlm_spark.streaming import cdc

    target, feed, _base = _cdc_mv_fixture(spark, sf, "v82")
    mv = distributive_state(
        target, {"bucket": _mv_bucket("bal")}, _mv_cents(F.col("bal"))
    )
    for batch in (0, 1):
        rows = cdc.read_change_feed(
            spark, feed, from_version=batch, to_version=batch
        )
        mv = fold_change_feed(
            mv, rows,
            {"bucket": _mv_bucket("bal_old")},
            {"bucket": _mv_bucket("bal_new")},
            _mv_cents(F.col("bal_old")),
            _mv_cents(F.col("bal_new")),
        )
    return mv


def _v84_streaming_mv(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING incremental-MV consumer (streaming/cdc.py::
    stream_fold_mv, r17 surface — the last mile of the CDC arc:
    producer v81 -> batch consumer v82 -> streaming consumer): the
    SAME fixture and view definition as v82 (shared via
    _cdc_mv_fixture — one oracle identity, one change generator), but
    the feed is consumed by an availableNow file stream folding every
    micro-batch into a pointer-swapped persisted MV.  The fold algebra
    is commutative/associative, so the file-to-batch chunking is free
    (test-pinned) and crash replay converges.  Oracle: identical to
    v82's (the direct aggregate over the final snapshot)."""
    import os

    from lawlm_spark.operators.relational import distributive_state
    from lawlm_spark.streaming import cdc

    target, feed, base = _cdc_mv_fixture(spark, sf, "v84")
    mv_dir = os.path.join(base, "mv")
    cdc.init_snapshot(
        distributive_state(
            target, {"bucket": _mv_bucket("bal")}, _mv_cents(F.col("bal"))
        ),
        mv_dir,
    )
    cdc.stream_fold_mv(
        spark, feed,
        "k long, op string, name_old string, name_new string, "
        "bal_old double, bal_new double",
        mv_dir,
        {"bucket": _mv_bucket("bal_old")},
        {"bucket": _mv_bucket("bal_new")},
        _mv_cents(F.col("bal_old")),
        _mv_cents(F.col("bal_new")),
        checkpoint_dir=os.path.join(base, "mv_ckpt"),
    )
    return cdc.current_snapshot(spark, mv_dir)


def _v85_feed_compaction(spark: SparkSession, sf: str) -> DataFrame:
    """Change-feed retention/compaction (streaming/cdc.py::
    compact_change_feed + read_compacted_state, r18 surface — VERDICT
    r17 item 4a, completing the CDF lifecycle): the v82/v84 fixture's
    feed is compacted through commit 0 — batch 0 folds into a durable
    pointer-swapped base state and its batch=0 partition is EXPIRED
    from disk — then the consumer reconstructs the exact MV as
    fold(compacted base, the remaining batch 1).  The fold algebra is
    commutative/associative, so the compaction split point is free:
    fold(base, rest) == fold(initial, full feed) == the direct
    aggregate over the final snapshot (the same certified oracle
    identity as v82/v84; crash windows + full-horizon + idempotence
    pinned in tests/test_cdc.py)."""
    import os

    from lawlm_spark.operators.relational import distributive_state
    from lawlm_spark.streaming import cdc

    target, feed, base = _cdc_mv_fixture(spark, sf, "v85")
    base_dir = os.path.join(base, "compact_base")
    cdc.init_snapshot(
        distributive_state(
            target, {"bucket": _mv_bucket("bal")}, _mv_cents(F.col("bal"))
        ),
        base_dir,
    )
    key_old = {"bucket": _mv_bucket("bal_old")}
    key_new = {"bucket": _mv_bucket("bal_new")}
    cdc.compact_change_feed(
        spark, feed, base_dir, 0, key_old, key_new,
        _mv_cents(F.col("bal_old")), _mv_cents(F.col("bal_new")),
    )
    return cdc.read_compacted_state(
        spark, base_dir, feed, key_old, key_new,
        _mv_cents(F.col("bal_old")), _mv_cents(F.col("bal_new")),
    )


def _r18_rocchio_ann(spark: SparkSession, sf: str) -> DataFrame:
    """Rocchio dense PRF over an ANN first pass (operators/
    similarity.py::rocchio_topk(first_pass=...) composed with
    operators/ivf.py::ivf_topk, r18 surface — VERDICT r17 item 4b:
    closes the dense-PRF 100 TB path, where the feedback set comes
    from the bucketed IVF retriever instead of a brute-force scan).
    Deterministic seed centroids (nlist=8, the r7-certified pattern)
    and a REAL partial probe (nprobe=2 of 8) make the first pass a
    genuine ANN retrieval the oracle replays cell-for-cell: corpus
    assignment is argmax centroid cosine (cell_id tiebreak), probes
    are the query's top-2 cells, feedback is the probed subset's
    6-dp-cosine top-5.  The expansion and re-score are then exactly
    the r17-certified integer-micros Rocchio algebra."""
    from lawlm_spark.operators.ivf import (
        assign_cells,
        ivf_topk,
        seed_ivf_centroids,
    )
    from lawlm_spark.operators.similarity import rocchio_topk

    emb = load_table(spark, sf, "embeddings")
    q = _queries_df(spark).select(
        "query_id", fake_embedding(F.col("question"), EMB_DIM).alias("q_vec")
    )
    cents = seed_ivf_centroids(emb, nlist=8)
    indexed = assign_cells(emb, "vec_id", "embedding", cents)
    fp = ivf_topk(
        indexed, cents, q, "vec_id", "embedding", "query_id", "q_vec",
        k=5, nprobe=2,
    )
    return rocchio_topk(
        emb, q, "vec_id", "embedding", "query_id", "q_vec",
        k_fb=5, alpha_num=4, beta_num=3, k=10, first_pass=fp,
        score_micros=True,
    )


def _r19_bm25f_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25F field-weighted ranking (operators/bm25.py::bm25f_topk,
    r18 surface — VERDICT r17 item 4c; Robertson & Zaragoza 2004):
    per-field length normalization folds BEFORE the tf saturation
    (tf~ = Σ_f w_f·tf_f/B_f, score = Σ_t idf·tf~/(k1+tf~)), with
    b=3/4 multiplied through so every numerator/denominator is an
    exact int64 (4·w_f·S_f·tf_f over S_f + 3·len_f·N) and the
    per-term weight centi-quantizes via the certified
    round(round(x,4)·100) pattern — the per-doc sum is an order-free
    integer.  Pseudo-fields: the corpus has no real title column, so
    the first 8 tokens act as the title (w=2) and the rest as the
    body (w=1) — a deterministic token-position split both engines
    replay exactly (list slicing; rejoining with spaces is
    tokenization-stable for [a-z0-9]+ tokens)."""
    from lawlm_spark.operators.bm25 import bm25f_topk

    docs = (
        load_table(spark, sf, "documents")
        .withColumn("_tl", tokenize(F.col("text")))
        .select(
            "doc_id",
            F.expr("array_join(slice(_tl, 1, 8), ' ')").alias("title"),
            F.expr(
                "array_join(slice(_tl, 9, greatest(size(_tl) - 8, 0)), ' ')"
            ).alias("body"),
        )
    )
    return bm25f_topk(
        docs, _queries_df(spark), "doc_id", "title", "body",
        "query_id", "question", w_title=2, w_body=1, k=10,
    )


def _session_patterns_df(spark: SparkSession) -> DataFrame:
    """The v86 proximity pattern set (kept in exact lockstep with
    _V86_PATTERNS_VALUES — one definition per engine, same literals)."""
    return local_rows(
        spark,
        [(0, "view", "click"), (1, "click", "purchase"), (2, "error", "view")],
        "query_id long, a string, b string",
    )


_V86_PATTERNS_VALUES = (
    "(VALUES (0, 'view', 'click'), (1, 'click', 'purchase'), "
    "(2, 'error', 'view')) p(query_id, a, b)"
)


def _v86_session_proximity(spark: SparkSession, sf: str) -> DataFrame:
    """Session-windowed streaming proximity (streaming/events.py::
    run_streaming_session_sequences + session_bigram_topk, r18 surface
    — VERDICT r17 item 4d: the streaming twin of the r15/r16 batch
    proximity features, with the SESSION as the document and its
    time-ordered events as the terms).  The sequences come out of a
    REAL streaming query (watermark + append + the v34 sentinel
    punctuation); ordered-adjacency counts per pattern are pure
    integers, so the ranking is cross-engine exact.  Oracle: the
    certified v18 gaps-and-islands sessionization + list(... ORDER BY
    ts, event_id) + a positional adjacency filter."""
    from lawlm_spark.streaming.events import (
        run_streaming_session_sequences,
        session_bigram_topk,
    )

    sessions = run_streaming_session_sequences(spark, sf)
    return session_bigram_topk(sessions, _session_patterns_df(spark), k=10)


_V87_TIER_VALUES = (
    "(VALUES (0, 'tier_0'), (1, 'tier_1'), (2, 'tier_2'), (3, 'tier_3'), "
    "(4, 'tier_4'), (5, 'tier_5'), (6, 'tier_6'), (7, 'tier_7')) "
    "d(tier_id, tier_name)"
)


def _v87_tier_dim(spark: SparkSession) -> DataFrame:
    """The v87 tier dimension (lockstep with _V87_TIER_VALUES)."""
    return local_rows(
        spark, [(i, f"tier_{i}") for i in range(8)], "tier_id long, tier_name string"
    )


def _v87_tier_expr(bal_col: str):
    """Canonical tier key: the v82 cents bucket folded into 8 tiers.
    % is remainder (sign of dividend) in BOTH engines and div/`//`
    both truncate toward zero (r17-verified on negatives), so the
    ((x % 8) + 8) % 8 canonicalization is cross-engine exact for
    negative balances too."""
    bucket = F.expr(
        f"CAST(round(({bal_col}) * 100) AS BIGINT) div 100000"
    )
    return ((bucket % 8) + 8) % 8


def _v87_enriched_mv(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental ENRICHED-view maintenance — the join half of IVM
    (operators/relational.py::enrich_changes + merge_changes, r18
    surface; v82's fold covers the aggregate half): the v81 CDC feed
    keeps a dimension-joined snapshot fresh by joining each batch's
    I/U rows to the broadcast tier dim on the NEW derived key (a
    balance update that crosses a tier boundary re-enriches — the
    migration case), then merging the enriched batch into the view.
    The snapshot is NEVER re-joined to the dim after the bootstrap.
    Oracle identity: the folded enriched view == the final
    latest-op-wins snapshot joined to the dim directly."""
    import os

    from lawlm_spark.operators.relational import enrich_changes, merge_changes
    from lawlm_spark.streaming import cdc

    target, feed, _base = _cdc_mv_fixture(spark, sf, "v87")
    dim = _v87_tier_dim(spark)
    view = target.join(
        F.broadcast(dim),
        _v87_tier_expr("bal") == F.col("tier_id"),
        "left",
    ).select("k", "name", "bal", "tier_name")
    for batch in (0, 1):
        rows = cdc.read_change_feed(
            spark, feed, from_version=batch, to_version=batch
        ).select(
            "k",
            F.col("name_new").alias("name"),
            F.col("bal_new").alias("bal"),
            "op",
            F.lit(batch).cast("long").alias("seq"),
        )
        enriched = enrich_changes(
            rows, dim, _v87_tier_expr("bal"), "tier_id"
        )
        view = merge_changes(view, enriched, "k", ["seq"])
    return view


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """DICT ORDER IS THE CERTIFICATION WINDOW: the driver checks exactly
    the FIRST 50 entries (observed in CORRECTNESS_r02/r03 — both contain
    the first 50 keys in dict order).  Round 3 inserted new entries
    mid-dict and silently pushed 16 out of certification (VERDICT r3
    item 1).  Policy from round 4 on (rotation ledger: COVERAGE.md):

      1. never-certified and new entries come FIRST,
      2. then entries whose last green row is stale (de-certified),
      3. then a rotating cohort of stable entries — anything with two
         consecutive green rounds can rotate out past position 50, and
         rotates back in so every entry keeps a fresh driver row.

    r18 WINDOW (VERDICT r17 item 1; regenerated at r18 session start
    with `python tools/ledger.py --emit-window` after the driver's
    r17 rows landed — the standing benign drift: the five entries
    certified in r17 (r13_rm3_expand, r14_crossenc_rerank,
    v80_snapshot_diff, v81_change_feed, r15_sdm_proximity) fall out
    of the second-row cohort and the five next-oldest recerts
    (d8_ann_lsh_topk, d9_embedding_dups_lsh, v67/v68/v69 q-shapes)
    enter at the tail): first driver rows for the five r17 registry
    additions (r16_sdm_window, v82_incremental_mv,
    r17_rocchio_expand, v83_scd2_incremental, v84_streaming_mv),
    second rows for the r16-certified trio (r11_maxsim_topk,
    v79_bounded_permute, r12_maxsim_rerank), the full r13-tier drain
    (d61_expectations through d71_pack_manifest — drains the r13
    tier to empty), and the oldest r14-freshest recerts
    (v74_enrichment_ttl through v69_q22_shape).  The post-window
    tail keeps its prior relative order (NEXT_WINDOW in
    tools/precert.py is the canonical list).
    """
    return {
        # ------------- r18 window (positions 1-50) -------------
        # -- first driver rows for the five r17 registry additions --
        "r16_sdm_window": _r16_sdm_window,
        "v82_incremental_mv": _v82_incremental_mv,
        "r17_rocchio_expand": _r17_rocchio_expand,
        "v83_scd2_incremental": _v83_scd2_incremental,
        "v84_streaming_mv": _v84_streaming_mv,
        # -- second rows for the r16-certified trio --
        "r11_maxsim_topk": _r11_maxsim_topk,
        "v79_bounded_permute": _v79_bounded_permute,
        "r12_maxsim_rerank": _r12_maxsim_rerank,
        # -- r13-tier drain + oldest r13-freshest recerts --
        "d61_expectations": _d61_expectations,
        "d62_zscore_outliers": _d62_zscore_outliers,
        "d63_association_rules": _d63_association_rules,
        "d65_feature_hash": _d65_feature_hash,
        "d67_dataset_card": _d67_dataset_card,
        "d68_modularity": _d68_modularity,
        "d71_pack_manifest": _d71_pack_manifest,
        "v74_enrichment_ttl": _v74_enrichment_ttl,
        "v75_nfa_pattern": _v75_nfa_pattern,
        "v45_funnel": _v45_funnel,
        "v48_forward_asof": _v48_forward_asof,
        "v49_unpivot": _v49_unpivot,
        "v50_lateral_topk": _v50_lateral_topk,
        "v51_range_frame": _v51_range_frame,
        "v52_variant": _v52_variant,
        "v53_retention": _v53_retention,
        "v55_asof_tolerance": _v55_asof_tolerance,
        "v59_rank_family": _v59_rank_family,
        "v60_grouping_sets": _v60_grouping_sets,
        "v61_filter_clause": _v61_filter_clause,
        "v62_null_semantics": _v62_null_semantics,
        "v65_not_in_trap": _v65_not_in_trap,
        "v6_tpch_q1": _v6,
        "v23_tpch_q3": _v23_tpch_q3,
        "v25_tpch_q5": _v25_tpch_q5,
        "r3_uuid5_keys": _r3,
        "r1_rag_answer": _r1,
        "o1_rest_pipeline": _o1,
        "v33_streaming_ingest": _v33_streaming_ingest,
        "r4_hybrid_ann": _r4_hybrid_ann,
        "d8b_ann_multiprobe": _d8b,
        "m1_multimodal_features": _m1,
        "v35_cube": _v35_cube,
        "d1_exact_dedup": _d1,
        "d2_minhash_signatures": _d2,
        "d3_lsh_candidates": _d3,
        "d7_embedding_dups": _d7,
        "d8_ann_lsh_topk": _d8,
        "d9_embedding_dups_lsh": _d9,
        "v67_q21_shape": _v67_q21_shape,
        "v68_q20_shape": _v68_q20_shape,
        "v69_q22_shape": _v69_q22_shape,
        # ------------- post-window tail (prior relative order) -------------
        "r13_rm3_expand": _r13_rm3_expand,
        "r14_crossenc_rerank": _r14_crossenc_rerank,
        "v80_snapshot_diff": _v80_snapshot_diff,
        "v81_change_feed": _v81_change_feed,
        "r15_sdm_proximity": _r15_sdm_proximity,
        "r9_weighted_hybrid": _r9_weighted_hybrid,
        "v78_permute_pattern": _v78_permute_pattern,
        "r10_mmr_diversify": _r10_mmr_diversify,
        "d77_pareto_skyline": _d77_pareto_skyline,
        "d78_dsir_select": _d78_dsir_select,
        "d25_decontamination": _d25_decontamination,
        "d31_unigram_nll": _d31_unigram_nll,
        "v73_match_measures": _v73_match_measures,
        "d40_bigram_nll": _d40_bigram_nll,
        "d32_temperature_mix": _d32_temperature_mix,
        "d33_cluster_balance": _d33_cluster_balance,
        "d45_weighted_sample": _d45_weighted_sample,
        "v40_scd2": _v40_scd2,
        "v42_cogroup_asof": _v42_cogroup_asof,
        "v47_gap_fill": _v47_gap_fill,
        "v63_temporal_join": _v63_temporal_join,
        "d29_dup_spans": _d29_dup_spans,
        "d30_dup_span_removal": _d30_dup_span_removal,
        "d36_fuzzy_pairs": _d36_fuzzy_pairs,
        "d42_containment": _d42_containment,
        "d54_prefix_join": _d54_prefix_join,
        "d57_hard_negatives": _d57_hard_negatives,
        "d70_retrieval_metrics": _d70_retrieval_metrics,
        "v54_streaming_hll": _v54_streaming_hll,
        "v57_windowed_hll": _v57_windowed_hll,
        "v58_debounce": _v58_debounce,
        "v64_streaming_cms": _v64_streaming_cms,
        "v39_tpch_q13": _v39_tpch_q13,
        "v56_tpch_q17": _v56_tpch_q17,
        "v66_tpch_q19": _v66_tpch_q19,
        "v44_recursive_cte": _v44_recursive_cte,
        "d69b_equidepth_approx": _d69b_equidepth_approx,
        "d26_domain_cap": _d26_domain_cap,
        "d27_quality_prune": _d27_quality_prune,
        "d28_corpus_report": _d28_corpus_report,
        "d34_jsonl_roundtrip": _d34_jsonl_roundtrip,
        "d35_orc_roundtrip": _d35_orc_roundtrip,
        "d39_zorder": _d39_zorder,
        "d41_bpe_tokens": _d41_bpe_tokens,
        "d44_ngram_novelty": _d44_ngram_novelty,
        "d46_ctfidf_topics": _d46_ctfidf_topics,
        "d47_token_drift": _d47_token_drift,
        "d56_gopher_rules": _d56_gopher_rules,
        "d59_incremental_agg": _d59_incremental_agg,
        "d60_skew_report": _d60_skew_report,
        "v76_bounded_pattern": _v76_bounded_pattern,
        "v77_alternation_pattern": _v77_alternation_pattern,
        "d75_semdedup_capped": _d75_semdedup_capped,
        "d76_lsh_refined": _d76_lsh_refined,
        "d15_components_dedup": _d15,
        "d50_group_split": _d50_group_split,
        "d58_cluster_qa": _d58_cluster_qa,
        "d12_curation": _d12,
        "d43_curate_with_containment": _d43_curate_with_containment,
        "v29_grouped_udaf": _v29_udaf,
        "v30_stream_static_join": _v30_stream_static,
        "v31_stream_stream_join": _v31_stream_stream,
        "v32_streaming_dedup": _v32_stream_dedup,
        "d14_salted_agg": _d14_salted_agg,
        "d4_jaccard_pairs": _d4,
        "d5_minhash_dedup": _d5,
        "d6_simhash": _d6,
        "d17_hash_sample": _d17_hash_sample,
        "d18_hash_split": _d18_hash_split,
        "d19_training_mix": _d19_training_mix,
        "d20_incremental_neardup": _d20_incremental_neardup,
        "d21_curate_mix_pack": _d21_curate_mix_pack,
        "d22_pii_scrub": _d22_pii_scrub,
        "d23_boilerplate": _d23_boilerplate,
        "v37_streaming_neardup": _v37_streaming_neardup,
        "v34_streaming_sessions": _v34_streaming_sessions,
        "v38_stream_outer_join": _v38_stream_outer_join,
        "v41_stateful_timeout": _v41_stateful_timeout,
        "v43_cdc_stream_apply": _v43_cdc_stream_apply,
        "v46_dedup_within_watermark": _v46_dedup_within_watermark,
        "d37_pagerank": _d37_pagerank,
        "r6_pq_adc": _r6_pq_adc,
        "r7_ivfpq": _r7_ivfpq,
        "d38_semdedup": _d38_semdedup,
        "d51_triangles": _d51_triangles,
        "d66_label_prop": _d66_label_prop,
        "r8_sq8_topk": _r8_sq8_topk,
        "d48_hll_distinct": _d48_hll_distinct,
        "d49_cms_heavy_hitters": _d49_cms_heavy_hitters,
        "d52_bloom_prune": _d52_bloom_prune,
        "d53_quantile_hist": _d53_quantile_hist,
        "d55_kmv_intersect": _d55_kmv_intersect,
        "d64_join_cardinality": _d64_join_cardinality,
        "d69_equidepth_bins": _d69_equidepth_bins,
        "d72_winsorize": _d72_winsorize,
        "d73_cms_drift": _d73_cms_drift,
        "d24_repetition": _d24_repetition,
        "d11_token_stats": _d11,
        "v18_session_windows": _v18_sessions,
        "v1_scan_filter_project": _v1,
        "v2_coalesce_provenance": _v2,
        "v3_anti_join": _v3_anti,
        "v3_join_family": _v3_family,
        "v3_semi_join": _v3_semi,
        "v3_outer_join": _v3_outer,
        "v4_distinct_count": _v4_distinct,
        "v4_dup_audit": _v4_dup,
        "v5_latest_by": _v5,
        "v6_rollup": _v6_rollup,
        "v7_topk_window": _v7,
        "v8_rrf_fusion": _v8,
        "v13_set_ops": _v13,
        "v13_set_ops_all": _v13_all,
        "v14_sliding_counts": _v14_sliding,
        "v14_window_counts": _v14_batch,
        "v15_json": _v15_json,
        "v16_scalar_funcs": _v16_scalar_funcs,
        "v17_analytic_window": _v17_analytic_window,
        "o4_full_pipeline": _o4_full_pipeline,
        "d16b_token_packing_sharded": _d16b_sharded,
        "r5_salted_join": _r5_salted_join,
        "v36_stateful_totals": _v36_stateful,
        "r5_ivf_prebuilt": _r5_ivf_prebuilt,
        "d13_ivf_topk": _d13,
        "v9_bm25_map": _v9_map,
        "v9_bm25_index": _v9_index,
        "v9_bm25_topk": _v9_topk,
        "v10_cosine_topk": _v10,
        "v11_regex_extract": _v11_regex,
        "v11_citations": _v11_citations,
        "v12_chunk_keys": _v12,
        "v14_streaming_counts": _v14_stream,
        "v19_asof_join": _v19_asof,
        "v71_match_recognize": _v71_match_recognize,
        "v72_stream_enrichment": _v72_stream_enrichment,
        "v20_udtf_sentences": _v20_udtf,
        "v21_pivot": _v21_pivot,
        "v22_exists_subquery": _v22_exists,
        "v24_range_join": _v24_range_join,
        "v26_scalar_subquery": _v26_scalar_subq,
        "v27_percentiles": _v27_percentiles,
        "v28_query_prefix": _v28_query_prefix,
        "v70_q2_shape": _v70_q2_shape,
        "d74_winnowing": _d74_winnowing,
        "d16_token_packing": _d16,
        "m2_frame_sampling": _m2_frames,
        "m3_resize": _m3_resize,
        "o2_sources_projection": _o2_sources,
        "o3_enhanced_processing": _o3_enhanced,
        "r2_mirror_stats": _r2,
        "d10_text_analytics": _d10,
        # -- r18 registry additions (parked for first driver rows r19) --
        "v85_feed_compaction": _v85_feed_compaction,
        "r18_rocchio_ann": _r18_rocchio_ann,
        "r19_bm25f_topk": _r19_bm25f_topk,
        "v86_session_proximity": _v86_session_proximity,
        "v87_enriched_mv": _v87_enriched_mv,
    }

# ---------------------------------------------------------------------------
# oracle_sql(): DuckDB equivalents (views pre-registered by the driver)


def _clean_sql(expr: str) -> str:
    """DuckDB twin of functions/text.clean_text (strip tags, unescape
    entities with &amp; last, collapse whitespace)."""
    x = f"regexp_replace({expr}, '<[^>]+>', ' ', 'g')"
    for ent, rep in [
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "''"),
        ("&amp;", "&"),
    ]:
        x = f"replace({x}, '{ent}', '{rep}')"
    return rf"trim(regexp_replace({x}, '\s+', ' ', 'g'))"


def _chunk_ctes() -> str:
    """cleaned + chunks CTEs: the ingest_documents chunking contract
    (clean -> 256/224 fixed windows, min doc 50, min chunk 64) — shared
    by the RAG prefix chain and d57's hard-negative oracle."""
    return f"""cleaned AS (
            SELECT doc_id, {_clean_sql("text")} AS ctext FROM documents
        ),
        chunks AS (
            SELECT doc_id,
                   CAST(p // 224 AS INTEGER) AS chunk_index,
                   substring(ctext, p + 1, 256) AS chunk_text,
                   concat_ws('_', doc_id, doc_id, CAST(p // 224 AS INTEGER)) AS chunk_key
            FROM (
                SELECT doc_id, ctext,
                       unnest(generate_series(0, greatest(length(ctext) - 1, 0), 224)) AS p
                FROM cleaned WHERE length(trim(ctext)) >= 50
            )
            WHERE length(substring(ctext, p + 1, 256)) >= 64
        )"""


def _rag_prefix_ctes(weights: tuple[float, float] | None = None) -> str:
    """Shared oracle CTE chain for the RAG composition, through `top3`:
    clean -> chunk -> fake-embed -> BM25 -> dense/sparse prefetch -> RRF
    -> top-3.  r1 appends context/LLM; o2 appends the sources projection.
    weights=(w_dense, w_sparse) switches the fused CTE to weighted RRF
    (the r9_weighted_hybrid oracle); None emits the historical text
    BYTE-IDENTICALLY (pinned by test_entry — the certified unweighted
    oracles must not drift)."""
    cos = _cos_sql("cv.cvec", "qv.qvec")
    if weights is None:
        u_cols_d = u_cols_s = "query_id, chunk_key, rank"
        fused_expr = "sum(1.0::DOUBLE / (60.0::DOUBLE + rank))"
    else:
        wd, ws = (float(weights[0]), float(weights[1]))
        u_cols_d = f"query_id, chunk_key, rank, CAST({wd!r} AS DOUBLE) AS w"
        u_cols_s = f"query_id, chunk_key, rank, CAST({ws!r} AS DOUBLE) AS w"
        fused_expr = "sum(w / (60.0::DOUBLE + rank))"
    return f"""{_chunk_ctes()},
        q AS (SELECT * FROM {_queries_values_sql()}),
        qv AS (SELECT query_id, question,
                      {fake_embedding_oracle_sql("question", EMB_DIM)} AS qvec FROM q),
        qterms AS (
            SELECT query_id,
                   unnest(list_distinct(regexp_extract_all(lower(question), '[a-z0-9]+'))) AS term
            FROM q
        ),
        cemb AS (SELECT chunk_key,
                        {fake_embedding_oracle_sql("chunk_text", EMB_DIM)} AS cvec FROM chunks),
        densetop AS (
            SELECT query_id, chunk_key,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, chunk_key) AS INTEGER) AS rank
            FROM (SELECT qv.query_id, cv.chunk_key, round({cos}, 6) AS cos
                  FROM cemb cv, qv)
            QUALIFY rank <= 15
        ),
        btoks AS (
            SELECT chunk_key, unnest(regexp_extract_all(lower(chunk_text), '[a-z0-9]+')) AS term,
                   len(regexp_extract_all(lower(chunk_text), '[a-z0-9]+')) AS dl
            FROM chunks
        ),
        btf AS (SELECT chunk_key, term, dl, count(*) AS tf FROM btoks GROUP BY chunk_key, term, dl),
        bnd AS (SELECT count(*)::DOUBLE AS n_docs FROM chunks),
        bad AS (SELECT avg(dl) AS avgdl FROM (SELECT DISTINCT chunk_key, dl FROM btf)),
        bidf AS (
            SELECT term, ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf
            FROM (SELECT term, count(*) AS df FROM btf GROUP BY term), bnd
        ),
        posting AS (
            SELECT btf.chunk_key, btf.term,
                   bidf.idf * (btf.tf * 2.2)
                     / (btf.tf + 1.2 * (0.25 + (0.75::DOUBLE * btf.dl) / bad.avgdl)) AS weight
            FROM btf, bad JOIN bidf ON btf.term = bidf.term
        ),
        sparsetop AS (
            SELECT query_id, chunk_key,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY s DESC, chunk_key) AS INTEGER) AS rank
            FROM (SELECT qt.query_id, p.chunk_key, round(sum(p.weight), 6) AS s
                  FROM posting p JOIN qterms qt ON p.term = qt.term
                  GROUP BY qt.query_id, p.chunk_key)
            QUALIFY rank <= 15
        ),
        u AS (SELECT {u_cols_d} FROM densetop
              UNION ALL SELECT {u_cols_s} FROM sparsetop),
        fused AS (
            SELECT query_id, chunk_key,
                   {fused_expr} AS fused_score
            FROM u GROUP BY query_id, chunk_key
        ),
        top3 AS (
            SELECT query_id, chunk_key, fused_score,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY fused_score DESC, chunk_key) AS INTEGER) AS final_rank
            FROM fused WHERE fused_score >= 0.0
            QUALIFY final_rank <= 3
        )"""


def _rag_oracle_sql() -> str:
    """The ENTIRE E1+E2+O34/O20/O35 composition as one DuckDB query."""
    return f"""
        WITH {_rag_prefix_ctes()},
        blocks AS (
            SELECT t.query_id, t.final_rank,
                   printf(e'[%d] %s\n%s', t.final_rank, t.chunk_key,
                          CASE WHEN length(c.chunk_text) > 200
                               THEN substring(c.chunk_text, 1, 200) || '...'
                               ELSE c.chunk_text END) AS block
            FROM top3 t JOIN chunks c ON t.chunk_key = c.chunk_key
        ),
        ctx AS (
            SELECT query_id,
                   substring(string_agg(block, e'\n\n' ORDER BY final_rank), 1, 12000) AS context,
                   count(*) AS n_sources
            FROM blocks GROUP BY query_id
        ),
        final0 AS (
            SELECT q.query_id, q.question,
                   coalesce(ctx.n_sources, 0) AS n_sources,
                   coalesce(ctx.context, '') AS context,
                   printf(e'Question: %s\n\nContext:\n%s\n\nAnswer concisely.',
                          q.question, coalesce(ctx.context, '')) AS prompt
            FROM q LEFT JOIN ctx ON q.query_id = ctx.query_id
        )
        SELECT query_id, question, n_sources, context,
               printf('[fake-llm %s] %s', substring(md5(prompt), 1, 8),
                      substring(prompt, 1, 400)) AS summary
        FROM final0
    """


def _enhanced_values_sql() -> str:
    rows = ", ".join(
        "(CAST(%d AS BIGINT), '%s')" % (i, s.replace("'", "''")) for i, s in ENHANCED_ROWS
    )
    return f"(VALUES {rows}) AS e(row_id, raw)"


# Lookahead-free judge alternation (RE2): equivalent to the engine's
# _JUDGE_PAT on the o3 fixture, which contains no ", J." signatures.
_JUDGE_SQL_PAT = (
    r"(?:(?:Associate |Chief )?Justice|Judge)\s+[A-Z][A-Za-z]+"
    r"|[A-Z][A-Za-z]+,\s+(?:C\.\s*)?J\."
)
_PARTY_SQL_PAT = r"[A-Z][A-Za-z&.,'' ]{0,40}?\s+v\.\s+[A-Z][A-Za-z&.,'' ]{0,40}"
_COURT_SQL_PAT = (
    r"(?:Supreme Court|Court of Appeals|District Court|Circuit Court)"
    r"(?:\s+(?:of|for)\s+[A-Z][A-Za-z ]+)?"
)
_STATUTE_SQL_PAT = r"\d+\s+U\.S\.C\.\s*§+\s*\d+(?:\([a-z0-9]+\))?"


def _citation_values_sql() -> str:
    rows = ", ".join(
        "(CAST(%d AS BIGINT), '%s')" % (i, s.replace("'", "''")) for i, s in CITATION_ROWS
    )
    return f"(VALUES {rows}) AS c(row_id, body)"


_CITE_PATTERNS_SQL = [
    r"\d+\s+U\.S\.\s+\d+",
    r"\d+\s+F\.\s*(?:2d|3d|4th)?\s*\d+",
    r"\d+\s+S\.\s*Ct\.\s+\d+",
    r"\d+\s+[A-Z][a-z]+\.?\s*(?:2d|3d)?\s+\d+",
    r"\d+\s+U\.S\.C\.\s*§+\s*\d+",
]


def _lang_hits_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter(t, x -> list_contains([{markers}], x)))"


def _features_ctes(src: str) -> str:
    """CTEs f_base/f_feats/f_scored computing lang/quality/token features
    over `src(doc_id, text)` — mirrors functions/text.py expressions."""
    stop_markers = ", ".join(f"'{m}'" for m in STOPWORDS_EN)
    return rf"""f_base AS (
        SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM {src}
    ),
    f_feats AS (
        SELECT doc_id, text, t,
               {_lang_hits_sql("en")} AS h_en,
               {_lang_hits_sql("es")} AS h_es,
               {_lang_hits_sql("fr")} AS h_fr,
               {_lang_hits_sql("de")} AS h_de,
               len(regexp_extract_all(text, '[\x{{4e00}}-\x{{9fff}}]'))::DOUBLE AS n_cjk,
               length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE AS n_nospace,
               length(text)::DOUBLE AS n_chars,
               len(t)::DOUBLE AS n_tok,
               len(list_filter(t, x -> list_contains([{stop_markers}], x)))::DOUBLE AS n_stop,
               len(regexp_extract_all(text, '[.!?;:,]'))::DOUBLE AS n_punct
        FROM f_base
    ),
    f_scored AS (
        SELECT doc_id, text,
               greatest(h_en, h_es, h_fr, h_de) AS best,
               h_en, h_es, h_fr, h_de,
               CASE WHEN n_nospace > 0 THEN n_cjk / n_nospace ELSE 0.0::DOUBLE END AS cjk_r,
               round(0.4::DOUBLE * least(n_chars / 500.0::DOUBLE, 1.0::DOUBLE)
                     + 0.2::DOUBLE * (CASE WHEN n_tok > 0 AND n_chars / n_tok >= 3.0
                                            AND n_chars / n_tok <= 10.0
                                           THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END)
                     + 0.2::DOUBLE * least((CASE WHEN n_tok > 0 THEN n_stop / n_tok
                                                 ELSE 0.0::DOUBLE END) * 4.0::DOUBLE, 1.0::DOUBLE)
                     + 0.2::DOUBLE * (CASE WHEN (CASE WHEN n_chars > 0 THEN n_punct / n_chars
                                                      ELSE 0.0::DOUBLE END) <= 0.1::DOUBLE
                                           THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END), 4) AS quality,
               CAST(n_tok AS BIGINT) AS n_tokens,
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        FROM f_feats
    )"""


_LANG_CASE_SQL = " ".join(
    f"WHEN best > 0 AND h_{lang} = best THEN '{lang}'" for lang in ("en", "es", "fr", "de")
)
_LANG_GUESS_SQL = f"CASE WHEN cjk_r >= 0.25 THEN 'zh' {_LANG_CASE_SQL} ELSE 'und' END"


def _uuid5_values_sql() -> str:
    """chunk_key -> uuid5 mapping as a VALUES relation for the r3 oracle.

    DuckDB has no sha1, but uuid5 is a pure function of the key string,
    so the expectation is computed HERE with Python's uuid.uuid5 (RFC
    4122 reference implementation) at oracle-generation time.  Keys are
    gathered from every testdata SF the harness runs oracles at (sf0.001
    for selfcheck, sf0.01 for the driver, sf0.1 for the 10x spot-check
    sweeps added r8); the mapping union is consistent because the value
    depends only on the key.
    """
    import os
    import uuid as _uuidmod

    import duckdb as _duck

    keys: set[str] = set()
    for sfd in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        pq = os.path.join(sfd, "documents.parquet")
        if not os.path.exists(pq):
            continue
        inner = fixed_window_chunks_sql(
            f"read_parquet('{pq}')", "doc_id", "text", 256, 32, 64
        )
        rows = _duck.sql(
            f"SELECT DISTINCT concat_ws('_', doc_id, doc_id, chunk_index) FROM ({inner})"
        ).fetchall()
        keys.update(r[0] for r in rows)
    vals = ",".join(
        f"('{k}','{_uuidmod.uuid5(_uuidmod.NAMESPACE_DNS, k)}')" for k in sorted(keys)
    )
    return f"(VALUES {vals}) AS m(chunk_key, point_id)"


def _hash_uniform_sql(salt: str, key_expr: str) -> str:
    """DuckDB twin of operators/sampling.hash_uniform: same md5 basis,
    and the division by 2^32 is exact in binary -> bit-identical
    doubles on both engines."""
    return (
        f"(('0x' || substring(md5('{salt}:' || cast({key_expr} as varchar)), 1, 8))::BIGINT"
        " / 4294967296.0)"
    )


def _split_case_sql(weights: dict[str, float], salt: str, key_expr: str) -> str:
    """WHEN chain using the SAME cumulative bounds hash_split accumulates
    in Python (0.8 + 0.1 -> 0.9000000000000001): each literal must match
    the Spark plan's double bit-for-bit or a 1-ulp band of keys flips."""
    total = float(sum(weights.values()))
    names = list(weights)
    u = _hash_uniform_sql(salt, key_expr)
    parts, upper = [], 0.0
    for name in names[:-1]:
        upper += weights[name] / total
        parts.append(f"WHEN {u} < {upper!r} THEN '{name}'")
    parts.append(f"ELSE '{names[-1]}'")
    return " ".join(parts)


def _d18_case_sql() -> str:
    return _split_case_sql(_D18_WEIGHTS, "d18", "doc_id")


def _d19_targets_values() -> str:
    return ", ".join(f"('{k}', {v!r})" for k, v in _D19_TARGETS.items())


# v82 and v84 certify the SAME identity (fold == direct aggregate over
# the final latest-op-wins snapshot) — one oracle, referenced twice
# Shared CTE prefix: the v81/v82 change generator + latest-op-wins
# final snapshot (one definition; v82/v84/v85 aggregate it, v87
# dimension-joins it — the r17 one-oracle-identity rule).
_CDC_SNAP_CTES = """
            chg AS (
                SELECT CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 1000000
                            ELSE o_custkey END AS k,
                       'cdc_' || CAST(o_orderkey AS VARCHAR) AS name,
                       CAST(o_totalprice AS DOUBLE) AS bal,
                       CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
                       o_orderkey AS seq
                FROM orders
            ),
            latest AS (
                SELECT * FROM chg
                QUALIFY row_number() OVER (PARTITION BY k ORDER BY seq DESC) = 1
            ),
            t AS (
                SELECT c_custkey AS k, c_name AS name, CAST(c_acctbal AS DOUBLE) AS bal
                FROM customer
            ),
            snap AS (
                SELECT COALESCE(t.k, l.k) AS k,
                       CASE WHEN l.op IS NULL THEN t.name ELSE l.name END AS name,
                       CASE WHEN l.op IS NULL THEN t.bal ELSE l.bal END AS bal
                FROM t FULL OUTER JOIN latest l ON t.k = l.k
                WHERE l.op IS NULL OR l.op <> 'D'
            )
"""

_MV_BUCKET_ORACLE_SQL = f"""
            WITH {_CDC_SNAP_CTES}
            -- fold(state(S0), feed) == the direct aggregate over the
            -- final snapshot: the IVM exactness identity
            SELECT CAST(round(bal * 100) AS BIGINT) // 100000 AS bucket,
                   CAST(count(*) AS BIGINT) AS m_cnt,
                   CAST(sum(CAST(round(bal * 100) AS BIGINT)) AS BIGINT) AS m_sum
            FROM snap GROUP BY bucket
        
        """


def oracle_sql() -> dict[str, str]:
    cite_concat = " || ".join(
        f"regexp_extract_all(body, '{p}')" for p in _CITE_PATTERNS_SQL
    )
    session_counts_sql = """
            WITH flagged AS (
                SELECT user_id, ts, value,
                       -- Spark session windows are [ts, ts+gap): an event
                       -- exactly gap after the last one starts a NEW session
                       CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                 >= INTERVAL 1 HOUR
                            OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                            THEN 1 ELSE 0 END AS new_session
                FROM events
            ),
            numbered AS (
                SELECT user_id, ts, value,
                       sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                              ROWS UNBOUNDED PRECEDING) AS session_id
                FROM flagged
            )
            SELECT user_id, min(ts) AS session_start,
                   count(*) AS n_events, round(CAST(sum(CAST(round(value * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100.0e0, 4) AS total_value
            FROM numbered GROUP BY user_id, session_id
        """
    window_counts_sql = """
        SELECT date_trunc('day', ts) AS window_start, event_type,
               count(*) AS n, round(CAST(sum(CAST(round(value * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100.0e0, 4) AS total_value
        FROM events GROUP BY 1, 2
    """
    emb_bucket = rp_lsh_bucket_sql("embedding", EMB_DIM, 8)
    qvec_bucket = rp_lsh_bucket_sql("qvec", EMB_DIM, 8)
    # d76: the refinement guard's coarse key (2 planes) + the extra
    # planes it appends to oversized buckets (indices 2-4, same family)
    emb_bucket2 = rp_lsh_bucket_sql("embedding", EMB_DIM, 2)
    emb_bucket_extra = rp_lsh_bucket_sql("embedding", EMB_DIM, 3, start=2)

    # d8b: the SHIPPED defaults — derived planes (2 for the 500-vector
    # fixture) + Hamming-1 multiprobe.  Probes = own bucket + each
    # single-bit flip; a vector can match several probes with the same
    # cosine, so DISTINCT mirrors the Spark side's dropDuplicates.
    d8b_planes = 2
    emb_bucket2 = rp_lsh_bucket_sql("embedding", EMB_DIM, d8b_planes)
    qvec_bucket2 = rp_lsh_bucket_sql("qvec", EMB_DIM, d8b_planes)

    def _flip_sql(b: str, i: int, planes: int) -> str:
        flipped = f"CASE WHEN substring({b}, {i}, 1) = '1' THEN '0' ELSE '1' END"
        return (
            f"concat(substring({b}, 1, {i - 1}), {flipped}, "
            f"substring({b}, {i + 1}, {planes - i}))"
        )

    d8b_probes = ", ".join(
        ["bucket"] + [_flip_sql("bucket", i, d8b_planes) for i in range(1, d8b_planes + 1)]
    )

    return {
        "v1_scan_filter_project": """
            SELECT l_orderkey, l_linenumber, l_quantity,
                   round(l_extendedprice * (1 - l_discount), 4) AS revenue,
                   substring(l_returnflag, 1, 1) AS flag
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_quantity > 30
        """,
        "v2_coalesce_provenance": """
            SELECT event_id,
                   coalesce(
                     CASE WHEN event_type = 'click' AND length(trim(props)) > 0 THEN props END,
                     CASE WHEN event_type = 'purchase' AND length(trim(props)) > 0 THEN props END
                   ) AS value,
                   CASE WHEN event_type = 'click' AND length(trim(props)) > 0 THEN 'click_props'
                        WHEN event_type = 'purchase' AND length(trim(props)) > 0 THEN 'purchase_props'
                   END AS source_field
            FROM events
        """,
        "v3_anti_join": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0)
        """,
        "v3_join_family": f"""
            SELECT c_mktsegment, count(*) AS n_rows,
                   {_Q1_SUM_BASE_PRICE} AS sum_price
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY c_mktsegment
        """,
        "v3_semi_join": """
            SELECT c_nationkey, count(*) AS n_cust FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
            GROUP BY c_nationkey
        """,
        "v3_outer_join": f"""
            SELECT c_custkey, count(o_orderkey) AS n_orders,
                   {_TOTAL_SPEND_CENTS} AS total_spend
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        """,
        "v4_distinct_count": """
            SELECT count(DISTINCT o_custkey) AS n_custs, count(*) AS n_orders FROM orders
        """,
        "v4_dup_audit": """
            SELECT l_orderkey, count(*) AS n FROM lineitem
            GROUP BY l_orderkey HAVING count(*) > 1
        """,
        "v5_latest_by": """
            SELECT user_id, event_id AS last_event_id, ts AS last_ts, event_type AS last_type
            FROM events
            QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        """,
        "v6_tpch_q1": _v6_tpch_q1_sql("duckdb"),
        "v6_rollup": """
            SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
                   coalesce(l_linestatus, 'ALL') AS l_linestatus,
                   count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "v35_cube": """
            SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
                   coalesce(l_linestatus, 'ALL') AS l_linestatus,
                   count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "v7_topk_window": """
            SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                   CAST(row_number() OVER (
                       PARTITION BY l_returnflag
                       ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
                   ) AS INTEGER) AS rn
            FROM lineitem QUALIFY rn <= 5
        """,
        "v8_rrf_fusion": """
            WITH a AS (
                SELECT o_orderpriority, o_orderkey,
                       row_number() OVER (PARTITION BY o_orderpriority
                                          ORDER BY o_totalprice DESC, o_orderkey) AS rank
                FROM orders QUALIFY rank <= 20
            ),
            b AS (
                SELECT o_orderpriority, o_orderkey,
                       row_number() OVER (PARTITION BY o_orderpriority
                                          ORDER BY o_orderdate ASC, o_orderkey) AS rank
                FROM orders QUALIFY rank <= 20
            ),
            u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
            f AS (
                SELECT o_orderpriority, o_orderkey,
                       sum(1.0::DOUBLE / (60.0::DOUBLE + rank)) AS fused_score
                FROM u GROUP BY o_orderpriority, o_orderkey
            )
            SELECT o_orderpriority, o_orderkey,
                   round(fused_score, 6) AS fused_score,
                   CAST(row_number() OVER (PARTITION BY o_orderpriority
                                           ORDER BY fused_score DESC, o_orderkey) AS INTEGER) AS final_rank
            FROM f QUALIFY final_rank <= 3
        """,
        "v9_bm25_index": f"""
            WITH {_BM25_BASE_SQL}
            SELECT doc_id, term, round(weight, 4) AS weight FROM posting
        """,
        "v9_bm25_map": f"""
            WITH {_BM25_BASE_SQL}
            SELECT doc_id,
                   CAST(count(*) AS INTEGER) AS n_terms,
                   string_agg(term || ':' || CAST(round(weight * 10000) AS BIGINT), '|'
                              ORDER BY term) AS bm25_fp
            FROM posting GROUP BY doc_id
        """,
        "v9_bm25_topk": f"""
            WITH {_BM25_BASE_SQL},
            scores AS (
                SELECT doc_id, round(sum(weight), 4) AS score FROM posting
                WHERE term IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
                GROUP BY doc_id
            )
            SELECT doc_id, score,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rn
            FROM scores QUALIFY rn <= 10
        """,
        "v10_cosine_topk": f"""
            WITH q AS (SELECT * FROM {_queries_values_sql()}),
            qv AS (SELECT query_id, {fake_embedding_oracle_sql("question", EMB_DIM)} AS qvec FROM q),
            scored AS (
                SELECT query_id, vec_id,
                       round({_cos_sql("embedding", "qvec")}, 6) AS cos
                FROM embeddings, qv
            )
            SELECT query_id, vec_id, cos,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, vec_id) AS INTEGER) AS rn
            FROM scored QUALIFY rn <= 10
        """,
        "r17_rocchio_expand": f"""
            WITH q AS (SELECT * FROM {_queries_values_sql()}),
            qv AS (SELECT query_id, {fake_embedding_oracle_sql("question", EMB_DIM)} AS qvec FROM q),
            fp AS (
                SELECT query_id, vec_id,
                       round({_cos_sql("embedding", "qvec")}, 6) AS cos
                FROM embeddings, qv
                QUALIFY row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, vec_id) <= 5
            ),
            fbe AS (
                SELECT f.query_id, e.embedding
                FROM embeddings e JOIN fp f ON e.vec_id = f.vec_id
            ),
            sums AS (
                SELECT query_id, s.i AS i,
                       CAST(sum(CAST(round(CAST(s.v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sv
                FROM (
                    SELECT query_id,
                           unnest(list_transform(
                               generate_series(1, {EMB_DIM}),
                               i -> {{'i': i, 'v': embedding[i]}})) AS s
                    FROM fbe
                )
                GROUP BY query_id, s.i
            ),
            svec AS (
                SELECT query_id, list(sv ORDER BY i) AS sl
                FROM sums GROUP BY query_id
            ),
            cnt AS (SELECT query_id, count(*) AS c FROM fp GROUP BY query_id),
            -- q'' = alpha·|R|·qm + beta·Σdm in exact int64, cast to
            -- double only for the final certified-pattern cosine
            q2 AS (
                SELECT qv.query_id,
                       list_transform(
                           generate_series(1, {EMB_DIM}),
                           i -> CAST(4 * c * CAST(round(qvec[i] * 1000000) AS BIGINT)
                                     + 3 * sl[i] AS DOUBLE)) AS q2v
                FROM qv
                JOIN svec ON qv.query_id = svec.query_id
                JOIN cnt ON qv.query_id = cnt.query_id
            ),
            scored AS (
                SELECT q2.query_id, vec_id,
                       round({_cos_sql("embedding", "q2v")}, 6) AS rocchio_cos
                FROM embeddings, q2
            )
            SELECT query_id, vec_id, rocchio_cos,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY rocchio_cos DESC, vec_id)
                        AS INTEGER) AS rn
            FROM scored QUALIFY rn <= 10
        """,
        "v28_query_prefix": f"""
            WITH q AS (SELECT * FROM {_queries_values_sql()}),
            qv AS (SELECT query_id,
                          {fake_embedding_oracle_sql("'Represent this query for searching relevant legal passages: ' || question", EMB_DIM)} AS qvec
                   FROM q),
            scored AS (
                SELECT query_id, vec_id,
                       round({_cos_sql("embedding", "qvec")}, 6) AS cos
                FROM embeddings, qv
            )
            SELECT query_id, vec_id, cos,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, vec_id) AS INTEGER) AS rn
            FROM scored QUALIFY rn <= 5
        """,
        "d14_salted_agg": """
            SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY event_type
        """,
        "v29_grouped_udaf": """
            SELECT event_type,
                   round(exp(avg(ln(value))), 4) AS geo_value,
                   count(*) AS n_pos
            FROM events WHERE value > 0 GROUP BY event_type
        """,
        "v11_regex_extract": """
            SELECT doc_id,
                   coalesce(array_to_string(list_sort(list_distinct(
                       regexp_extract_all(text, '(?:scan|join|agg|sort)[a-z]*'))), '|'), '') AS matches,
                   len(regexp_extract_all(text, '(?:scan|join|agg|sort)[a-z]*'))::BIGINT AS n_matches
            FROM documents
        """,
        "v11_citations": f"""
            SELECT row_id, coalesce(array_to_string(list_sort(list_distinct({cite_concat})), '|'), '') AS citations
            FROM {_citation_values_sql()}
        """,
        "v12_chunk_keys": f"""
            WITH {_CHUNKS_SQL}
            SELECT doc_id, chunk_index,
                   concat_ws('_', doc_id, doc_id, chunk_index) AS chunk_key,
                   concat_ws('_', doc_id, chunk_index) AS chunk_id,
                   md5(concat_ws('_', doc_id, doc_id, chunk_index)) AS sid,
                   chunk_text
            FROM chunks
        """,
        "v13_set_ops": """
            SELECT * FROM (
                (SELECT n_nationkey FROM nation WHERE n_regionkey <= 2
                 UNION
                 SELECT n_nationkey FROM nation WHERE n_nationkey % 2 = 0)
                EXCEPT
                (SELECT n_nationkey FROM nation WHERE n_regionkey <= 2
                 INTERSECT
                 SELECT n_nationkey FROM nation WHERE n_nationkey % 2 = 0)
            ) t
        """,
        "v13_set_ops_all": """
            SELECT * FROM (
                SELECT l_orderkey FROM lineitem WHERE l_quantity <= 25
                EXCEPT ALL
                (SELECT l_orderkey FROM lineitem WHERE l_quantity <= 25
                 INTERSECT ALL
                 SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'N')
            ) t
        """,
        "v15_json": """
            SELECT event_id, (props->>'$.k')::BIGINT AS k
            FROM events WHERE (props->>'$.k')::BIGINT > 50
        """,
        "v24_range_join": """
            WITH intervals AS (
                SELECT user_id, event_id AS interval_id,
                       date_trunc('hour', ts) AS start_ts,
                       date_trunc('hour', ts) + INTERVAL 6 HOUR AS end_ts
                FROM events WHERE event_type = 'purchase'
            ),
            clicks AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
            SELECT i.interval_id, count(*) AS n_clicks
            FROM clicks c JOIN intervals i
              ON c.user_id = i.user_id AND c.ts >= i.start_ts AND c.ts < i.end_ts
            GROUP BY i.interval_id
        """,
        "v22_exists_subquery": _V22_EXISTS_SQL,
        "v23_tpch_q3": _v23_tpch_q3_sql("duckdb"),
        "v25_tpch_q5": _v25_tpch_q5_sql("duckdb"),
        "v26_scalar_subquery": _V26_SCALAR_SUBQ_SQL,
        "v27_percentiles": """
            SELECT event_type,
                   round(median(value), 6) AS med,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.1), 6) AS p10,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "m2_frame_sampling": """
            SELECT doc_id,
                   CAST(fi // 4 AS BIGINT) AS frame_index,
                   substring(text, fi * 16 + 1, 16) AS frame_text
            FROM (
                SELECT doc_id, text,
                       unnest(generate_series(0, CAST(strlen(text) // 16 AS INTEGER) - 1, 4)) AS fi
                FROM documents WHERE strlen(text) >= 16
            )
        """,
        "m3_resize": """
            WITH small AS (
                SELECT doc_id,
                       array_to_string(list_transform(
                           generate_series(1, strlen(text), 4),
                           i -> substring(text, CAST(i AS INTEGER), 1)), '') AS resized_text
                FROM documents
            )
            SELECT doc_id, CAST(4 AS BIGINT) AS scale,
                   strlen(resized_text)::BIGINT AS n_bytes,
                   md5(resized_text) AS digest,
                   resized_text
            FROM small
        """,
        "v21_pivot": f"""
            SELECT user_id,
                   {", ".join(f"count(*) FILTER (event_type = '{t}') AS {t}" for t in EVENT_TYPES)}
            FROM events GROUP BY user_id
        """,
        "v16_scalar_funcs": """
            SELECT event_id,
                   date_trunc('hour', ts) AS ts_hour,
                   CAST(year(ts) AS INTEGER) AS y,
                   CAST(month(ts) AS INTEGER) AS m,
                   CAST(day(ts) AS INTEGER) AS d,
                   CAST(hour(ts) AS INTEGER) AS h,
                   round(sqrt(abs(value)), 6) AS sqrt_abs_v,
                   round(exp(value / 100.0::DOUBLE), 6) AS exp_v,
                   round(pow(value, 2.0::DOUBLE), 6) AS v_sq,
                   upper(event_type) AS type_upper,
                   lpad(user_id::VARCHAR, 6, '0') AS uid_pad
            FROM events
        """,
        "v17_analytic_window": """
            SELECT user_id, event_id,
                   round(sum(value) OVER w, 4) AS running_value,
                   coalesce(lag(event_id, 1) OVER w, -1) AS prev_event,
                   coalesce(lead(event_id, 1) OVER w, -1) AS next_event,
                   CAST(row_number() OVER w AS INTEGER) AS seq
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "v14_sliding_counts": """
            WITH w AS (
                SELECT date_trunc('day', ts) AS window_start, event_type FROM events
                UNION ALL
                SELECT date_trunc('day', ts) - INTERVAL 1 DAY AS window_start, event_type FROM events
            )
            SELECT window_start, event_type, count(*) AS n FROM w GROUP BY 1, 2
        """,
        "v14_window_counts": window_counts_sql,
        "v14_streaming_counts": window_counts_sql,
        "v30_stream_static_join": """
            SELECT date_trunc('day', e.ts) AS window_start, c.c_mktsegment,
                   count(*) AS n, round(CAST(sum(CAST(round(e.value * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100.0e0, 4) AS total_value
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY 1, 2
        """,
        "v31_stream_stream_join": """
            SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
                   p.ts AS purchase_ts, c.ts AS click_ts
            FROM events p JOIN events c
              ON p.user_id = c.user_id
             AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
            WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        """,
        "v32_streaming_dedup": """
            SELECT event_id, user_id, event_type FROM events
        """,
        "v38_stream_outer_join": """
            SELECT p.user_id, p.event_id AS purchase_id,
                   coalesce(c.event_id, -1) AS click_id,
                   p.ts AS purchase_ts, c.ts AS click_ts
            FROM events p LEFT JOIN events c
              ON p.user_id = c.user_id AND c.event_type = 'click'
             AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
            WHERE p.event_type = 'purchase'
        """,
        "v18_session_windows": session_counts_sql,
        "v34_streaming_sessions": session_counts_sql,
        "v19_asof_join": """
            SELECT l.user_id, l.purchase_id, l.ts, r.click_id, r.click_value
            FROM (SELECT user_id, event_id AS purchase_id, ts FROM events
                  WHERE event_type = 'purchase') l
            ASOF JOIN (SELECT user_id, event_id AS click_id, value AS click_value, ts
                       FROM events WHERE event_type = 'click') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "v20_udtf_sentences": f"""
            WITH pieces AS (
                SELECT row_id,
                       unnest(regexp_extract_all(body, '[^.!?]+[.!?]*')) AS piece,
                       unnest(generate_series(1, len(regexp_extract_all(body, '[^.!?]+[.!?]*')))) AS ord
                FROM {_citation_values_sql()}
            ),
            offs AS (
                SELECT row_id, piece, ord,
                       coalesce(sum(length(piece)) OVER (
                           PARTITION BY row_id ORDER BY ord
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_len
                FROM pieces
            )
            SELECT row_id,
                   CAST(row_number() OVER (PARTITION BY row_id ORDER BY ord) - 1 AS INTEGER) AS sentence_index,
                   CAST(prior_len + (length(piece) - length(ltrim(piece))) AS INTEGER) AS start_char,
                   trim(piece) AS sentence
            FROM offs
            WHERE length(trim(piece)) > 0
        """,
        "d1_exact_dedup": r"""
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
            ),
            fps AS (
                SELECT doc_id,
                       md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
                FROM corpus
            )
            SELECT fp, count(*) AS n_dupes, min(doc_id) AS keeper_id
            FROM fps GROUP BY fp HAVING count(*) > 1
        """,
        "d2_minhash_signatures": f"""
            WITH {_NEARDUP_SQL},
            {_shingle_sql("corpus")},
            {_minhash_sig_sql(8)}
            SELECT * FROM sig
        """,
        "d3_lsh_candidates": f"""
            WITH {_NEARDUP_SQL},
            {_shingle_sql("corpus")},
            {_minhash_sig_sql(8)},
            {_band_sql(8, 4)},
            {_LSH_CAND_SQL}
            SELECT id_a, id_b FROM cand
        """,
        "d4_jaccard_pairs": f"""
            WITH {_NEARDUP_SQL},
            {_shingle_sql("corpus")},
            {_JACCARD_SQL}
            SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.2
        """,
        "d5_minhash_dedup": f"""
            WITH {_NEARDUP_SQL},
            {_shingle_sql("corpus")},
            {_minhash_sig_sql(8)},
            {_band_sql(8, 4)},
            {_LSH_CAND_SQL},
            {_JACCARD_SQL}
            SELECT c.id_a, c.id_b, j.jaccard
            FROM cand c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
            WHERE j.jaccard >= 0.2
        """,
        "d6_simhash": f"""
            WITH toks AS (
                SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
                FROM documents WHERE doc_id < 200
            ),
            h AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 8))::BIGINT AS h32 FROM toks),
            agg AS (
                SELECT doc_id,
                       {", ".join(f"sum(CASE WHEN (h32 >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(32))}
                FROM h GROUP BY doc_id
            )
            SELECT doc_id,
                   {" + ".join(f"CASE WHEN b{i} > 0 THEN {2**i}::BIGINT ELSE 0::BIGINT END" for i in range(32))} AS simhash
            FROM agg
        """,
        "d7_embedding_dups": f"""
            SELECT * FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       round({_cos_sql("a.embedding", "b.embedding")}, 6) AS cos
                FROM embeddings a, embeddings b
                WHERE a.vec_id < b.vec_id
            ) WHERE cos >= 0.4
        """,
        "d8_ann_lsh_topk": f"""
            WITH q AS (SELECT * FROM {_queries_values_sql()}),
            qv AS (SELECT query_id, {fake_embedding_oracle_sql("question", EMB_DIM)} AS qvec FROM q),
            qb AS (SELECT query_id, qvec, {qvec_bucket} AS bucket FROM qv),
            eb AS (SELECT vec_id, embedding, {emb_bucket} AS bucket FROM embeddings),
            scored AS (
                SELECT qb.query_id, eb.vec_id,
                       round({_cos_sql("eb.embedding", "qb.qvec")}, 6) AS cos
                FROM eb JOIN qb ON eb.bucket = qb.bucket
            )
            SELECT query_id, vec_id, cos,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, vec_id) AS INTEGER) AS rn
            FROM scored QUALIFY rn <= 5
        """,
        "d15_components_dedup": f"""
            WITH RECURSIVE {_NEARDUP_SQL},
            {_shingle_sql("corpus")},
            {_minhash_sig_sql(8)},
            {_band_sql(8, 4)},
            {_LSH_CAND_SQL},
            {_JACCARD_SQL},
            verified AS (
                SELECT c.id_a, c.id_b
                FROM cand c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
                WHERE j.jaccard >= 0.2
            ),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM verified
                UNION
                SELECT id_b AS src, id_a AS dst FROM verified
            ),
            reach AS (
                SELECT src AS node, src AS lbl FROM edges
                UNION
                SELECT e.dst AS node, r.lbl AS lbl
                FROM reach r JOIN edges e ON e.src = r.node
            ),
            comp AS (SELECT node, min(lbl) AS component_id FROM reach GROUP BY node)
            SELECT c.doc_id FROM corpus c LEFT JOIN comp ON c.doc_id = comp.node
            WHERE c.doc_id = coalesce(comp.component_id, c.doc_id)
        """,
        "d16_token_packing": """
            WITH t AS (
                SELECT doc_id,
                       len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, n_tokens,
                       CAST(coalesce(sum(n_tokens) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                            AS BIGINT) AS tok_before
                FROM t
            )
            SELECT doc_id, n_tokens,
                   CAST(tok_before // 512 AS INTEGER) AS bin_id,
                   CAST(tok_before % 512 AS BIGINT) AS offset_in_bin
            FROM c
        """,
        "d8b_ann_multiprobe": f"""
            WITH q AS (SELECT * FROM {_queries_values_sql()}),
            qv AS (SELECT query_id, {fake_embedding_oracle_sql("question", EMB_DIM)} AS qvec FROM q),
            qb AS (SELECT query_id, qvec, {qvec_bucket2} AS bucket FROM qv),
            qprobes AS (
                SELECT query_id, qvec, unnest([{d8b_probes}]) AS bucket FROM qb
            ),
            eb AS (SELECT vec_id, embedding, {emb_bucket2} AS bucket FROM embeddings),
            scored AS (
                SELECT DISTINCT qp.query_id, eb.vec_id,
                       round({_cos_sql("eb.embedding", "qp.qvec")}, 6) AS cos
                FROM eb JOIN qprobes qp ON eb.bucket = qp.bucket
            )
            SELECT query_id, vec_id, cos,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, vec_id) AS INTEGER) AS rn
            FROM scored QUALIFY rn <= 5
        """,
        "r4_hybrid_ann": f"""
            WITH {_rag_prefix_ctes()}
            SELECT query_id, chunk_key, round(fused_score, 6) AS fused_score, final_rank
            FROM top3
        """,
        "r9_weighted_hybrid": f"""
            WITH {_rag_prefix_ctes(weights=(0.7, 0.3))}
            SELECT query_id, chunk_key, round(fused_score, 6) AS fused_score, final_rank
            FROM top3
        """,
        "v33_streaming_ingest": f"""
            WITH cleaned AS (
                SELECT doc_id, {_clean_sql("text")} AS ctext FROM documents
            ),
            chunks AS (
                SELECT doc_id,
                       CAST(p // 224 AS INTEGER) AS chunk_index,
                       substring(ctext, p + 1, 256) AS chunk_text,
                       concat_ws('_', doc_id, doc_id, CAST(p // 224 AS INTEGER)) AS chunk_key,
                       concat_ws('_', doc_id, CAST(p // 224 AS INTEGER)) AS chunk_id
                FROM (
                    SELECT doc_id, ctext,
                           unnest(generate_series(0, greatest(length(ctext) - 1, 0), 224)) AS p
                    FROM cleaned WHERE length(trim(ctext)) >= 50
                )
                WHERE length(substring(ctext, p + 1, 256)) >= 64
            )
            SELECT doc_id, chunk_index, chunk_key, chunk_id, chunk_text FROM chunks
        """,
        "d9_embedding_dups_lsh": f"""
            WITH eb AS (SELECT vec_id, embedding, {emb_bucket} AS bucket FROM embeddings)
            SELECT * FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       round({_cos_sql("a.embedding", "b.embedding")}, 6) AS cos
                FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            ) WHERE cos >= 0.4
        """,
        "d10_text_analytics": f"""
            WITH {_features_ctes("documents")}
            SELECT doc_id, {_LANG_GUESS_SQL} AS lang_guess, n_tokens, quality, fp
            FROM f_scored
        """,
        "d12_curation": f"""
            WITH RECURSIVE {_CURATION_CORPUS_SQL},
            fps AS (
                SELECT doc_id, text,
                       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
                FROM corpus
            ),
            keep AS (SELECT fp, min(doc_id) AS doc_id FROM fps GROUP BY fp),
            exact AS (
                SELECT f.doc_id, f.text FROM fps f
                JOIN keep k ON f.doc_id = k.doc_id AND f.fp = k.fp
            ),
            {_shingle_sql("exact")},
            {_minhash_sig_sql(8)},
            {_band_sql(8, 4)},
            {_LSH_CAND_SQL},
            {_JACCARD_SQL},
            verified AS (
                SELECT c.id_a, c.id_b
                FROM cand c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
                WHERE j.jaccard >= 0.5
            ),
            -- near_dup_strategy='components' (engine default): keep the
            -- min id per connected component of verified pairs
            cedges AS (
                SELECT id_a AS src, id_b AS dst FROM verified
                UNION
                SELECT id_b AS src, id_a AS dst FROM verified
            ),
            creach AS (
                SELECT src AS node, src AS lbl FROM cedges
                UNION
                SELECT e.dst AS node, r.lbl AS lbl
                FROM creach r JOIN cedges e ON e.src = r.node
            ),
            ccomp AS (SELECT node, min(lbl) AS component_id FROM creach GROUP BY node),
            dd AS (
                SELECT e.doc_id, e.text FROM exact e
                LEFT JOIN ccomp ON e.doc_id = ccomp.node
                WHERE e.doc_id = coalesce(ccomp.component_id, e.doc_id)
            ),
            {_features_ctes("dd")}
            SELECT doc_id, text, {_LANG_GUESS_SQL} AS lang_guess, quality, n_tokens,
                   len(regexp_extract_all(text, '{BPE_PATTERN.replace("'", "''")}'))::BIGINT AS bpe_tokens
            FROM f_scored
            WHERE ({_LANG_GUESS_SQL}) = 'en' AND quality >= 0.5
        """,
        "d11_token_stats": f"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '{BPE_PATTERN.replace("'", "''")}'))::BIGINT AS bpe_tokens,
                   len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS ws_tokens,
                   list_reduce(
                       list_prepend(0::BIGINT,
                           list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
                               t -> ('0x' || substring(md5(t), 1, 8))::BIGINT % 2147483647)),
                       (acc, h) -> (acc * 31 + h) % 2147483647) AS rolling_fp
            FROM documents
        """,
        "m1_multimodal_features": """
            SELECT doc_id,
                   strlen(text)::BIGINT AS n_bytes,
                   md5(text) AS digest,
                   array_to_string(list_transform(generate_series(0, 7),
                       i -> (('0x' || substring(md5(md5(text) || ':' || i), 1, 8))::BIGINT
                              % 2000) - 1000), '|') AS features_fp
            FROM documents
        """,
        # d13_ivf_topk: no oracle — KMeans float iterations aren't SQL-
        # reproducible; deterministic under the fixed seed (rows-only),
        # recall vs brute force pinned in tests/test_ivf.py.
        # o1_rest_pipeline: no oracle — REST ingestion has no SQL
        # equivalent; the fake fetcher makes it a deterministic rows-only
        # check (12 dockets - 2 already-ingested -> 10 x 2 opinions chunked).
        # o4_full_pipeline: no oracle for the same reason (REST fetch +
        # the procedural recursive chunker); deterministic rows-only.
        # The SQL-expressible halves ARE oracle-certified separately:
        # hybrid composition by r4_hybrid_ann/r1, projection by o2.
        "r1_rag_answer": _rag_oracle_sql(),
        "o3_enhanced_processing": f"""
            WITH cleaned AS (
                SELECT row_id, {_clean_sql("raw")} AS opinion_text
                FROM {_enhanced_values_sql()}
            ),
            ex AS (
                SELECT row_id, opinion_text,
                       list_distinct({" || ".join(f"regexp_extract_all(opinion_text, '{p}')" for p in _CITE_PATTERNS_SQL)}) AS cites,
                       list_distinct(list_transform(regexp_extract_all(opinion_text, '{_JUDGE_SQL_PAT}'), x -> trim(x))) AS judges,
                       list_distinct(list_transform(regexp_extract_all(opinion_text, '{_PARTY_SQL_PAT}'), x -> trim(x))) AS parties,
                       list_distinct(list_transform(regexp_extract_all(opinion_text, '{_COURT_SQL_PAT}'), x -> trim(x))) AS courts,
                       list_distinct(list_transform(regexp_extract_all(opinion_text, '{_STATUTE_SQL_PAT}'), x -> trim(x))) AS statutes
                FROM cleaned
            )
            SELECT row_id, opinion_text,
                   coalesce(array_to_string(list_sort(cites), '|'), '') AS citations_fp,
                   coalesce(array_to_string(list_sort(judges), '|'), '') AS judges_fp,
                   coalesce(array_to_string(list_sort(parties), '|'), '') AS parties_fp,
                   coalesce(array_to_string(list_sort(list_distinct(
                       flatten(list_transform(parties,
                           c -> list_transform(regexp_split_to_array(c, '\\s+v\\.\\s+'),
                                               x -> trim(x)))))), '|'), '') AS party_names_fp,
                   coalesce(array_to_string(list_sort(courts), '|'), '') AS courts_fp,
                   coalesce(array_to_string(list_sort(statutes), '|'), '') AS statutes_fp,
                   length(opinion_text)::BIGINT AS n_chars,
                   len(regexp_extract_all(lower(opinion_text), '[a-z0-9]+'))::BIGINT AS n_words,
                   len(cites)::BIGINT AS n_citations
            FROM ex
        """,
        "o2_sources_projection": f"""
            WITH {_rag_prefix_ctes()},
            meta AS (
                SELECT c.chunk_key,
                       'Case ' || c.doc_id || ' v. State' AS case_name,
                       (['scotus','ca1','ca2','ca9'])[CAST(c.doc_id % 4 + 1 AS INTEGER)] AS court,
                       CAST(DATE '2020-01-01' + CAST(c.doc_id % 365 AS INTEGER) AS VARCHAR) AS date_filed,
                       CASE WHEN c.doc_id % 2 = 0 THEN 'majority' ELSE 'dissent' END AS opinion_type,
                       concat_ws('_', c.doc_id, c.chunk_index) AS chunk_id,
                       c.chunk_text,
                       'https://example.org/op/' || c.doc_id || '.pdf' AS download_url
                FROM chunks c
            )
            SELECT t.query_id, t.final_rank, m.case_name, m.court, m.date_filed,
                   m.opinion_type, round(t.fused_score, 6) AS relevance_score,
                   m.chunk_id, m.chunk_text AS text, m.download_url
            FROM top3 t JOIN meta m ON t.chunk_key = m.chunk_key
        """,
        "r2_mirror_stats": f"""
            WITH {_CHUNKS_SQL}
            SELECT count(*) AS points_count, count(*) AS vectors_count,
                   count(DISTINCT concat_ws('_', doc_id, doc_id, chunk_index)) AS distinct_keys
            FROM chunks
        """,
        # r3_uuid5_keys: DuckDB lacks sha1, but uuid5 is a pure function
        # of the key — the oracle harness runs Python, so the expectation
        # is computed with uuid.uuid5 at oracle-generation time and joined
        # as a VALUES relation against the SQL-derived chunk-key set
        # (VERDICT r4 item 8: the rows-only row becomes a real hash match).
        # An SF outside {0.001, 0.01} would drop join rows and fail the
        # row-count check loudly, never silently.
        "r3_uuid5_keys": f"""
            WITH ch AS ({fixed_window_chunks_sql("documents", "doc_id", "text", 256, 32, 64)}),
            k AS (SELECT concat_ws('_', doc_id, doc_id, chunk_index) AS chunk_key FROM ch)
            SELECT k.chunk_key, m.point_id
            FROM k JOIN {_uuid5_values_sql()} ON k.chunk_key = m.chunk_key
        """,
        "d16b_token_packing_sharded": """
            WITH t AS (
                SELECT doc_id, doc_id % 3 AS shard,
                       len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, shard, n_tokens,
                       CAST(coalesce(sum(n_tokens) OVER (
                           PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                            AS BIGINT) AS tok_before
                FROM t
            )
            SELECT doc_id, n_tokens, shard,
                   CAST(tok_before // 512 AS INTEGER) AS bin_id,
                   CAST(tok_before % 512 AS BIGINT) AS offset_in_bin
            FROM c
        """,
        "r5_salted_join": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS sum_price_cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE o_orderpriority = '1-URGENT'
            GROUP BY c_mktsegment
        """,
        "v36_stateful_totals": """
            WITH p1 AS (
                SELECT user_id, count(*) AS n,
                       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
                FROM events WHERE event_id % 2 = 0 GROUP BY user_id
            ),
            p2 AS (
                SELECT user_id, count(*) AS n,
                       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
                FROM events WHERE event_id % 2 = 1 GROUP BY user_id
            )
            SELECT user_id, n AS n_events,
                   round(s / 100.0e0, 4) AS total_value,
                   CAST(1 AS BIGINT) AS n_updates
            FROM p1
            UNION ALL
            SELECT p2.user_id,
                   p2.n + coalesce(p1.n, 0) AS n_events,
                   round((p2.s + coalesce(p1.s, 0)) / 100.0e0, 4) AS total_value,
                   CAST(CASE WHEN p1.user_id IS NULL THEN 1 ELSE 2 END AS BIGINT)
                       AS n_updates
            FROM p2 LEFT JOIN p1 ON p2.user_id = p1.user_id
        """,
        # r5_ivf_prebuilt probes every cell (nprobe = nlist), so the ANN
        # composition is exhaustive and shares the brute-force oracle
        # with r4_hybrid_ann — what it adds is the on-disk index
        # round-trip on the Spark side.
        "r5_ivf_prebuilt": f"""
            WITH {_rag_prefix_ctes()}
            SELECT query_id, chunk_key, round(fused_score, 6) AS fused_score, final_rank
            FROM top3
        """,
        # d17-d19 deterministic hash sampling family: u = int(md5[:8
        # hex], 16) / 2^32 is an exact multiple of 2^-32 (exactly
        # representable in a double), so u and every threshold compare
        # bit-identically across engines — no rounding needed anywhere.
        "d17_hash_sample": f"""
            SELECT doc_id, lang, {_hash_uniform_sql("d17", "doc_id")} AS u
            FROM documents
            WHERE {_hash_uniform_sql("d17", "doc_id")} < 0.25
        """,
        "d18_hash_split": f"""
            SELECT doc_id,
                   CASE {_d18_case_sql()} END AS split
            FROM documents
        """,
        "d19_training_mix": f"""
            WITH wc AS (
                SELECT doc_id, lang,
                       len(regexp_extract_all(lower(text), '[a-z0-9]+'))::BIGINT AS n_tokens
                FROM documents
            ),
            tot AS (
                SELECT lang, CAST(sum(n_tokens) AS DOUBLE) AS total
                FROM wc GROUP BY lang
            ),
            tgt AS (SELECT * FROM (VALUES {_d19_targets_values()}) t(lang, target)),
            frac AS (
                SELECT tot.lang, least(1.0, target / total) AS f
                FROM tot JOIN tgt ON tot.lang = tgt.lang
            )
            SELECT wc.doc_id, wc.lang, wc.n_tokens
            FROM wc JOIN frac ON wc.lang = frac.lang
            WHERE {_hash_uniform_sql("mix", "wc.doc_id")} < frac.f
        """,
        # d20: the incremental pair contract — judged side (id_new) is a
        # new doc; matched side is any old doc OR a smaller-id new doc.
        # jac normalizes id_a < id_b, so the join re-orients each pair.
        "d20_incremental_neardup": f"""
            WITH {_NEARDUP_SQL},
            {_shingle_sql("corpus")},
            {_minhash_sig_sql(8)},
            {_band_sql(8, 4)},
            flagged AS (
                SELECT doc_id, band, band_key,
                       substring(md5(cast(doc_id AS varchar)), 1, 1) < '8' AS is_new
                FROM band_rows
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_matched
                FROM flagged a JOIN flagged b
                  ON a.band = b.band AND a.band_key = b.band_key
                WHERE a.is_new AND (NOT b.is_new OR b.doc_id < a.doc_id)
            ),
            {_JACCARD_SQL}
            SELECT c.id_new, c.id_matched, j.jaccard
            FROM cand c JOIN jac j
              ON j.id_a = least(c.id_new, c.id_matched)
             AND j.id_b = greatest(c.id_new, c.id_matched)
            WHERE j.jaccard >= 0.2
        """,
        # d21: the full training-data prep pipeline — d12's curation SQL
        # (minus the single-language gate) composed with the d19 mix, the
        # d18 split CASE (salt 'split') and d16b's partitioned cumsum.
        "d21_curate_mix_pack": f"""
            WITH RECURSIVE {_CURATION_CORPUS_SQL},
            fps AS (
                SELECT doc_id, text,
                       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
                FROM corpus
            ),
            keep AS (SELECT fp, min(doc_id) AS doc_id FROM fps GROUP BY fp),
            exact AS (
                SELECT f.doc_id, f.text FROM fps f
                JOIN keep k ON f.doc_id = k.doc_id AND f.fp = k.fp
            ),
            {_shingle_sql("exact")},
            {_minhash_sig_sql(8)},
            {_band_sql(8, 4)},
            {_LSH_CAND_SQL},
            {_JACCARD_SQL},
            verified AS (
                SELECT c.id_a, c.id_b
                FROM cand c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
                WHERE j.jaccard >= 0.5
            ),
            cedges AS (
                SELECT id_a AS src, id_b AS dst FROM verified
                UNION
                SELECT id_b AS src, id_a AS dst FROM verified
            ),
            creach AS (
                SELECT src AS node, src AS lbl FROM cedges
                UNION
                SELECT e.dst AS node, r.lbl AS lbl
                FROM creach r JOIN cedges e ON e.src = r.node
            ),
            ccomp AS (SELECT node, min(lbl) AS component_id FROM creach GROUP BY node),
            dd AS (
                SELECT e.doc_id, e.text FROM exact e
                LEFT JOIN ccomp ON e.doc_id = ccomp.node
                WHERE e.doc_id = coalesce(ccomp.component_id, e.doc_id)
            ),
            {_features_ctes("dd")},
            cur AS (
                SELECT doc_id, {_LANG_GUESS_SQL} AS lang_guess, n_tokens
                FROM f_scored WHERE quality >= 0.5
            ),
            tot AS (
                SELECT lang_guess, CAST(sum(n_tokens) AS DOUBLE) AS total
                FROM cur GROUP BY lang_guess
            ),
            tgt AS (SELECT * FROM (VALUES {", ".join(f"('{k}', {v!r})" for k, v in _D21_TARGETS.items())}) t(lang_guess, target)),
            frac AS (
                SELECT tot.lang_guess, least(1.0, target / total) AS f
                FROM tot JOIN tgt ON tot.lang_guess = tgt.lang_guess
            ),
            mixed AS (
                SELECT cur.doc_id, cur.lang_guess, cur.n_tokens
                FROM cur JOIN frac ON cur.lang_guess = frac.lang_guess
                WHERE {_hash_uniform_sql("mix", "cur.doc_id")} < frac.f
            ),
            sp AS (
                SELECT *, CASE {_split_case_sql(_D21_SPLITS, "split", "doc_id")} END AS split
                FROM mixed
            ),
            packed AS (
                SELECT doc_id, lang_guess, n_tokens, split,
                       CAST(coalesce(sum(n_tokens) OVER (
                           PARTITION BY split ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                            AS BIGINT) AS tok_before
                FROM sp
            )
            SELECT doc_id, n_tokens, lang_guess, split,
                   CAST(tok_before // 512 AS INTEGER) AS bin_id,
                   CAST(tok_before % 512 AS BIGINT) AS offset_in_bin
            FROM packed
        """,
        "d22_pii_scrub": _pii_sql(),
        "d23_boilerplate": """
            WITH corpus AS (
                SELECT doc_id,
                       text || chr(10) || 'STANDARD FOOTER NOTICE' || chr(10)
                            || 'doc marker ' || doc_id AS text
                FROM documents WHERE doc_id % 3 = 0
            ),
            sp AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus),
            ln AS (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS idx FROM sp),
            l2 AS (SELECT doc_id, idx, ls[idx] AS line, trim(ls[idx]) AS norm FROM ln),
            freq AS (
                SELECT norm, count(DISTINCT doc_id) AS nd
                FROM l2 WHERE norm != '' GROUP BY norm
            ),
            nd0 AS (SELECT count(*)::DOUBLE AS n FROM corpus),
            boiler AS (SELECT norm FROM freq, nd0 WHERE nd >= 2 AND nd >= 0.3 * n),
            kept AS (
                SELECT doc_id, idx, line FROM l2
                WHERE norm NOT IN (SELECT norm FROM boiler)
            ),
            re AS (
                SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
                FROM kept GROUP BY doc_id
            )
            SELECT c.doc_id, coalesce(re.text, '') AS text
            FROM corpus c LEFT JOIN re ON c.doc_id = re.doc_id
        """,
        "d24_repetition": """
            WITH corpus AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN text || chr(10) || 'repeated boilerplate line'
                                      || chr(10) || 'repeated boilerplate line'
                                      || chr(10) || 'repeated boilerplate line'
                            ELSE text END AS text
                FROM documents
            ),
            ls AS (
                SELECT doc_id,
                       list_filter(string_split(text, chr(10)), x -> trim(x) != '') AS l,
                       regexp_extract_all(lower(text), '[a-z0-9]+') AS t
                FROM corpus
            ),
            base AS (
                SELECT doc_id,
                       CAST(len(l) AS BIGINT) AS n_lines,
                       round(CASE WHEN len(l) > 0
                                  THEN 1.0 - len(list_distinct(l))::DOUBLE / len(l)
                                  ELSE 0.0 END, 6) AS dup_line_frac,
                       CASE WHEN len(t) >= 2
                            THEN list_transform(generate_series(1, len(t) - 1),
                                                i -> t[i] || ' ' || t[i+1])
                            ELSE []::VARCHAR[] END AS bigrams
                FROM ls
            ),
            bg AS (
                SELECT doc_id, unnest(bigrams) AS bigram FROM base
            ),
            cnt AS (
                SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY doc_id, bigram
            ),
            top AS (
                SELECT doc_id, max(n)::DOUBLE / sum(n) AS top_frac
                FROM cnt GROUP BY doc_id
            )
            SELECT b.doc_id, b.n_lines, b.dup_line_frac,
                   round(coalesce(t.top_frac, 0.0), 6) AS top_bigram_frac
            FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id
        """,
        "r13_rm3_expand": f"""
            WITH {_BM25_BASE_SQL},
            idxq AS (
                SELECT doc_id, term,
                       CAST(round(round(weight, 4) * 100) AS BIGINT) AS w
                FROM posting
            ),
            q AS (SELECT * FROM {_queries_values_sql()}),
            qtoks AS (
                SELECT query_id,
                       unnest(regexp_extract_all(lower(question), '[a-z0-9]+')) AS term
                FROM q
            ),
            qtf AS (
                SELECT query_id, term, CAST(count(*) AS BIGINT) AS qtf
                FROM qtoks GROUP BY query_id, term
            ),
            qlen AS (
                SELECT query_id, CAST(count(*) AS BIGINT) AS qlen
                FROM qtoks GROUP BY query_id
            ),
            s1 AS (
                SELECT t.query_id, i.doc_id, CAST(sum(i.w * t.qtf) AS BIGINT) AS s1
                FROM idxq i JOIN qtf t ON i.term = t.term
                GROUP BY t.query_id, i.doc_id
            ),
            fb_docs AS (
                SELECT query_id, doc_id, s1 FROM s1
                QUALIFY row_number() OVER (PARTITION BY query_id
                                           ORDER BY s1 DESC, doc_id) <= 5
            ),
            fb AS (
                SELECT f.query_id, i.term, CAST(sum(i.w * f.s1) AS BIGINT) AS fb
                FROM idxq i JOIN fb_docs f ON i.doc_id = f.doc_id
                GROUP BY f.query_id, i.term
            ),
            fb_tot AS (
                SELECT query_id, greatest(CAST(sum(fb) AS BIGINT), 1) AS fb_tot
                FROM fb GROUP BY query_id
            ),
            exp_terms AS (
                SELECT f.query_id, f.term, f.fb
                FROM fb f LEFT JOIN qtf t
                  ON f.query_id = t.query_id AND f.term = t.term
                WHERE t.term IS NULL
                QUALIFY row_number() OVER (PARTITION BY f.query_id
                                           ORDER BY f.fb DESC, f.term) <= 8
            ),
            qw AS (
                SELECT t.query_id, t.term,
                       (5 * coalesce(ft.fb_tot, 1) * t.qtf) AS qw
                FROM qtf t LEFT JOIN fb_tot ft ON t.query_id = ft.query_id
                UNION ALL
                SELECT e.query_id, e.term, (5 * ql.qlen * e.fb) AS qw
                FROM exp_terms e JOIN qlen ql ON e.query_id = ql.query_id
            ),
            scored AS (
                SELECT w.query_id, i.doc_id,
                       CAST(sum(i.w * w.qw) AS BIGINT) AS rm3_score
                FROM idxq i JOIN qw w ON i.term = w.term
                GROUP BY w.query_id, i.doc_id
            )
            SELECT query_id, doc_id, rm3_score,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY rm3_score DESC, doc_id)
                        AS INTEGER) AS rn
            FROM scored QUALIFY rn <= 10
        """,
        "r15_sdm_proximity": f"""
            WITH {_BM25_BASE_SQL},
            idxq AS (
                SELECT doc_id, term,
                       CAST(round(round(weight, 4) * 100) AS BIGINT) AS w
                FROM posting
            ),
            q AS (SELECT * FROM {_queries_values_sql()}),
            qt AS (
                SELECT query_id,
                       regexp_extract_all(lower(question), '[a-z0-9]+') AS tl
                FROM q
            ),
            qtf AS (
                SELECT query_id, term, CAST(count(*) AS BIGINT) AS qtf
                FROM (SELECT query_id, unnest(tl) AS term FROM qt)
                GROUP BY query_id, term
            ),
            qbf AS (
                SELECT query_id, bigram, CAST(count(*) AS BIGINT) AS qbf
                FROM (
                    SELECT query_id,
                           unnest(CASE WHEN len(tl) >= 2
                               THEN list_transform(
                                   generate_series(1, len(tl) - 1),
                                   i -> tl[i] || ' ' || tl[i + 1])
                               ELSE []::VARCHAR[] END) AS bigram
                    FROM qt
                )
                GROUP BY query_id, bigram
            ),
            dbg AS (
                SELECT doc_id,
                       unnest(CASE WHEN len(tl) >= 2
                           THEN list_transform(
                               generate_series(1, len(tl) - 1),
                               i -> tl[i] || ' ' || tl[i + 1])
                           ELSE []::VARCHAR[] END) AS bigram
                FROM (
                    SELECT doc_id,
                           regexp_extract_all(lower(text), '[a-z0-9]+') AS tl
                    FROM documents
                )
            ),
            cu AS (
                SELECT t.query_id, i.doc_id,
                       CAST(sum(8 * t.qtf * i.w) AS BIGINT) AS c
                FROM idxq i JOIN qtf t ON i.term = t.term
                GROUP BY t.query_id, i.doc_id
            ),
            cb AS (
                SELECT b.query_id, d.doc_id,
                       CAST(sum(2000 * b.qbf) AS BIGINT) AS c
                FROM dbg d JOIN qbf b ON d.bigram = b.bigram
                GROUP BY b.query_id, d.doc_id
            ),
            scored AS (
                SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS sdm_score
                FROM (SELECT * FROM cu UNION ALL SELECT * FROM cb)
                GROUP BY query_id, doc_id
            )
            SELECT query_id, doc_id, sdm_score,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY sdm_score DESC, doc_id)
                        AS INTEGER) AS rn
            FROM scored QUALIFY rn <= 10
        """,
        "r16_sdm_window": f"""
            WITH {_BM25_BASE_SQL},
            idxq AS (
                SELECT doc_id, term,
                       CAST(round(round(weight, 4) * 100) AS BIGINT) AS w
                FROM posting
            ),
            q AS (SELECT * FROM {_queries_values_sql()}),
            qt AS (
                SELECT query_id,
                       regexp_extract_all(lower(question), '[a-z0-9]+') AS tl
                FROM q
            ),
            qtf AS (
                SELECT query_id, term, CAST(count(*) AS BIGINT) AS qtf
                FROM (SELECT query_id, unnest(tl) AS term FROM qt)
                GROUP BY query_id, term
            ),
            qbf AS (
                SELECT query_id, bigram, CAST(count(*) AS BIGINT) AS qbf
                FROM (
                    SELECT query_id,
                           unnest(CASE WHEN len(tl) >= 2
                               THEN list_transform(
                                   generate_series(1, len(tl) - 1),
                                   i -> tl[i] || ' ' || tl[i + 1])
                               ELSE []::VARCHAR[] END) AS bigram
                    FROM qt
                )
                GROUP BY query_id, bigram
            ),
            qpairs AS (
                SELECT query_id, a, b, CAST(count(*) AS BIGINT) AS qpf
                FROM (
                    SELECT query_id, s.a AS a, s.b AS b FROM (
                        SELECT query_id,
                               unnest(CASE WHEN len(tl) >= 2
                                   THEN list_transform(
                                       generate_series(1, len(tl) - 1),
                                       i -> {{'a': least(tl[i], tl[i + 1]),
                                             'b': greatest(tl[i], tl[i + 1])}})
                                   ELSE []::STRUCT(a VARCHAR, b VARCHAR)[]
                                   END) AS s
                        FROM qt
                    )
                )
                WHERE a <> b
                GROUP BY query_id, a, b
            ),
            dtl AS (
                SELECT doc_id,
                       regexp_extract_all(lower(text), '[a-z0-9]+') AS tl
                FROM documents
            ),
            dbg AS (
                SELECT doc_id,
                       unnest(CASE WHEN len(tl) >= 2
                           THEN list_transform(
                               generate_series(1, len(tl) - 1),
                               i -> tl[i] || ' ' || tl[i + 1])
                           ELSE []::VARCHAR[] END) AS bigram
                FROM dtl
            ),
            pos AS (
                SELECT doc_id, s.term AS term, s.p AS p FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               generate_series(1, len(tl)),
                               i -> {{'term': tl[i], 'p': i}})) AS s
                    FROM dtl
                )
            ),
            cu AS (
                SELECT t.query_id, i.doc_id,
                       CAST(sum(8 * t.qtf * i.w) AS BIGINT) AS c
                FROM idxq i JOIN qtf t ON i.term = t.term
                GROUP BY t.query_id, i.doc_id
            ),
            cb AS (
                SELECT b.query_id, d.doc_id,
                       CAST(sum(2000 * b.qbf) AS BIGINT) AS c
                FROM dbg d JOIN qbf b ON d.bigram = b.bigram
                GROUP BY b.query_id, d.doc_id
            ),
            cw AS (
                -- each joined row is ONE (pos_a, pos_b) pair inside the
                -- window: sum(w_window * qpf) == w_window * qpf * uw_count
                SELECT qp.query_id, p1.doc_id,
                       CAST(sum(500 * qp.qpf) AS BIGINT) AS c
                FROM pos p1
                JOIN qpairs qp ON p1.term = qp.a
                JOIN pos p2 ON p2.doc_id = p1.doc_id AND p2.term = qp.b
                WHERE abs(p1.p - p2.p) <= 7
                GROUP BY qp.query_id, p1.doc_id
            ),
            scored AS (
                SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS sdm_score
                FROM (SELECT * FROM cu UNION ALL SELECT * FROM cb
                      UNION ALL SELECT * FROM cw)
                GROUP BY query_id, doc_id
            )
            SELECT query_id, doc_id, sdm_score,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY sdm_score DESC, doc_id)
                        AS INTEGER) AS rn
            FROM scored QUALIFY rn <= 10
        """,
        "r14_crossenc_rerank": f"""
            WITH {_BM25_BASE_SQL},
            q AS (SELECT * FROM {_queries_values_sql()}),
            qt AS (
                SELECT DISTINCT query_id, term FROM (
                    SELECT query_id,
                           unnest(regexp_extract_all(lower(question), '[a-z0-9]+')) AS term
                    FROM q
                )
            ),
            s1 AS (
                SELECT qt.query_id, p.doc_id, round(sum(p.weight), 4) AS s
                FROM posting p JOIN qt ON p.term = qt.term
                GROUP BY qt.query_id, p.doc_id
            ),
            shortlist AS (
                SELECT query_id, doc_id FROM s1
                QUALIFY row_number() OVER (PARTITION BY query_id
                                           ORDER BY s DESC, doc_id) <= 20
            ),
            dt AS (SELECT DISTINCT doc_id, term FROM toks),
            dn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dt GROUP BY doc_id),
            qn AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n FROM qt GROUP BY query_id),
            inter AS (
                SELECT sl.query_id, sl.doc_id, CAST(count(*) AS BIGINT) AS i
                FROM shortlist sl
                JOIN dt ON dt.doc_id = sl.doc_id
                JOIN qt ON qt.query_id = sl.query_id AND qt.term = dt.term
                GROUP BY sl.query_id, sl.doc_id
            ),
            scored AS (
                SELECT sl.query_id, sl.doc_id,
                       (1000000 * coalesce(x.i, 0))
                         // greatest(qn.n + dn.n - coalesce(x.i, 0), 1)
                         AS rerank_micros
                FROM shortlist sl
                JOIN qn ON qn.query_id = sl.query_id
                JOIN dn ON dn.doc_id = sl.doc_id
                LEFT JOIN inter x
                  ON x.query_id = sl.query_id AND x.doc_id = sl.doc_id
            )
            SELECT query_id, doc_id, CAST(rerank_micros AS BIGINT) AS rerank_micros,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY rerank_micros DESC, doc_id)
                        AS INTEGER) AS rn
            FROM scored QUALIFY rn <= 10
        """,
        "v80_snapshot_diff": """
            WITH chg AS (
                SELECT CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 1000000
                            ELSE o_custkey END AS k,
                       'cdc_' || CAST(o_orderkey AS VARCHAR) AS name,
                       CAST(o_totalprice AS DOUBLE) AS bal,
                       CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
                       o_orderkey AS seq
                FROM orders
            ),
            mx AS (SELECT max(seq) // 2 AS cut FROM chg),
            latest1 AS (
                SELECT * FROM chg, mx WHERE seq <= cut
                QUALIFY row_number() OVER (PARTITION BY k ORDER BY seq DESC) = 1
            ),
            latest2 AS (
                SELECT * FROM chg
                QUALIFY row_number() OVER (PARTITION BY k ORDER BY seq DESC) = 1
            ),
            t AS (
                SELECT c_custkey AS k, c_name AS name, CAST(c_acctbal AS DOUBLE) AS bal
                FROM customer
            ),
            snap1 AS (
                SELECT COALESCE(t.k, l.k) AS k,
                       CASE WHEN l.op IS NULL THEN t.name ELSE l.name END AS name,
                       CASE WHEN l.op IS NULL THEN t.bal ELSE l.bal END AS bal
                FROM t FULL OUTER JOIN latest1 l ON t.k = l.k
                WHERE l.op IS NULL OR l.op <> 'D'
            ),
            snap2 AS (
                SELECT COALESCE(t.k, l.k) AS k,
                       CASE WHEN l.op IS NULL THEN t.name ELSE l.name END AS name,
                       CASE WHEN l.op IS NULL THEN t.bal ELSE l.bal END AS bal
                FROM t FULL OUTER JOIN latest2 l ON t.k = l.k
                WHERE l.op IS NULL OR l.op <> 'D'
            ),
            d AS (
                SELECT COALESCE(o.k, n.k) AS k,
                       CASE WHEN o.k IS NULL THEN 'I'
                            WHEN n.k IS NULL THEN 'D'
                            WHEN (o.name IS DISTINCT FROM n.name)
                              OR (o.bal IS DISTINCT FROM n.bal) THEN 'U'
                       END AS op,
                       o.name AS name_old, n.name AS name_new,
                       o.bal AS bal_old, n.bal AS bal_new
                FROM snap1 o FULL OUTER JOIN snap2 n ON o.k = n.k
            )
            SELECT k, op, name_old, name_new, bal_old, bal_new
            FROM d WHERE op IS NOT NULL
        """,
        "v81_change_feed": """
            WITH chg AS (
                SELECT CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 1000000
                            ELSE o_custkey END AS k,
                       'cdc_' || CAST(o_orderkey AS VARCHAR) AS name,
                       CAST(o_totalprice AS DOUBLE) AS bal,
                       CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
                       o_orderkey AS seq
                FROM orders
            ),
            mx AS (SELECT max(seq) // 2 AS cut FROM chg),
            latest1 AS (
                SELECT * FROM chg, mx WHERE seq <= cut
                QUALIFY row_number() OVER (PARTITION BY k ORDER BY seq DESC) = 1
            ),
            latest2 AS (
                SELECT * FROM chg
                QUALIFY row_number() OVER (PARTITION BY k ORDER BY seq DESC) = 1
            ),
            t AS (
                SELECT c_custkey AS k, c_name AS name, CAST(c_acctbal AS DOUBLE) AS bal
                FROM customer
            ),
            snap1 AS (
                SELECT COALESCE(t.k, l.k) AS k,
                       CASE WHEN l.op IS NULL THEN t.name ELSE l.name END AS name,
                       CASE WHEN l.op IS NULL THEN t.bal ELSE l.bal END AS bal
                FROM t FULL OUTER JOIN latest1 l ON t.k = l.k
                WHERE l.op IS NULL OR l.op <> 'D'
            ),
            snap2 AS (
                SELECT COALESCE(t.k, l.k) AS k,
                       CASE WHEN l.op IS NULL THEN t.name ELSE l.name END AS name,
                       CASE WHEN l.op IS NULL THEN t.bal ELSE l.bal END AS bal
                FROM t FULL OUTER JOIN latest2 l ON t.k = l.k
                WHERE l.op IS NULL OR l.op <> 'D'
            ),
            d0 AS (
                SELECT COALESCE(o.k, n.k) AS k,
                       CASE WHEN o.k IS NULL THEN 'I'
                            WHEN n.k IS NULL THEN 'D'
                            WHEN (o.name IS DISTINCT FROM n.name)
                              OR (o.bal IS DISTINCT FROM n.bal) THEN 'U'
                       END AS op,
                       o.name AS name_old, n.name AS name_new,
                       o.bal AS bal_old, n.bal AS bal_new
                FROM t o FULL OUTER JOIN snap1 n ON o.k = n.k
            ),
            d1 AS (
                SELECT COALESCE(o.k, n.k) AS k,
                       CASE WHEN o.k IS NULL THEN 'I'
                            WHEN n.k IS NULL THEN 'D'
                            WHEN (o.name IS DISTINCT FROM n.name)
                              OR (o.bal IS DISTINCT FROM n.bal) THEN 'U'
                       END AS op,
                       o.name AS name_old, n.name AS name_new,
                       o.bal AS bal_old, n.bal AS bal_new
                FROM snap1 o FULL OUTER JOIN snap2 n ON o.k = n.k
            )
            SELECT k, op, name_old, name_new, bal_old, bal_new,
                   CAST(0 AS INTEGER) AS batch
            FROM d0 WHERE op IS NOT NULL
            UNION ALL
            SELECT k, op, name_old, name_new, bal_old, bal_new,
                   CAST(1 AS INTEGER) AS batch
            FROM d1 WHERE op IS NOT NULL
        """,
        "v82_incremental_mv": _MV_BUCKET_ORACLE_SQL,
        "v84_streaming_mv": _MV_BUCKET_ORACLE_SQL,
        "v85_feed_compaction": _MV_BUCKET_ORACLE_SQL,
        "v87_enriched_mv": f"""
            WITH {_CDC_SNAP_CTES},
            tier AS (SELECT * FROM {_V87_TIER_VALUES})
            -- fold(enrich(feed)) == final snapshot joined to the dim:
            -- the IVM-for-joins exactness identity
            SELECT s.k, s.name, s.bal, d.tier_name
            FROM snap s
            LEFT JOIN tier d
              ON ((CAST(round(s.bal * 100) AS BIGINT) // 100000 % 8) + 8) % 8
                 = d.tier_id
        """,
        "v86_session_proximity": f"""
            WITH pat AS (SELECT * FROM {_V86_PATTERNS_VALUES}),
            flagged AS (
                SELECT user_id, ts, event_id, event_type,
                       CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                 >= INTERVAL 1 HOUR
                            OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                            THEN 1 ELSE 0 END AS new_session
                FROM events
            ),
            numbered AS (
                SELECT user_id, ts, event_id, event_type,
                       sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                              ROWS UNBOUNDED PRECEDING) AS session_id
                FROM flagged
            ),
            sess AS (
                SELECT user_id, session_id, min(ts) AS session_start,
                       list(event_type ORDER BY ts, event_id) AS seq
                FROM numbered GROUP BY user_id, session_id
            ),
            scored AS (
                SELECT p.query_id, s.user_id, s.session_start,
                       CAST(len(list_filter(generate_series(1, len(seq) - 1),
                            i -> seq[i] = p.a AND seq[i + 1] = p.b)) AS BIGINT)
                         AS n_adjacent
                FROM sess s CROSS JOIN pat p
            )
            SELECT query_id, user_id, session_start, n_adjacent,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY n_adjacent DESC, user_id,
                                                    session_start)
                        AS INTEGER) AS rn
            FROM scored WHERE n_adjacent > 0 QUALIFY rn <= 10
        """,
        "r19_bm25f_topk": f"""
            WITH q AS (SELECT * FROM {_queries_values_sql()}),
            d2 AS (
                SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tl
                FROM documents
            ),
            -- pseudo-fields: first 8 tokens = title (w=2), rest = body (w=1)
            fields AS (SELECT doc_id, tl[1:8] AS tt, tl[9:] AS bt FROM d2),
            lens AS (SELECT doc_id, len(tt) AS lt, len(bt) AS lb FROM fields),
            tft AS (
                SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
                FROM (SELECT doc_id, unnest(tt) AS t FROM fields)
                GROUP BY doc_id, t
            ),
            tfb AS (
                SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
                FROM (SELECT doc_id, unnest(bt) AS t FROM fields)
                GROUP BY doc_id, t
            ),
            posting AS (
                SELECT COALESCE(tft.doc_id, tfb.doc_id) AS doc_id,
                       COALESCE(tft.term, tfb.term) AS term,
                       COALESCE(tft.tf, 0) AS tf_t,
                       COALESCE(tfb.tf, 0) AS tf_b
                FROM tft FULL OUTER JOIN tfb
                  ON tft.doc_id = tfb.doc_id AND tft.term = tfb.term
            ),
            stats AS (
                SELECT CAST(sum(lt) AS BIGINT) AS s_t,
                       CAST(sum(lb) AS BIGINT) AS s_b,
                       CAST(count(*) AS BIGINT) AS n FROM lens
            ),
            dfs AS (
                SELECT *, CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df
                FROM posting
            ),
            qt AS (
                SELECT DISTINCT query_id, t AS term FROM (
                    SELECT query_id,
                           unnest(regexp_extract_all(lower(question), '[a-z0-9]+')) AS t
                    FROM q
                )
            ),
            hit AS (
                SELECT qt.query_id, p.doc_id,
                       -- tf~ = 4*w_f*S_f*tf_f / (S_f + 3*len_f*N), exact ints
                       (CASE WHEN p.tf_t > 0
                             THEN CAST(4 * 2 * s.s_t * p.tf_t AS DOUBLE)
                                / CAST(s.s_t + 3 * l.lt * s.n AS DOUBLE)
                             ELSE 0.0 END
                        + CASE WHEN p.tf_b > 0
                               THEN CAST(4 * 1 * s.s_b * p.tf_b AS DOUBLE)
                                  / CAST(s.s_b + 3 * l.lb * s.n AS DOUBLE)
                               ELSE 0.0 END) AS tfw,
                       ln((CAST(s.n AS DOUBLE) - p.df + 0.5) / (p.df + 0.5) + 1) AS idf
                FROM dfs p
                JOIN qt ON p.term = qt.term
                JOIN lens l ON l.doc_id = p.doc_id
                CROSS JOIN stats s
            ),
            scored AS (
                SELECT query_id, doc_id,
                       CAST(sum(CAST(round(round(idf * tfw / (CAST(1.2 AS DOUBLE) + tfw), 4) * 100) AS BIGINT)) AS BIGINT)
                         AS bm25f_cents
                FROM hit GROUP BY query_id, doc_id
            )
            SELECT query_id, doc_id, bm25f_cents,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY bm25f_cents DESC, doc_id)
                        AS INTEGER) AS rn
            FROM scored QUALIFY rn <= 10
        """,
        "r18_rocchio_ann": f"""
            WITH q AS (SELECT * FROM {_queries_values_sql()}),
            qv AS (SELECT query_id, {fake_embedding_oracle_sql("question", EMB_DIM)} AS qvec FROM q),
            -- seed IVF cells: the 8 lowest-vec_id vectors (r7 pattern)
            cents AS (
                SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
                FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
            ),
            -- corpus assignment: argmax centroid cosine, cell_id tiebreak
            assigned AS (
                SELECT vec_id, embedding, cell_id FROM (
                    SELECT e.vec_id, e.embedding, c.cell_id,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY {_cos_sql("e.embedding", "c.centroid")} DESC,
                                        c.cell_id) AS arn
                    FROM embeddings e, cents c
                ) WHERE arn = 1
            ),
            -- partial probe: each query's top-2 cells
            probes AS (
                SELECT query_id, cell_id FROM (
                    SELECT qv.query_id, c.cell_id,
                           row_number() OVER (PARTITION BY qv.query_id
                               ORDER BY {_cos_sql("qv.qvec", "c.centroid")} DESC,
                                        c.cell_id) AS prn
                    FROM qv, cents c
                ) WHERE prn <= 2
            ),
            -- ANN first pass: 6-dp-cosine top-5 over the probed subset
            fp AS (
                SELECT query_id, vec_id FROM (
                    SELECT p.query_id, a.vec_id,
                           row_number() OVER (PARTITION BY p.query_id
                               ORDER BY round({_cos_sql("a.embedding", "qv.qvec")}, 6) DESC,
                                        a.vec_id) AS rn
                    FROM assigned a
                    JOIN probes p ON a.cell_id = p.cell_id
                    JOIN qv ON qv.query_id = p.query_id
                ) WHERE rn <= 5
            ),
            fbe AS (
                SELECT f.query_id, e.embedding
                FROM embeddings e JOIN fp f ON e.vec_id = f.vec_id
            ),
            sums AS (
                SELECT query_id, s.i AS i,
                       CAST(sum(CAST(round(CAST(s.v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sv
                FROM (
                    SELECT query_id,
                           unnest(list_transform(
                               generate_series(1, {EMB_DIM}),
                               i -> {{'i': i, 'v': embedding[i]}})) AS s
                    FROM fbe
                )
                GROUP BY query_id, s.i
            ),
            svec AS (
                SELECT query_id, list(sv ORDER BY i) AS sl
                FROM sums GROUP BY query_id
            ),
            cnt AS (SELECT query_id, count(*) AS c FROM fp GROUP BY query_id),
            q2 AS (
                SELECT qv.query_id,
                       list_transform(
                           generate_series(1, {EMB_DIM}),
                           i -> 4 * c * CAST(round(qvec[i] * 1000000) AS BIGINT)
                                + 3 * sl[i]) AS q2l
                FROM qv
                JOIN svec ON qv.query_id = svec.query_id
                JOIN cnt ON qv.query_id = cnt.query_id
            ),
            -- bit-exact scoring: micro-quantized corpus x integer q''
            -- (exact int64 dot/norm sums -> identical doubles into the
            -- final sqrt/divide/round on both engines)
            scored AS (
                SELECT q2.query_id, vec_id,
                       round(
                           CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                               i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) * q2l[i])) AS DOUBLE)
                           / (sqrt(CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                                  i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
                                     * CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))) AS DOUBLE))
                              * sqrt(CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                                  i -> q2l[i] * q2l[i])) AS DOUBLE))), 6) AS rocchio_cos
                FROM embeddings, q2
            )
            SELECT query_id, vec_id, rocchio_cos,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY rocchio_cos DESC, vec_id)
                        AS INTEGER) AS rn
            FROM scored QUALIFY rn <= 10
        """,
        "d25_decontamination": f"""
            WITH {_shingle_sql("documents", 5)},
            ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0)
            SELECT sh.doc_id, count(*) AS n_hit_shingles
            FROM sh JOIN ev ON sh.shingle = ev.shingle
            GROUP BY sh.doc_id
        """,
        "d26_domain_cap": """
            SELECT doc_id, source, lang FROM documents
            QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 10
        """,
        "d27_quality_prune": f"""
            WITH {_features_ctes("documents")},
            scored AS (
                SELECT doc_id, {_LANG_GUESS_SQL} AS lang_guess, quality
                FROM f_scored
            )
            SELECT doc_id, lang_guess, quality,
                   round(percent_rank() OVER (
                       PARTITION BY lang_guess
                       ORDER BY quality DESC, doc_id), 6) AS q_rank
            FROM scored
            QUALIFY q_rank <= 0.5
        """,
        "d28_corpus_report": f"""
            WITH {_features_ctes("documents")},
            per AS (
                SELECT d.lang AS stratum, s.n_tokens AS tok, s.quality AS q,
                       length(d.text)::BIGINT AS chars
                FROM f_scored s JOIN documents d ON s.doc_id = d.doc_id
            )
            SELECT stratum,
                   count(*) AS n_docs,
                   CAST(sum(tok) AS BIGINT) AS total_tokens,
                   round(avg(q), 4) AS avg_quality,
                   round(avg(chars), 2) AS avg_chars,
                   CAST(median(chars) AS DOUBLE) AS median_chars
            FROM per GROUP BY stratum
        """,
        "d29_dup_spans": f"""
            WITH {_POS_SHINGLE_SQL},
            dup AS (SELECT doc_id, pos FROM occ WHERE cnt >= 2 AND rn > 1),
            fl AS (
                SELECT doc_id, pos,
                       CASE WHEN lag(pos) OVER w IS NULL
                              OR pos - lag(pos) OVER w > 10
                            THEN 1 ELSE 0 END AS f
                FROM dup
                WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ),
            isl AS (
                SELECT doc_id, pos,
                       sum(f) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS UNBOUNDED PRECEDING) AS isle
                FROM fl
            )
            SELECT doc_id,
                   min(pos) AS span_start,
                   CAST(max(pos) + 9 AS BIGINT) AS span_end,
                   CAST(max(pos) + 9 - min(pos) + 1 AS BIGINT) AS span_tokens,
                   count(*)::BIGINT AS n_shingles
            FROM isl GROUP BY doc_id, isle
        """,
        "d30_dup_span_removal": f"""
            WITH {_POS_SHINGLE_SQL},
            dup AS (SELECT doc_id, pos FROM occ WHERE cnt >= 2 AND rn > 1),
            cov AS (
                SELECT DISTINCT doc_id, pos + j AS tp
                FROM dup, unnest(generate_series(0, 9)) AS g(j)
            ),
            tok AS (
                SELECT doc_id, CAST(i AS BIGINT) AS tp, toks[i] AS tok
                FROM t, unnest(generate_series(1, len(toks))) AS u(i)
            ),
            kept AS (
                SELECT doc_id, tp, tok FROM tok k
                WHERE NOT EXISTS (SELECT 1 FROM cov c
                                  WHERE c.doc_id = k.doc_id AND c.tp = k.tp)
            ),
            re AS (
                SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) AS text
                FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(CASE WHEN coalesce(re.text, '') = '' THEN 0
                             ELSE len(string_split(re.text, ' ')) END AS BIGINT)
                       AS n_tokens,
                   md5(coalesce(re.text, '')) AS text_hash
            FROM documents d LEFT JOIN re ON d.doc_id = re.doc_id
        """,
        "v39_tpch_q13": _V39_TPCH_Q13_SQL,
        "d34_jsonl_roundtrip": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   md5(string_agg(md5(text), '|' ORDER BY md5(text))) AS texts_digest
            FROM documents GROUP BY lang
        """,
        "d36_fuzzy_pairs": """
            WITH p AS (
                SELECT doc_id, lang,
                       substring(text, 1, 40) AS prefix,
                       substring(text, 1, 8) AS blk
                FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS distance
            FROM p a JOIN p b
              ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
            WHERE levenshtein(a.prefix, b.prefix) <= 10
        """,
        "d35_orc_roundtrip": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   md5(string_agg(md5(text), '|' ORDER BY md5(text))) AS texts_digest
            FROM documents GROUP BY lang
        """,
        "d33_cluster_balance": """
            WITH seeds AS (
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding
                FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
            ),
            book AS (
                SELECT CAST(code AS INT) AS code,
                       list_transform(generate_series(1, 64),
                                      i -> CAST(embedding[i] AS DOUBLE)) AS centroid
                FROM seeds
            ),
            v AS (
                SELECT vec_id,
                       list_transform(generate_series(1, 64),
                                      i -> CAST(embedding[i] AS DOUBLE)) AS e
                FROM embeddings
            ),
            d AS (
                SELECT v.vec_id, b.code,
                       round(list_sum(list_transform(generate_series(1, 64),
                           i -> (v.e[i] - b.centroid[i])
                              * (v.e[i] - b.centroid[i]))), 6) AS dist
                FROM v, book b
            ),
            assigned AS (
                SELECT vec_id, code AS cluster FROM d
                QUALIFY row_number() OVER (PARTITION BY vec_id
                                           ORDER BY dist, code) = 1
            )
            SELECT vec_id, cluster FROM assigned
            QUALIFY row_number() OVER (PARTITION BY cluster ORDER BY vec_id) <= 30
        """,
        "d32_temperature_mix": f"""
            WITH totals AS (
                SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS total
                FROM documents GROUP BY lang
            ),
            p AS (SELECT lang, total, sqrt(total) AS pw FROM totals),
            z AS (SELECT sum(pw) AS z FROM p),
            b AS (SELECT sum(n_chars) / 2.0 AS budget FROM documents),
            frac AS (
                SELECT p.lang,
                       least(1.0, b.budget * (p.pw / z.z) / p.total) AS f
                FROM p, z, b
            )
            SELECT d.lang, d.doc_id, d.n_chars
            FROM documents d JOIN frac ON d.lang = frac.lang
            WHERE {_hash_uniform_sql("d32", "d.doc_id")} < frac.f
        """,
        "v42_cogroup_asof": """
            SELECT user_id, purchase_id, click_id, lag_us FROM (
                SELECT p.user_id, p.event_id AS purchase_id,
                       c.event_id AS click_id,
                       epoch_us(CAST(p.ts AS TIMESTAMP))
                         - epoch_us(CAST(c.ts AS TIMESTAMP)) AS lag_us,
                       row_number() OVER (
                           PARTITION BY p.user_id, p.event_id
                           ORDER BY c.ts DESC, c.event_id DESC) AS rn
                FROM events p JOIN events c
                  ON p.user_id = c.user_id AND c.ts <= p.ts
                WHERE p.event_type = 'purchase' AND c.event_type = 'click'
            ) WHERE rn = 1
        """,
        "v41_stateful_timeout": """
            WITH flagged AS (
                SELECT user_id, ts,
                       CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                 >= INTERVAL 1 HOUR
                            THEN 1 ELSE 0 END AS f
                FROM events
            ),
            sess AS (
                SELECT user_id, ts,
                       sum(f) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
                FROM flagged
            )
            SELECT user_id,
                   epoch_us(CAST(min(ts) AS TIMESTAMP)) AS session_start,
                   epoch_us(CAST(max(ts) AS TIMESTAMP)) AS session_end,
                   count(*)::BIGINT AS n_events
            FROM sess GROUP BY user_id, sid
        """,
        "v40_scd2": """
            WITH ordered AS (
                SELECT user_id, ts, event_id, event_type,
                       lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS prev
                FROM events
            ),
            changes AS (
                SELECT user_id, event_type, ts, event_id FROM ordered
                WHERE prev IS NULL OR event_type IS DISTINCT FROM prev
            )
            SELECT user_id, event_type, ts AS valid_from,
                   lead(ts) OVER w AS valid_to,
                   lead(ts) OVER w IS NULL AS is_current
            FROM changes
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "v83_scd2_incremental": """
            -- the v40 full-log build IS the oracle: the incremental
            -- fold must reproduce it exactly
            WITH ordered AS (
                SELECT user_id, ts, event_id, event_type,
                       lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS prev
                FROM events
            ),
            changes AS (
                SELECT user_id, event_type, ts, event_id FROM ordered
                WHERE prev IS NULL OR event_type IS DISTINCT FROM prev
            )
            SELECT user_id, event_type, ts AS valid_from,
                   lead(ts) OVER w AS valid_to,
                   lead(ts) OVER w IS NULL AS is_current
            FROM changes
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "d31_unigram_nll": """
            WITH toks AS (
                SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
                FROM documents
            ),
            counts AS (
                SELECT token, count(*) AS c FROM toks GROUP BY token
            ),
            vocab AS (
                SELECT token, c FROM counts ORDER BY c DESC, token LIMIT 1000
            ),
            scal AS (
                SELECT (SELECT count(*) FROM toks) AS n_total,
                       (SELECT count(*) FROM vocab) AS v_size
            ),
            scored AS (
                SELECT t.doc_id,
                       -ln((coalesce(v.c, 0) + 1)
                           / (s.n_total + s.v_size + 1)) AS nll
                FROM toks t LEFT JOIN vocab v ON t.token = v.token, scal s
            ),
            per_doc AS (
                SELECT doc_id, count(*) AS n_tokens,
                       round(avg(nll), 6) AS avg_nll
                FROM scored GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
                   coalesce(p.avg_nll, 0.0) AS avg_nll
            FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        """,
        "r6_pq_adc": """
            WITH seeds AS (
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding
                FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
            ),
            book AS (
                SELECT CAST(s AS INT) AS sub, CAST(code AS INT) AS code,
                       list_transform(generate_series(s*8+1, s*8+8),
                                      i -> CAST(embedding[i] AS DOUBLE)) AS centroid
                FROM seeds, unnest(generate_series(0, 7)) AS g(s)
            ),
            subv AS (
                SELECT vec_id, CAST(s AS INT) AS sub,
                       list_transform(generate_series(s*8+1, s*8+8),
                                      i -> CAST(embedding[i] AS DOUBLE)) AS subvec
                FROM embeddings, unnest(generate_series(0, 7)) AS g(s)
            ),
            dists AS (
                SELECT v.vec_id, v.sub, b.code,
                       round(list_sum(list_transform(generate_series(1, 8),
                           i -> (v.subvec[i] - b.centroid[i])
                              * (v.subvec[i] - b.centroid[i]))), 6) AS dist
                FROM subv v JOIN book b ON v.sub = b.sub
            ),
            codes AS (
                SELECT vec_id, sub, code FROM dists
                QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                                           ORDER BY dist, code) = 1
            ),
            q AS (
                SELECT vec_id AS qid, embedding AS qvec
                FROM embeddings ORDER BY vec_id LIMIT 3
            ),
            lut AS (
                SELECT q.qid, b.sub, b.code,
                       list_sum(list_transform(generate_series(1, 8),
                           i -> (CAST(q.qvec[b.sub*8 + i] AS DOUBLE) - b.centroid[i])
                              * (CAST(q.qvec[b.sub*8 + i] AS DOUBLE) - b.centroid[i])))
                           AS pdist
                FROM q, book b
            ),
            ad AS (
                SELECT l.qid, c.vec_id, round(sum(l.pdist), 6) AS adist
                FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
                GROUP BY l.qid, c.vec_id
            )
            SELECT qid, vec_id, adist,
                   CAST(row_number() OVER (PARTITION BY qid
                                           ORDER BY adist, vec_id) AS INT) AS rank
            FROM ad
            QUALIFY rank <= 5
        """,
        # v37: batch-sequential greedy near-dup semantics of the
        # streaming ingest — wave 1 (ids < 100000) self-dedups by the
        # pairwise smaller-id rule; wave 2 drops on a match against a
        # KEPT wave-1 doc (only kept docs are indexed) or a smaller-id
        # wave-2 peer (matched regardless of that peer's own fate).
        # Then v33's chunk SQL over the kept docs.
        "v37_streaming_neardup": f"""
            WITH {_NEARDUP_SQL},
            {_shingle_sql("corpus")},
            {_minhash_sig_sql(8)},
            {_band_sql(8, 4)},
            {_LSH_CAND_SQL},
            {_JACCARD_SQL},
            match AS (
                SELECT c.id_a, c.id_b FROM cand c
                JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
                WHERE j.jaccard >= 0.5
            ),
            drop1 AS (SELECT DISTINCT id_b AS doc_id FROM match WHERE id_b < 100000),
            kept1 AS (
                SELECT doc_id FROM corpus
                WHERE doc_id < 100000 AND doc_id NOT IN (SELECT doc_id FROM drop1)
            ),
            drop2 AS (
                SELECT DISTINCT id_b AS doc_id FROM match
                WHERE id_b >= 100000
                  AND (id_a IN (SELECT doc_id FROM kept1) OR id_a >= 100000)
            ),
            keptall AS (
                SELECT doc_id FROM kept1
                UNION ALL
                SELECT doc_id FROM corpus
                WHERE doc_id >= 100000 AND doc_id NOT IN (SELECT doc_id FROM drop2)
            ),
            cleaned AS (
                SELECT c.doc_id, {_clean_sql("c.text")} AS ctext
                FROM corpus c JOIN keptall k ON c.doc_id = k.doc_id
            ),
            chunks AS (
                SELECT doc_id,
                       CAST(p // 224 AS INTEGER) AS chunk_index,
                       substring(ctext, p + 1, 256) AS chunk_text,
                       concat_ws('_', doc_id, doc_id, CAST(p // 224 AS INTEGER)) AS chunk_key,
                       concat_ws('_', doc_id, CAST(p // 224 AS INTEGER)) AS chunk_id
                FROM (
                    SELECT doc_id, ctext,
                           unnest(generate_series(0, greatest(length(ctext) - 1, 0), 224)) AS p
                    FROM cleaned WHERE length(trim(ctext)) >= 50
                )
                WHERE length(substring(ctext, p + 1, 256)) >= 64
            )
            SELECT doc_id, chunk_index, chunk_key, chunk_id, chunk_text FROM chunks
        """,
        "v47_gap_fill": _V47_GAPFILL_ORACLE,
        "v48_forward_asof": _V48_ORACLE_SQL,
        "d45_weighted_sample": _D45_ORACLE_SQL,
        "v49_unpivot": _V49_ORACLE_SQL,
        "v50_lateral_topk": _V50_LATERAL_SQL,
        "v51_range_frame": _V51_RANGE_FRAME_CORE.format(
            us_expr="epoch_us(CAST(ts AS TIMESTAMP))", src="events"
        ),
        "d46_ctfidf_topics": _D46_ORACLE_SQL,
        "d47_token_drift": _D47_ORACLE_SQL,
        "v52_variant": _V52_ORACLE_SQL,
        "d48_hll_distinct": _d48_oracle_sql(),
        "d49_cms_heavy_hitters": _D49_ORACLE_SQL,
        "d50_group_split": _d50_oracle_sql(),
        "d51_triangles": _D51_ORACLE_SQL,
        "d52_bloom_prune": _D52_ORACLE_SQL,
        "d53_quantile_hist": _d53_oracle_sql(),
        "d54_prefix_join": _d54_oracle_sql(),
        "d55_kmv_intersect": _d55_oracle_sql(),
        "d56_gopher_rules": _d56_oracle_sql(),
        "d57_hard_negatives": _d57_oracle_sql(),
        "d58_cluster_qa": _d58_oracle_sql(),
        "d59_incremental_agg": _D59_ORACLE_SQL,
        "d60_skew_report": _D60_ORACLE_SQL,
        "d61_expectations": _d61_oracle_sql(),
        "d62_zscore_outliers": _D62_ORACLE_SQL,
        "d63_association_rules": _D63_ORACLE_SQL,
        "d64_join_cardinality": _D64_ORACLE_SQL,
        "d65_feature_hash": _D65_ORACLE_SQL,
        "d66_label_prop": _d66_oracle_sql(3),
        "d67_dataset_card": _d67_oracle_sql(),
        "d68_modularity": _d68_oracle_sql(3),
        "d69_equidepth_bins": _D69_ORACLE_SQL,
        "d69b_equidepth_approx": _d69b_oracle_sql(),
        "d70_retrieval_metrics": _D70_ORACLE_SQL,
        "d71_pack_manifest": _D71_ORACLE_SQL,
        "d72_winsorize": _d72_oracle_sql(),
        "d73_cms_drift": _D73_ORACLE_SQL,
        "r7_ivfpq": _R7_IVFPQ_ORACLE,
        "r8_sq8_topk": _R8_SQ8_ORACLE,
        "v58_debounce": _V58_ORACLE_SQL,
        "v59_rank_family": _V59_RANK_SQL,
        "v60_grouping_sets": _V60_GROUPING_SETS_SQL,
        "v61_filter_clause": _V61_FILTER_SQL,
        "v62_null_semantics": _V62_ORACLE_SQL,
        "v63_temporal_join": _V63_ORACLE_SQL,
        "v64_streaming_cms": _V64_ORACLE_SQL,
        "v65_not_in_trap": _V65_NOT_IN_SQL,
        "v67_q21_shape": _V67_Q21_SHAPE_SQL,
        "v68_q20_shape": _V68_Q20_SHAPE_SQL,
        "v69_q22_shape": _V69_Q22_SHAPE_SQL,
        "v70_q2_shape": _V70_Q2_SHAPE_SQL,
        "d74_winnowing": _D74_ORACLE_SQL,
        "v71_match_recognize": _V71_ORACLE_SQL,
        "v72_stream_enrichment": _V72_ORACLE_SQL,
        "v74_enrichment_ttl": _V74_ORACLE_SQL,
        "v75_nfa_pattern": _V75_ORACLE_SQL,
        "v76_bounded_pattern": _V76_ORACLE_SQL,
        "v77_alternation_pattern": _V77_ORACLE_SQL,
        "v78_permute_pattern": _V78_ORACLE_SQL,
        "r10_mmr_diversify": _r10_oracle_sql(),
        "d77_pareto_skyline": _d77_oracle_sql(),
        "d78_dsir_select": _D78_ORACLE_SQL,
        "r11_maxsim_topk": _r11_oracle_sql(),
        "v79_bounded_permute": _v79_oracle_sql(),
        "r12_maxsim_rerank": _r12_oracle_sql(),
        "v73_match_measures": _V73_ORACLE_SQL,
        "v66_tpch_q19": _V66_Q19_SQL,
        "v53_retention": _V53_ORACLE_SQL,
        "v54_streaming_hll": _V54_ORACLE_SQL,
        "v55_asof_tolerance": _V55_ORACLE_SQL,
        "v56_tpch_q17": _V56_Q17_SQL,
        "v57_windowed_hll": _V57_ORACLE_SQL,
        "d44_ngram_novelty": f"""
            WITH {_shingle_sql("documents")},
            dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
            per_doc AS (
                SELECT s.doc_id, count(*) AS n_shingles,
                       sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS n_novel
                FROM sh s JOIN dfc ON s.shingle = dfc.shingle
                GROUP BY s.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
                   CAST(coalesce(p.n_novel, 0) AS BIGINT) AS n_novel,
                   coalesce(round(p.n_novel / p.n_shingles, 6), 0.0) AS novelty
            FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        """,
        "d37_pagerank": _pagerank_oracle_sql(6),
        "d38_semdedup": _semdedup_oracle_sql(0.4, 8),
        "d75_semdedup_capped": _semdedup_oracle_sql(
            0.4, 8, max_cluster_size=50, sub_planes=3
        ),
        "d76_lsh_refined": f"""
            WITH eb0 AS (
                SELECT vec_id, embedding, {emb_bucket2} AS bucket
                FROM embeddings
            ),
            eb AS (
                SELECT vec_id, embedding,
                       CASE WHEN count(*) OVER (PARTITION BY bucket) > 60
                            THEN bucket || {emb_bucket_extra}
                            ELSE bucket END AS bucket
                FROM eb0
            )
            SELECT * FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       round({_cos_sql("a.embedding", "b.embedding")}, 6) AS cos
                FROM eb a JOIN eb b
                  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            ) WHERE cos >= 0.4
        """,
        "v43_cdc_stream_apply": _V43_ORACLE_SQL,
        "d39_zorder": _d39_oracle_sql(),
        "d40_bigram_nll": _D40_ORACLE_SQL,
        "v44_recursive_cte": _V44_RECURSIVE_SQL,
        "v45_funnel": _V45_ORACLE_SQL,
        "d42_containment": _D42_ORACLE_SQL.format(shingle=_shingle_sql("corpus")),
        "v46_dedup_within_watermark":
            "SELECT DISTINCT event_id, user_id, event_type FROM events",
        "d43_curate_with_containment": f"""
            WITH RECURSIVE {_D43_CORPUS_SQL},
            fps AS (
                SELECT doc_id, text,
                       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
                FROM corpus
            ),
            keep AS (SELECT fp, min(doc_id) AS doc_id FROM fps GROUP BY fp),
            exact AS (
                SELECT f.doc_id, f.text FROM fps f
                JOIN keep k ON f.doc_id = k.doc_id AND f.fp = k.fp
            ),
            {_shingle_sql("exact")},
            {_minhash_sig_sql(8)},
            {_band_sql(8, 4)},
            {_LSH_CAND_SQL},
            {_JACCARD_SQL},
            verified AS (
                SELECT c.id_a, c.id_b
                FROM cand c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
                WHERE j.jaccard >= 0.5
            ),
            -- near_dup_strategy='components' (engine default): keep the
            -- min id per connected component of verified pairs
            ccommon AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       a.set_size AS size_a, b.set_size AS size_b,
                       count(*) AS n_common
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2, 3, 4
            ),
            contain AS (
                SELECT id_a, id_b FROM ccommon
                WHERE round(n_common / least(size_a, size_b), 6) >= 0.5
            ),
            verified2 AS (
                SELECT id_a, id_b FROM verified
                UNION
                SELECT id_a, id_b FROM contain
            ),
            cedges AS (
                SELECT id_a AS src, id_b AS dst FROM verified2
                UNION
                SELECT id_b AS src, id_a AS dst FROM verified2
            ),
            creach AS (
                SELECT src AS node, src AS lbl FROM cedges
                UNION
                SELECT e.dst AS node, r.lbl AS lbl
                FROM creach r JOIN cedges e ON e.src = r.node
            ),
            ccomp AS (SELECT node, min(lbl) AS component_id FROM creach GROUP BY node),
            dd AS (
                SELECT e.doc_id, e.text FROM exact e
                LEFT JOIN ccomp ON e.doc_id = ccomp.node
                WHERE e.doc_id = coalesce(ccomp.component_id, e.doc_id)
            ),
            {_features_ctes("dd")}
            SELECT doc_id, text, {_LANG_GUESS_SQL} AS lang_guess, quality, n_tokens,
                   len(regexp_extract_all(text, '{BPE_PATTERN.replace("'", "''")}'))::BIGINT AS bpe_tokens
            FROM f_scored
            WHERE ({_LANG_GUESS_SQL}) = 'en' AND quality >= 0.5
        """,
    }
