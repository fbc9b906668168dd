"""Cluster/stratum topic labeling via c-TF-IDF (Grootendorst's
BERTopic formulation): treat each cluster as ONE concatenated document
and rank the terms that are frequent inside it but rare across the
corpus — the "what is this cluster about" report a mix designer reads
next to the per-stratum corpus card (quality.corpus_report).

    score(t, c) = tf(t, c) * ln(1 + A / f_t)

with tf = term count inside the cluster, f_t = corpus-wide count, and
A = average token count per cluster.  Every input is an integer count
(the ln argument is a ratio of exact integers), so both engines produce
bit-identical doubles — full hash oracle.

Clusters are any label column: a language, a domain, or an
embedding-space cluster id (semdedup/sampling assignment) joined on
beforehand.  Scale: one explode + one (cluster, term)-keyed aggregate;
the corpus term table aggregates on the term key and joins back; the
top-k window partitions per cluster and WindowGroupLimit prunes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lawlm_spark.functions.text import tokenize
from lawlm_spark.session import lineage_cut


def ctfidf_top_terms(
    docs: DataFrame,
    cluster_col: str = "lang",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """(cluster, term, tf, score, rank): the k most distinctive terms
    per cluster, ties broken by term."""
    toks = docs.select(
        F.col(cluster_col).alias("cluster"),
        F.explode(tokenize(F.col(text_col))).alias("term"),
    )
    # ONE corpus pass: f_t, n_total and n_clusters all re-aggregate the
    # (cluster, term) table instead of the token stream, and tf is
    # lineage-cut so its consumers don't each replay the corpus explode
    # (4 FileScans in the r8 d46 audit; 1 after).  Vocabulary-sized.
    tf = lineage_cut(toks.groupBy("cluster", "term").agg(F.count("*").alias("tf")))
    ft = tf.groupBy("term").agg(F.sum("tf").alias("f_t"))
    scal = tf.groupBy().agg(
        # coalesce: NULL on an empty corpus (see quality.unigram_nll note)
        F.coalesce(F.sum("tf"), F.lit(0)).alias("n_total"),
        F.count_distinct("cluster").alias("n_clusters"),
    )
    scored = (
        tf.join(ft, "term")
        .crossJoin(F.broadcast(scal))
        .select(
            "cluster",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * F.log(
                    1 + (F.col("n_total") / F.col("n_clusters")) / F.col("f_t")
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("cluster").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def token_drift(
    docs_a: DataFrame,
    docs_b: DataFrame,
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """(term, c_a, c_b, contribution, rank): the k tokens contributing
    most to the KL divergence KL(A || B) between two corpus snapshots'
    add-one-smoothed unigram distributions — the mix-drift monitor run
    between pipeline versions or ingest windows ("which vocabulary
    shifted?").

    Per-token contribution = p_a * ln(p_a / p_b) over the UNION
    vocabulary with add-one smoothing (so a token absent from one side
    is finite).  Deliberately reported per token, NOT summed: each row
    derives from four integers (c_a, c_b, N_a, N_b) so the output is
    engine-exact, while the total KL would sum thousands of doubles in
    shuffle order.  Sum client-side if a scalar is wanted.

    Scale: one token-keyed count per side, a full-outer join on the
    term key, scalars broadcast; top-k via TakeOrderedAndProject.
    """
    ca = (
        docs_a.select(F.explode(tokenize(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c_a"))
    )
    cb = (
        docs_b.select(F.explode(tokenize(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c_b"))
    )
    # lineage-cut the union vocabulary: both consumers (the scalar
    # totals and the scored projection) otherwise replay BOTH corpus
    # tokenizations (4 FileScans in the r8 d47 audit; 2 after — one
    # per snapshot side, the minimum).  Vocabulary-sized.
    joined = lineage_cut(
        ca.join(cb, "term", "full_outer").select(
            "term",
            F.coalesce("c_a", F.lit(0)).alias("c_a"),
            F.coalesce("c_b", F.lit(0)).alias("c_b"),
        )
    )
    scal = joined.groupBy().agg(
        F.sum("c_a").alias("n_a"),
        F.sum("c_b").alias("n_b"),
        F.count("*").alias("v"),
    )
    p_a = (F.col("c_a") + 1) / (F.col("n_a") + F.col("v"))
    p_b = (F.col("c_b") + 1) / (F.col("n_b") + F.col("v"))
    scored = joined.crossJoin(F.broadcast(scal)).select(
        "term",
        F.col("c_a").cast("long").alias("c_a"),
        F.col("c_b").cast("long").alias("c_b"),
        # + 0.0 normalizes IEEE -0.0 (KL terms go negative when
        # p_a < p_b; a tiny-negative top-k entry rounds to a signed
        # zero on DuckDB but not Spark — the d68 class)
        (F.round(p_a * F.log(p_a / p_b), 9) + F.lit(0.0)).alias("contribution"),
    )
    ranked = scored.orderBy(F.col("contribution").desc(), "term").limit(k)
    from pyspark.sql import Window

    # bounded window: runs over the limit(k) relation only (allowlisted
    # in test_window_hygiene.py; constant partition keys cannot silence
    # the WindowExec warning — Spark 4's EliminateWindowPartitions
    # folds them out, so session.py filters that logger instead)
    w = Window.orderBy(F.col("contribution").desc(), "term")
    return ranked.withColumn("rank", F.row_number().over(w).cast("int"))
