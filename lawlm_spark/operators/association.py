"""Association rules over co-occurrence baskets: support, confidence,
lift — the market-basket layer on the same order/part co-occurrence
graph triangles.py analyzes structurally.

Everything derives from three integer counts (basket count, per-item
basket counts, per-pair basket counts), so the ratios are exact-input
IEEE divisions and the whole operator hash-certifies cross-engine.

Scale shape: the pair aggregate is the only quadratic-ish step and it
is bounded per basket by items-per-basket^2 (baskets are small by
construction — order line counts, session page counts); item counts and
the basket total are keyed/singleton aggregates that broadcast into the
scoring join.  Min-support pruning BEFORE scoring is the classic
Apriori cut: pairs below the floor never join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lawlm_spark.session import lineage_cut


def association_rules(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_support: int = 2,
    k: int = 20,
) -> DataFrame:
    """(antecedent, consequent, n_both, n_ante, n_cons, confidence,
    lift, rank): top-k directed rules by lift.

    support counts are BASKET counts (an item twice in one basket counts
    once).  Both directions of every pair are scored — confidence is
    asymmetric.  Rules ranked by lift desc with (antecedent, consequent)
    tiebreak; rank assigned after a TakeOrderedAndProject prune.
    """
    from pyspark.sql import Window

    # lineage-cut: the distinct basket-item relation feeds FIVE
    # consumers (n_baskets, item_counts x2, both pair sides) — uncut,
    # each replays the corpus scan + distinct (5 FileScans in the r8
    # d63 audit; 1 after).  The FP-growth-prep materialization.
    b = lineage_cut(
        baskets.select(
            F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
        ).distinct()
    )
    n_baskets = b.agg(F.count_distinct("_b").alias("_n"))
    item_counts = b.groupBy("_i").agg(F.count(F.lit(1)).alias("_ci"))
    x = b.select(F.col("_b"), F.col("_i").alias("_a"))
    y = b.select(F.col("_b"), F.col("_i").alias("_c"))
    pairs = (
        x.join(y, "_b")
        .filter(F.col("_a") != F.col("_c"))
        .groupBy("_a", "_c")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= min_pair_support)
    )
    ca = item_counts.select(F.col("_i").alias("_a"), F.col("_ci").alias("n_ante"))
    cc = item_counts.select(F.col("_i").alias("_c"), F.col("_ci").alias("n_cons"))
    scored = (
        pairs.join(F.broadcast(ca), "_a")
        .join(F.broadcast(cc), "_c")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            F.col("_a").alias("antecedent"),
            F.col("_c").alias("consequent"),
            "n_both",
            "n_ante",
            "n_cons",
            F.round(F.col("n_both") / F.col("n_ante").cast("double"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n_both").cast("double") * F.col("_n")
                / (F.col("n_ante").cast("double") * F.col("n_cons")),
                6,
            ).alias("lift"),
        )
    )
    top = scored.orderBy(
        F.desc("lift"), "antecedent", "consequent"
    ).limit(k)
    return top.withColumn(
        "rank",
        # bounded window over the limit(k) relation (allowlisted in
        # test_window_hygiene.py)
        F.row_number().over(
            Window.orderBy(F.desc("lift"), F.col("antecedent"), F.col("consequent"))
        ),
    )
