"""Label propagation communities (Raghavan et al. 2007), synchronous
and fully deterministic.

The fourth graph operator (components = connectivity, pagerank =
centrality, triangles = local density, LPA = COMMUNITIES): each round,
every node adopts the most frequent label among its neighbors, ties to
the smallest label.  Classic LPA breaks ties randomly and updates
asynchronously; both choices are non-reproducible on a cluster, so this
implementation pins (a) synchronous rounds (all nodes update from the
same snapshot) and (b) the (max count, min label) total order — the
same determinism discipline as d37's fixed-point pagerank.  Like d37,
a FIXED iteration count is part of the contract: sync LPA can oscillate
on bipartite-ish structures, so the result is a well-defined snapshot,
not a claimed fixed point (callers wanting stability run components on
the high-agreement edges instead).

One shuffle per round (neighbor-label delivery + the (node, label)
count share a key chain), labels lineage-cut per round
(session.lineage_cut).  The oracle unrolls the rounds as
chained CTEs — every step is counts + argmax, pure SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lawlm_spark.session import lineage_cut


def label_propagation(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    iterations: int = 3,
) -> DataFrame:
    """(node, label) after `iterations` synchronous rounds."""
    spark = pairs.sparkSession
    # Byte-sized reduce partitions for the iteration (r18, same policy
    # and rationale as connected_components — label-table-sized rounds,
    # cheap per byte, materialized via per-round cuts).
    from lawlm_spark.operators.tuning import coalesced_shuffles

    with coalesced_shuffles(spark):
        edges = lineage_cut(
            pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
            .union(pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
            "label", F.col("node")
        )
        for _ in range(iterations):
            labels = lineage_cut(lpa_round(edges, labels))
    return labels


def lpa_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA round — exposed so the per-round plan can be
    audited/asserted in isolation (tests/test_labelprop.py pins the
    WindowGroupLimit argmax pruning and keyed-only exchanges; PLANS.md
    d66 shows the audited plan).  The iteration above lineage-cuts each
    round, so the composed plan is always exactly this round's plan."""
    from pyspark.sql import Window

    delivered = edges.join(
        labels, edges.dst == labels.node
    ).select(edges.src.alias("node"), "label")
    counts = delivered.groupBy("node", "label").agg(
        F.count(F.lit(1)).alias("_n")
    )
    w = Window.partitionBy("node").orderBy(F.desc("_n"), F.col("label"))
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("node", "label")
    )


def community_sizes(labels: DataFrame) -> DataFrame:
    """(label, n_members): community size distribution."""
    return labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))


def modularity_contributions(
    pairs: DataFrame,
    labels: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """(label, n_members, e_in, d_tot, contribution): each community's
    modularity term Q_c = e_in/m - (d_tot/2m)^2 — the partition-quality
    metric (Newman) for LPA/components output.

    Per-community CONTRIBUTIONS, not the scalar Q: the scalar would sum
    doubles in shuffle order (the d47 discipline) — callers fold the
    tiny result driver-side if they want one number.  e_in, d_tot, and
    m are exact integers; each contribution is one exact-input IEEE
    expression, rounded to 6.

    Cost: canonical-edge distinct + two label joins + community-keyed
    aggregates — bounded by the edge set.
    """
    edges = (
        pairs.select(
            F.least(src_col, dst_col).alias("a"),
            F.greatest(src_col, dst_col).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("_la"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("_lb"))
    # lineage-cut: m, e_in and d_tot all read `tagged` — uncut, Catalyst
    # replicates the edge-join subtree into each consumer and the
    # source is scanned once per aggregate (8 FileScans in the r8 d68
    # audit; 2 after the cut).  Edge-sized, same policy as the LPA
    # rounds above.
    tagged = lineage_cut(edges.join(la, "a").join(lb, "b"))
    m = tagged.agg(F.count(F.lit(1)).alias("_m"))
    e_in = (
        tagged.filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    deg = (
        tagged.select(F.col("a").alias("n"), F.col("_la").alias("label"))
        .unionAll(tagged.select(F.col("b").alias("n"), F.col("_lb").alias("label")))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("d_tot"))
    )
    members = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    out = (
        members.join(deg, "label", "left")
        .join(e_in, "label", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "label",
            "n_members",
            F.coalesce("e_in", F.lit(0)).alias("e_in"),
            F.coalesce("d_tot", F.lit(0)).alias("d_tot"),
            # + 0.0 normalizes IEEE -0.0 to +0.0 (round() can yield -0.0
            # when the squared term rounds away; DuckDB keeps the sign,
            # Spark's path may not — normalize on BOTH engines)
            (
                F.round(
                    F.coalesce("e_in", F.lit(0)) / F.col("_m").cast("double")
                    - (
                        F.coalesce("d_tot", F.lit(0)).cast("double")
                        / (F.lit(2.0) * F.col("_m"))
                    )
                    * (
                        F.coalesce("d_tot", F.lit(0)).cast("double")
                        / (F.lit(2.0) * F.col("_m"))
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("contribution"),
        )
    )
    return out
