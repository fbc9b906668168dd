"""Connected components over a pair table (iterative min-label
propagation with pointer jumping) — the transitive-closure step a
correct near-dup canonicalization needs.

Pair-based dedup (drop id_b of every verified pair) is greedy: with a
chain a~b, b~c but a!~c it can drop documents whose only anchor was
itself dropped, or keep a non-canonical doc.  Component-based dedup
labels every doc with the minimum id reachable through dup edges and
keeps exactly one doc (the label) per component — deterministic and
chain-correct.

Algorithm: each round every node takes the min label over (a) itself,
(b) its neighbors, and (c) ITS LABEL'S label (pointer jumping — the
label graph halves in height each round, so convergence is
O(log diameter), not O(diameter); a 25-hop chain converges in ~6 rounds
where plain propagation needs 25).

Two hard-won Spark lessons baked in (found by the property test
against a union-find reference):
  - a lineage cut per round (session.lineage_cut), NOT persist — the
    rationale lives on that helper.  At 100 TB set a session checkpoint
    dir so the cuts are reliable `checkpoint()`s (HDFS/object store).
  - plain one-hop propagation needs graph-diameter rounds; max_iter
    would silently truncate long chains.  Pointer jumping makes
    max_iter=20 enough for any graph up to ~2^20 diameter.

The iteration is driver-side (a loop of Spark jobs with a convergence
check), like KMeans — iterative algorithms are inherently multi-action;
each round is still fully distributed (joins/aggregates shuffle on
node/label keys only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lawlm_spark.session import lineage_cut


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component_id): min reachable node id over undirected pairs.

    `pairs` is an edge list (one row per undirected edge, any
    orientation).  Isolated nodes (no edges) are absent — union the full
    node set downstream if every node needs a label (dedup_by_component
    does).  The returned frame is checkpoint-materialized: small
    (one row per edge-touched node), lineage-free, nothing to unpersist.
    Each round is lineage-cut (session.lineage_cut: reliable iff the
    session has a checkpoint dir).

    Raises RuntimeError if max_iter rounds pass without convergence —
    partially-propagated labels would silently under-deduplicate
    downstream (ADVICE r4); with pointer jumping, max_iter=20 covers any
    graph up to ~2^20 diameter, so hitting this means something is wrong.
    """
    spark = pairs.sparkSession
    # Byte-sized reduce partitions for the iteration (r18,
    # operators/tuning.py): every round's shuffle is label-table-sized
    # (one row per edge-touched node), the cheap-per-byte profile the
    # policy is for — and each round materializes via the lineage cut,
    # so the conf is live exactly while the rounds execute.
    from lawlm_spark.operators.tuning import coalesced_shuffles

    with coalesced_shuffles(spark):
        edges = lineage_cut(
            pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
            .union(pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
            .distinct()
        )
        labels = lineage_cut(
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("component_id", F.col("node"))
        )
        changed = 0
        for _ in range(max_iter):
            # (a)+(b): min label over self and neighbors.  The previous
            # label rides along as `_old` (r18): the convergence check then
            # counts new != _old over the CHECKPOINTED round output — a
            # single cached-partition scan — instead of re-joining the
            # round's output back to the previous labels (one fewer
            # join+shuffle job per round; same count by construction).
            neighbor_lbls = (
                edges.join(labels, edges.dst == labels.node)
                .select(edges.src.alias("node"), "component_id")
            )
            cand = (
                labels.select("node", "component_id")
                .union(neighbor_lbls)
                .groupBy("node")
                .agg(F.min("component_id").alias("component_id"))
            )
            # (c): pointer jump — follow my label's label.  Labels only
            # decrease and every label IS a node, so the lookup hits.
            lbl_of_lbl = cand.select(
                F.col("node").alias("_lnode"), F.col("component_id").alias("_lcid")
            )
            prev = labels.select(
                F.col("node").alias("_pnode"), F.col("component_id").alias("_old")
            )
            jumped = lineage_cut(
                cand.join(lbl_of_lbl, cand.component_id == F.col("_lnode"), "left")
                .join(prev, cand.node == F.col("_pnode"))
                .select(
                    "node",
                    F.least(
                        F.col("component_id"), F.coalesce("_lcid", F.col("component_id"))
                    ).alias("component_id"),
                    "_old",
                )
            )
            changed = jumped.filter(
                F.col("component_id") != F.col("_old")
            ).count()
            labels = jumped.select("node", "component_id")
            if changed == 0:
                break
        if changed != 0:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                f"({changed} labels still changing); returning partial labels "
                "would silently under-deduplicate — raise max_iter"
            )
        return labels


def dedup_by_component(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Keep exactly one doc per duplicate component: the minimum id.

    Docs not in any pair are their own component and survive.  The
    chain-correct replacement for drop-id_b-of-each-pair."""
    comp = connected_components(pairs, src_col, dst_col)
    labeled = docs.join(comp, docs[id_col] == comp.node, "left").select(
        docs["*"],
        F.coalesce("component_id", F.col(id_col)).alias("component_id"),
    )
    return labeled.filter(F.col(id_col) == F.col("component_id")).drop("component_id")


def component_quality(
    pairs: DataFrame, src_col: str = "id_a", dst_col: str = "id_b"
) -> DataFrame:
    """(component_id, n_nodes, n_edges, density): QA metrics per
    duplicate component — the over-merge detector.

    Near-dup components are built from PAIRWISE evidence, but transitive
    closure can chain borderline pairs (A~B~C~...~Z) into one component
    whose ends are unrelated.  Edge density = n_edges / C(n_nodes, 2)
    tells the two shapes apart: a true duplicate group is (near-)clique
    (density -> 1), a chained over-merge is a path (density -> 2/n).
    Route low-density components to human review or re-verify them at a
    higher threshold; triangles.triangle_counts gives the per-NODE
    version of the same signal.

    Cost on top of connected_components: one canonical-edge distinct,
    one label join keyed on the node, one component-keyed aggregate —
    all bounded by the PAIR set, never the corpus.
    """
    # lineage-cut the canonical edge set FIRST: both consumers below
    # (components and the per-edge count) otherwise replicate the whole
    # upstream pair-producing pipeline — for minhash-derived pairs that
    # re-runs shingling/banding once per consumer (8 FileScans in the
    # r8 d58 audit; 2 after).  Pair-set-sized, the graph-op policy.
    edges = lineage_cut(
        pairs.select(
            F.least(src_col, dst_col).alias("a"),
            F.greatest(src_col, dst_col).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    comp = connected_components(edges, "a", "b")
    labeled = edges.join(comp, edges.a == comp.node).select(
        "component_id", "a", "b"
    )
    per_edge = labeled.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_edges")
    )
    per_node = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    return per_node.join(per_edge, "component_id").select(
        "component_id",
        "n_nodes",
        "n_edges",
        F.round(
            F.col("n_edges")
            / (F.col("n_nodes") * (F.col("n_nodes") - 1) / F.lit(2.0)),
            6,
        ).alias("density"),
    )
