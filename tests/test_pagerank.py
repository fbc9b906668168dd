"""operators/pagerank.py: exact integer fixed-point PageRank."""

from __future__ import annotations

from collections import defaultdict

from lawlm_spark.operators.pagerank import RANK_SCALE, entity_graph_edges, pagerank


def _reference_pagerank(edges, iterations=6, damping_num=85, scale=RANK_SCALE):
    """Pure-Python replay of the documented integer update rule."""
    edges = sorted(set((str(a), str(b)) for a, b in edges))
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    out = defaultdict(list)
    for a, b in edges:
        out[a].append(b)
    n = len(nodes)
    base = (100 - damping_num) * (scale // n)
    rank = {v: scale // n for v in nodes}
    for _ in range(iterations):
        inflow = defaultdict(int)
        for a, dsts in out.items():
            c = rank[a] // len(dsts)
            for b in dsts:
                inflow[b] += c
        share = sum(rank[v] for v in nodes if v not in out) // n
        rank = {
            v: (base + damping_num * (inflow[v] + share)) // 100 for v in nodes
        }
    return rank


def test_pagerank_matches_pure_python_reference(spark):
    # cycle + dangling sink + a hub: exercises inflow, outdeg split,
    # and the dangling redistribution path all at once
    edges = [
        ("a", "b"),
        ("b", "c"),
        ("c", "a"),
        ("a", "d"),  # d is dangling
        ("c", "d"),
        ("e", "a"),  # e has no inflow
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=4).collect()}
    assert got == _reference_pagerank(edges, iterations=4)


def test_pagerank_mass_conserved_up_to_truncation(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "b")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = pagerank(df, iterations=5)
    total = sum(r["rank"] for r in out.collect())
    # every integer division truncates < 1 unit; with 3 nodes and 5
    # rounds the loss is bounded far below 1e-6 of the mass
    assert 0 <= RANK_SCALE - total < 10_000


def test_pagerank_duplicate_edges_count_once(spark):
    df1 = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "a")], "src string, dst string"
    )
    df2 = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    r1 = {r["node"]: r["rank"] for r in pagerank(df1, iterations=3).collect()}
    r2 = {r["node"]: r["rank"] for r in pagerank(df2, iterations=3).collect()}
    assert r1 == r2


def test_entity_graph_hubs_outrank_leaves(spark):
    ranks = pagerank(entity_graph_edges(spark, "/root/testdata/sf0.001"))
    by_type = defaultdict(list)
    for r in ranks.collect():
        by_type[r["node"][0]].append(r["rank"])
    # regions absorb nation mass; nations absorb customer+supplier mass;
    # order nodes have no inflow at all
    assert min(by_type["r"]) > max(by_type["o"])
    assert max(by_type["n"]) > max(by_type["c"])


def test_pagerank_round_plan(spark):
    """Per-round plan audit (VERDICT r6 item 3): over materialized
    inputs (what the loop's lineage cut guarantees), one round shows
    the dangling mass as a BROADCAST singleton (IdentityBroadcastMode
    nested-loop — never a shuffle join, never a driver collect), the
    single SinglePartition exchange is the 1-row dangling aggregate,
    and every other exchange is keyed hashpartitioning.  No cartesian
    product anywhere."""
    from pyspark.sql import functions as F

    from lawlm_spark.operators.pagerank import pagerank_round

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")], "src string, dst string"
    ).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("outdeg"))
    n = nodes.count()
    state = (
        nodes.join(outdeg, "node", "left")
        .withColumn("rank", F.lit(RANK_SCALE // n))
        .localCheckpoint()
    )
    plan = (
        pagerank_round(state, e, n)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan and "IdentityBroadcastMode" in plan
    assert plan.count("Exchange SinglePartition") == 1  # the 1-row dangling agg
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Exchange" in line and "SinglePartition" not in line:
            assert "hashpartitioning" in line or "BroadcastExchange" in line, line


def test_spent_reliable_checkpoints_are_deleted(spark, tmp_path):
    """With a session checkpoint dir every round's cut is a reliable
    checkpoint on disk; once nothing references a cut, the context
    cleaner deletes its rdd-* directory.  The cleaner works
    asynchronously after a JVM GC, so the test polls for up to 30 s;
    the dir stays set meanwhile (the cleaner resolves paths through
    it)."""
    import gc
    import time

    ckpt = tmp_path / "ckpt"
    old_dir = spark.sparkContext.getCheckpointDir()
    spark.sparkContext.setCheckpointDir(str(ckpt))
    try:
        edges = spark.createDataFrame(
            [(i, (7 * i + 1) % 30) for i in range(30)], "src long, dst long"
        )
        out = pagerank(edges, iterations=6)
        assert out.count() == 30
        assert list(ckpt.rglob("rdd-*"))  # the cuts were reliable
        del out, edges
        deadline = time.monotonic() + 30
        while True:
            gc.collect()
            spark.sparkContext._jvm.java.lang.System.gc()
            left = list(ckpt.rglob("rdd-*"))
            if not left or time.monotonic() > deadline:
                break
            time.sleep(0.5)
        assert not left, [p.name for p in left]
    finally:
        spark.sparkContext.setCheckpointDir(old_dir)
