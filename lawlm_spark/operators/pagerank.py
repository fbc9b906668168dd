"""PageRank over an edge list — iterative link analysis with EXACT
integer fixed-point arithmetic, so a fixed-iteration run is
bit-identical across engines (and across partitionings).

Why integer fixed-point: float PageRank sums contributions in shuffle
order, and double addition is not associative — two runs of the same
job can differ in the last ulps, and a DuckDB replay certainly will.
Storing ranks as BIGINT micro-units (scale = 1e12) makes every
operation (+, integer div) exact and order-independent: the result is
a pure function of the graph, certifiable by a full hash oracle and
rerun-stable at any cluster size.  Precision: each integer division
truncates < 1 unit (1e-12), so K iterations lose < K·(outdeg splits)
units of mass — bounded and deterministic, irrelevant at rank scale
~scale/N.

Update rule (all integer ops, d = damping_num/100):

    R_0(v)     = scale // N
    share_t    = (Σ R_t(u) over dangling u) // N
    inflow(v)  = Σ_{u→v} ( R_t(u) // outdeg(u) )
    R_{t+1}(v) = ( (100-damping_num) * (scale // N)
                   + damping_num * (inflow(v) + share_t) ) // 100

Scale design (the 1000-executor question): each round is ONE shuffle —
the contribution join partitions by src (ranks and outdeg share that
key), the inflow aggregate by dst.  The dangling mass is a 1-row
aggregate joined back as a broadcast singleton (no driver-side
collect inside the loop).  Each round is lineage-cut
(session.lineage_cut) — without it the logical plan nests one join per
round and analyzer time grows superlinearly.  Ranks are one row per
node (tiny next to the edge table), so the iteration state that must
survive executor loss is small; at 100 TB set a session checkpoint dir
so the cuts are reliable checkpoints.

Reference parity: the reference engine has no graph operator family —
this is part of the beyond-reference training-data surface (link-based
quality signals for web corpora, per Brin & Page 1998 / the Common
Crawl harmonic-centrality practice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lawlm_spark.session import lineage_cut

RANK_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 6,
    damping_num: int = 85,
    scale: int = RANK_SCALE,
) -> DataFrame:
    """(node, rank): fixed-iteration PageRank in BIGINT micro-units.

    `edges` is a directed edge list; duplicate (src, dst) rows count
    once.  Every node appearing as src or dst gets a rank.  Dangling
    nodes (outdeg 0) redistribute their mass uniformly.  `damping_num`
    is the damping factor in percent (85 → d = 0.85), kept integral so
    the arithmetic stays exact.  The returned frame is
    checkpoint-materialized (lineage-free).
    """
    spark = edges.sparkSession
    # Byte-sized reduce partitions for the whole iteration (r18,
    # operators/tuning.py): every per-round shuffle is rank-table-sized,
    # so coalescing by the advisory size instead of the core count cuts
    # per-round task overhead (measured 0.79x) and is the identical
    # policy a 100 TB run wants.  Ranks are cheap per byte — the CPU-
    # dense counter-example (NFA matcher) stays opted out.
    from lawlm_spark.operators.tuning import coalesced_shuffles

    with coalesced_shuffles(spark):
        e = lineage_cut(
            edges.select(
                F.col(src_col).cast("string").alias("src"),
                F.col(dst_col).cast("string").alias("dst"),
            ).distinct()
        )
        # Fused setup (r18): (node, outdeg) in ONE materialization — the
        # outdeg aggregate (all src nodes) FULL OUTER the distinct dst
        # nodes is exactly nodes⟕outdeg (src-only → its count, dst-only →
        # NULL = dangling, both → count), without materializing the
        # separate nodes and outdeg tables first.  3 setup job barriers
        # instead of 5, one less pass over e at any scale.
        state = lineage_cut(
            e.groupBy(F.col("src").alias("node"))
            .agg(F.count("*").alias("outdeg"))
            .join(e.select(F.col("dst").alias("node")).distinct(), "node", "full")
        )
        # N is a setup-time scalar (one action, like components' convergence
        # count) — it parameterizes the integer formula as a literal; state
        # has one row per node, so its count IS the node count (cheap: the
        # frame is already cut/materialized).
        n = state.count()
        # the iterated state CARRIES outdeg (null = dangling): this removes
        # two joins from every round — the ranks⋈outdeg re-key and the
        # dangling anti-join both collapse into filters on the carried
        # column (r7 plan optimization; measured in NOTES_r07).  The initial
        # rank is a literal projection over the cut frame (no extra job).
        state = state.withColumn("rank", F.lit(scale // n))
        for _ in range(iterations):
            state = lineage_cut(pagerank_round(state, e, n, damping_num, scale))
        return state.select("node", "rank")


def pagerank_round(
    state: DataFrame,
    e: DataFrame,
    n: int,
    damping_num: int = 85,
    scale: int = RANK_SCALE,
) -> DataFrame:
    """One synchronous update round over the carried (node, outdeg,
    rank) state — exposed so the per-round plan can be audited/asserted
    in isolation (tests/test_pagerank.py pins the broadcast-singleton
    dangling mass and the keyed-only exchanges; PLANS.md d37 shows the
    audited plan).  The iteration above lineage-cuts each round's
    output, so the COMPOSED plan is always exactly this round's plan
    over materialized inputs.  Per round: one edge join keyed on src,
    one inflow aggregate keyed on dst, one state⋈inflow join on node —
    the dangling mass is a filter + 1-row aggregate riding back as a
    broadcast singleton, never a shuffle join, never a driver collect."""
    contrib = (
        state.filter(F.col("outdeg").isNotNull())
        .join(e, F.col("node") == e.src)
        .select(F.col("dst").alias("node"), F.expr("rank div outdeg").alias("c"))
    )
    inflow = contrib.groupBy("node").agg(F.sum("c").alias("inflow"))
    dang = (
        state.filter(F.col("outdeg").isNull())
        .agg(F.coalesce(F.sum("rank"), F.lit(0)).alias("dmass"))
        .select(F.expr(f"dmass div {n}").alias("share"))
    )
    return (
        state.select("node", "outdeg")
        .join(inflow, "node", "left")
        .crossJoin(F.broadcast(dang))
        .select(
            "node",
            "outdeg",
            F.expr(
                f"(({(100 - damping_num) * (scale // n)}"
                f" + {damping_num} * (coalesce(inflow, 0) + share)) div 100)"
            ).alias("rank"),
        )
    )


def entity_graph_edges(spark, sf_dir: str) -> DataFrame:
    """The TPC-H-ish entity-reference graph used by the certified query:
    orders→customer, customer→nation, supplier→nation, nation→region.
    Node ids are type-prefixed so the key spaces cannot collide.
    Regions are dangling sinks; nations are the hubs."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.select(
            F.concat(F.lit("o"), "o_orderkey").alias("src"),
            F.concat(F.lit("c"), "o_custkey").alias("dst"),
        )
        .union(
            customer.select(
                F.concat(F.lit("c"), "c_custkey").alias("src"),
                F.concat(F.lit("n"), "c_nationkey").alias("dst"),
            )
        )
        .union(
            supplier.select(
                F.concat(F.lit("s"), "s_suppkey").alias("src"),
                F.concat(F.lit("n"), "s_nationkey").alias("dst"),
            )
        )
        .union(
            nation.select(
                F.concat(F.lit("n"), "n_nationkey").alias("src"),
                F.concat(F.lit("r"), "n_regionkey").alias("dst"),
            )
        )
    )
