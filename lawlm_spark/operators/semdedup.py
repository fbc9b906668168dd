"""SemDeDup — semantic deduplication inside embedding clusters
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication").

The trick that makes semantic dedup tractable at 100 TB: never compare
across clusters.  Vectors are first assigned to k centroids (cheap,
centroids broadcast), then the quadratic cosine comparison runs ONLY
within a cluster — the shuffle key is the cluster id, and the pair work
is bounded by the largest cluster, not the corpus.  This slots between
exact/MinHash dedup (operators/dedup.py — surface overlap) and
embedding near-dup (dedup.py::embedding_dup_pairs_lsh — bucketed
pairs): SemDeDup prunes *semantic* redundancy that survives both.

Keep rule (the paper's): within each cluster, examples are ranked by
ascending similarity to their centroid (farthest-from-centroid first —
the most "representative of the cluster's edge" survives; ties broken
by id), and an example is dropped iff some earlier-ranked example in
the SAME cluster has cosine >= min_cos with it.  This is the paper's
greedy sweep, not transitive closure — a~b, b~c, a!~c drops BOTH b and
c (each has an earlier dup), where component-dedup would keep c.  For
closure semantics feed `semdedup_pairs` to
operators/components.dedup_by_component instead.

Determinism: seed centroids (pq.seed_codebook) + float->double casts +
6-dp rounding of every similarity make the kept set a pure function of
the data — full hash oracle.  Swap in pq.train_codebook(m=1) KMeans
centroids for production quality; the contract is unchanged.

100 TB sizing — the hot-cluster guard (`max_cluster_size`): "bounded by
the largest cluster" is only a bound if something bounds the largest
cluster.  On a near-duplicate-heavy corpus (exactly what dedup targets)
or with skewed embeddings, one degenerate cluster of size c costs
O(c²) pairs in a single shuffle partition — a straggler or an OOM at
scale.  Arming `max_cluster_size` sub-splits ONLY oversized clusters by
a deterministic random-hyperplane LSH bucket of the vector
(similarity.rp_lsh_bucket, the same md5-seeded planes the ANN tier
uses), so the pair scope becomes (cluster, sub_bucket) and the expected
quadratic shrinks by ~2^sub_planes (worst case: all members on one side
of every plane — measure with `cluster_sizes` before choosing the cap,
exactly like dedup.band_bucket_sizes before cap_band_buckets).  This is
a RECALL cutoff, not a silent reorder: near-identical vectors (the
cos >= 0.95 regime SemDeDup prunes) land in the same sub-bucket with
prob (1 - theta/pi)^planes ≈ 1, so what the guard loses is far-apart
pairs the threshold would mostly reject anyway.  The sweep ORDER (rank
within the original cluster) is unchanged — only which earlier-ranked
examples are *visible* to the drop rule narrows.  Unarmed (the
default), the plan is bit-identical to the unguarded operator.  Sizing
rule: pick sub_planes ≈ ceil(log2(p99_cluster / max_cluster_size));
at 1 B vectors / 100k clusters (mean 10k) with a 100× hot cluster
(1 M), sub_planes=7 brings the expected hot partition back to ~8k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lawlm_spark.functions.vectors import cosine, dot, norm
from lawlm_spark.operators.pq import encode_pq, seed_codebook
from lawlm_spark.session import lineage_cut


def _ranked_clusters(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int,
    dim: int,
    codebook: DataFrame | None,
) -> DataFrame:
    """(id, cluster, centroid_cos, rk, vec): cluster assignment + the
    paper's sweep order (ascending centroid similarity, id tiebreak)."""
    book = (
        codebook
        if codebook is not None
        else seed_codebook(vecs, id_col, vec_col, m=1, k=n_clusters, dim=dim)
    )
    codes = encode_pq(vecs, book, id_col, vec_col, m=1, dim=dim).select(
        id_col, F.col("code").alias("cluster")
    )
    cents = book.select(F.col("code").alias("cluster"), F.col("centroid"))
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scored = (
        vecs.join(codes, id_col)
        .join(F.broadcast(cents), "cluster")
        .select(
            F.col(id_col),
            "cluster",
            F.round(cosine(dvec, F.col("centroid")), 6).alias("centroid_cos"),
            F.col(vec_col).alias("_vec"),
        )
    )
    w = Window.partitionBy("cluster").orderBy("centroid_cos", id_col)
    # per-vector norm precomputed ONCE (before the pair join): the pair
    # cosine then costs a single O(d) dot instead of three — arithmetic
    # is bit-identical to cosine() (same sqrt(dot(v,v)) subterm)
    return scored.withColumn("rk", F.row_number().over(w)).withColumn(
        "_norm", norm(F.col("_vec"))
    )


def _subsplit(
    ranked: DataFrame, dim: int, max_cluster_size: int, sub_planes: int
) -> DataFrame:
    """Add `_sub`, the hot-cluster pair-scope key: the rp-LSH bucket of
    the vector for clusters over the cap, a constant for the rest.  The
    windowed COUNT rides the cluster partitioning the rank already
    shuffled on (the cap_band_buckets pattern — no second aggregate
    execution), but the armed pair join then hashes on (cluster, _sub),
    which differs from the window's cluster-only partitioning: arming
    adds one additional exchange PER JOIN SIDE of the narrow
    checkpointed ranked table (cluster-only window shuffle feeding the
    refined-key join shuffle — 2 exchanges vs 4 in the physical plan;
    shape pinned by test_hot_cluster_guard_plan_shape)."""
    from lawlm_spark.operators.similarity import rp_lsh_bucket

    w = Window.partitionBy("cluster")
    return ranked.withColumn("_csz", F.count("*").over(w)).withColumn(
        "_sub",
        F.when(
            F.col("_csz") > max_cluster_size,
            rp_lsh_bucket(F.col("_vec"), dim, sub_planes),
        ).otherwise(F.lit("")),
    ).drop("_csz")


def cluster_sizes(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    dim: int = 64,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """(cluster, n) size histogram — the skew diagnostic to run before
    choosing `max_cluster_size` (mirror of dedup.band_bucket_sizes)."""
    ranked = _ranked_clusters(vecs, id_col, vec_col, n_clusters, dim, codebook)
    return ranked.groupBy("cluster").agg(F.count("*").alias("n"))


def _pairs_from_ranked(
    ranked: DataFrame,
    id_col: str,
    min_cos: float,
    dim: int = 64,
    max_cluster_size: int | None = None,
    sub_planes: int = 4,
    n_scopes: int | None = None,
) -> DataFrame:
    keys = ["cluster"]
    if max_cluster_size is not None:
        ranked = _subsplit(ranked, dim, max_cluster_size, sub_planes)
        keys = ["cluster", "_sub"]
    # Pair-scope parallelism (r19): the join's work is QUADRATIC per
    # scope key while its input is corpus-linear, so AQE's byte-sized
    # coalescing (which only sees the tiny shuffle INPUT) collapses the
    # sweep onto far too few tasks — at sf0.1 the whole Σc² fold ran on
    # ONE task (8-vs-32-core ratio 1.02).  An EXPLICIT numPartitions is
    # exempt from AQE coalescing, and n_clusters is the operator's own
    # pair-scope cardinality — the partition count scales with the
    # problem (100k clusters → ~one cluster's sweep per task, the
    # paper's execution model), never with the local core count.  Both
    # sides share the key and count, so the join adds no third exchange.
    if n_scopes is not None and n_scopes > 1:
        ranked = ranked.repartition(n_scopes, *keys)
    a = ranked.select(
        *keys,
        F.col(id_col).alias("id_a"),
        F.col("rk").alias("rk_a"),
        F.col("_vec").alias("_va"),
        F.col("_norm").alias("_na"),
    )
    b = ranked.select(
        *keys,
        F.col(id_col).alias("id_b"),
        F.col("rk").alias("rk_b"),
        F.col("_vec").alias("_vb"),
        F.col("_norm").alias("_nb"),
    )
    # NOTE (r19): an unrolled "codegen twin" of this fold (64 explicit
    # get/cast/multiply/add terms) was measured 4x SLOWER here — the
    # generated projection method exceeds HotSpot's JIT size threshold
    # and runs as interpreted bytecode, while the HOF fold's evaluator
    # loop stays JIT-hot.  Measured and rejected; the fold stays.
    denom = F.col("_na") * F.col("_nb")
    cos = F.when(denom > 0, dot(F.col("_va"), F.col("_vb")) / denom).otherwise(
        F.lit(0.0)
    )
    return (
        a.join(b, keys)
        .filter(F.col("rk_a") < F.col("rk_b"))
        .select(
            "id_a",
            "id_b",
            "cluster",
            F.round(cos, 6).alias("cos"),
        )
        .filter(F.col("cos") >= min_cos)
    )


def semdedup_pairs(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    dim: int = 64,
    min_cos: float = 0.95,
    codebook: DataFrame | None = None,
    max_cluster_size: int | None = None,
    sub_planes: int = 4,
) -> DataFrame:
    """(id_a, id_b, cluster, cos): within-cluster pairs at cos >= min_cos,
    a ranked before b in the sweep order.  The cluster key gates the
    join — cross-cluster pairs are never generated.  `max_cluster_size`
    arms the hot-cluster guard (module docstring): oversized clusters'
    pair scope narrows to (cluster, rp-LSH sub-bucket)."""
    # lineage-cut the ranked-cluster table: it fans into both pair sides
    # (and semdedup's kept-set anti-join) — uncut, each branch replays
    # the encode+rank over the corpus (12 FileScans in the r8 d38 audit;
    # 1 after).  Corpus-row-sized but narrow (id, cluster, cos, vec, norm).
    ranked = lineage_cut(
        _ranked_clusters(vecs, id_col, vec_col, n_clusters, dim, codebook)
    )
    return _pairs_from_ranked(
        ranked, id_col, min_cos, dim, max_cluster_size, sub_planes, n_scopes=n_clusters
    )


def semdedup(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    dim: int = 64,
    min_cos: float = 0.95,
    codebook: DataFrame | None = None,
    max_cluster_size: int | None = None,
    sub_planes: int = 4,
) -> DataFrame:
    """(id, cluster, centroid_cos): the kept set after the greedy sweep —
    an example survives iff NO earlier-ranked example in its cluster is
    within min_cos of it.  One cluster-keyed shuffle for the rank, one
    for the pair gate; the drop set leaves as a left-anti join.
    `max_cluster_size` arms the hot-cluster guard (module docstring);
    with it armed the rule weakens to "no earlier-ranked example in the
    same (cluster, sub-bucket)" for oversized clusters only."""
    ranked = lineage_cut(  # cut as in semdedup_pairs
        _ranked_clusters(vecs, id_col, vec_col, n_clusters, dim, codebook)
    )
    dropped = (
        _pairs_from_ranked(
            ranked, id_col, min_cos, dim, max_cluster_size, sub_planes,
            n_scopes=n_clusters,
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        ranked.join(dropped, id_col, "left_anti")
        .select(id_col, "cluster", "centroid_cos")
    )
