"""Similarity search: brute-force exactness + LSH candidate soundness."""

from __future__ import annotations

from pyspark.sql import functions as F

from lawlm_spark.functions.vectors import cosine, fake_embedding, normalize
from lawlm_spark.operators.similarity import (
    brute_force_topk,
    hyperplane_signs,
    rp_lsh_bucket,
    rp_lsh_bucket_sql,
    rp_lsh_topk,
)
from lawlm_spark.sources.testdata import load_table


def test_cosine_self_is_one(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0],)], ["v"])
    got = df.select(cosine(F.col("v"), F.col("v")).alias("c")).collect()[0]["c"]
    assert abs(got - 1.0) < 1e-12


def test_normalize_unit_length(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], ["v"])
    got = df.select(normalize(F.col("v")).alias("n")).collect()[0]["n"]
    assert abs(got[0] - 0.6) < 1e-12 and abs(got[1] - 0.8) < 1e-12


def test_brute_force_self_query_top1(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    top = brute_force_topk(emb, q, "vec_id", "embedding", "query_id", "q_vec", k=1).collect()[0]
    assert top["vec_id"] == top["query_id"] and abs(top["cos"] - 1.0) < 1e-5


def test_lsh_results_subset_of_brute(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = spark.createDataFrame([(0, "probe text")], ["query_id", "question"]).select(
        "query_id", fake_embedding(F.col("question"), 64).alias("q_vec")
    )
    brute = {
        (r["query_id"], r["vec_id"]): r["cos"]
        for r in brute_force_topk(emb, q, "vec_id", "embedding", "query_id", "q_vec", k=500).collect()
    }
    lsh = rp_lsh_topk(
        emb, q, "vec_id", "embedding", "query_id", "q_vec", dim=64, k=5, n_vectors=500
    ).collect()
    for r in lsh:
        # same cosine as exact scoring; LSH only restricts the candidate set
        assert abs(brute[(r["query_id"], r["vec_id"])] - r["cos"]) < 1e-9


def _per_plane_bucket(vec, dim, num_planes, start=0):
    """The earlier rp_lsh_bucket: one F.lit array and one concat bit
    per plane — the reference the one-literal form must reproduce."""
    bits = []
    for p in range(start, start + num_planes):
        signs = F.array(*[F.lit(s) for s in hyperplane_signs(p, dim)])
        proj = F.aggregate(
            F.zip_with(vec, signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def test_lsh_bucket_matches_per_plane_form_and_duckdb(spark):
    """rp_lsh_bucket equals the per-plane concat form and the DuckDB
    oracle twin on 400 embeddings plus a null and an empty vector, for
    several plane counts and a nonzero `start`."""
    import duckdb

    emb = spark.range(400).select(
        F.col("id").alias("vec_id"),
        fake_embedding(F.concat(F.lit("doc "), F.col("id")), 64).alias("embedding"),
    )
    edge = spark.createDataFrame(
        [(-1, None), (-2, [])], "vec_id long, embedding array<double>"
    )
    vecs = emb.unionByName(edge)
    rows = vecs.collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (vec_id BIGINT, e DOUBLE[])")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", [(r["vec_id"], r["embedding"]) for r in rows]
    )
    for planes, start in [(2, 0), (3, 0), (8, 0), (16, 0), (3, 2)]:
        got = {
            r["vec_id"]: (r["b"], r["old"])
            for r in vecs.select(
                "vec_id",
                rp_lsh_bucket(F.col("embedding"), 64, planes, start).alias("b"),
                _per_plane_bucket(F.col("embedding"), 64, planes, start).alias("old"),
            ).collect()
        }
        sql = rp_lsh_bucket_sql("e", 64, planes, start)
        want = dict(con.execute(f"SELECT vec_id, {sql} FROM t").fetchall())
        assert len(got) == len(rows) == len(want)
        for vid, (b, old) in got.items():
            assert len(b) == planes
            assert b == old == want[vid], (planes, start, vid)
        assert got[-1][0] == got[-2][0] == "0" * planes


def test_lsh_plan_construction_needs_stats(spark):
    """VERDICT r3 item 6: constructing the plan must never trigger an
    implicit corpus count(); planes come from the caller or table stats."""
    import pytest

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    with pytest.raises(ValueError, match="num_planes or n_vectors"):
        rp_lsh_topk(emb, q, "vec_id", "embedding", "query_id", "q_vec", dim=64)


def test_fake_embedding_deterministic(spark):
    df = spark.createDataFrame([("same text",), ("same text",)], ["t"])
    vs = df.select(fake_embedding(F.col("t"), 16).alias("v")).collect()
    assert vs[0]["v"] == vs[1]["v"]
    assert abs(sum(x * x for x in vs[0]["v"]) - 1.0) < 1e-9


def test_hard_negatives_excludes_own_group(spark):
    from lawlm_spark.operators.similarity import mine_hard_negatives
    from lawlm_spark.functions.vectors import fake_embedding

    rows = [(i, i // 4, f"text number {i} about topic {i % 7}") for i in range(80)]
    df = (
        spark.createDataFrame(rows, "vid long, grp long, t string")
        .select("vid", "grp", fake_embedding(F.col("t"), 64).alias("v"))
    )
    out = mine_hard_negatives(
        df, df.filter("vid < 8"),
        id_col="vid", vec_col="v", group_col="grp",
        anchor_id_col="vid", anchor_vec_col="v", anchor_group_col="grp", k=5,
    )
    grp_of = {r["vid"]: r["grp"] for r in df.select("vid", "grp").collect()}
    got = out.collect()
    assert len(got) == 8 * 5
    for r in got:
        # no mined negative shares the anchor's group (its positives)
        assert grp_of[r["vid"]] != grp_of[r["anchor_id"]]
        # never the anchor itself
        assert r["vid"] != r["anchor_id"]


def test_hard_negatives_rp_lsh_overfetch_recall(spark):
    """The scale retriever with exclusion-aware over-fetch must recover
    most of brute's mined set (recall is the retriever's, the exclusion
    drops nothing)."""
    from lawlm_spark.operators.similarity import mine_hard_negatives
    from lawlm_spark.functions.vectors import fake_embedding

    rows = [(i, i // 4, f"text number {i} about topic {i % 7}") for i in range(200)]
    df = (
        spark.createDataFrame(rows, "vid long, grp long, t string")
        .select("vid", "grp", fake_embedding(F.col("t"), 64).alias("v"))
    )
    anchors = df.filter("vid < 4")
    kw = dict(
        id_col="vid", vec_col="v", group_col="grp",
        anchor_id_col="vid", anchor_vec_col="v", anchor_group_col="grp", k=5,
    )
    brute = {
        (r["anchor_id"], r["vid"])
        for r in mine_hard_negatives(df, anchors, **kw).collect()
    }
    ann = {
        (r["anchor_id"], r["vid"])
        for r in mine_hard_negatives(
            df, anchors, retriever="rp_lsh",
            retriever_opts={"dim": 64, "num_planes": 1, "probe_hamming": 1},
            **kw,
        ).collect()
    }
    # planes=1 + multiprobe probes both buckets -> candidate set is the
    # whole corpus: the ANN path must match brute exactly
    assert ann == brute


# ------------------------------------------- Rocchio PRF (r17 surface)


def _rocchio_fixture(spark):
    # 2-D space: query points at x; the true cluster sits between x and
    # y, so the feedback centroid pulls the expanded query toward y
    emb = spark.createDataFrame(
        [
            # the feedback cluster: top raw matches, leaning hard to +y
            (1, [0.71, 0.70]),
            (2, [0.70, 0.71]),
            (3, [0.72, 0.69]),
            # aligned with the cluster's y-lean but a poor raw-q match:
            (4, [0.50, 0.86]),
            # the anti-doc: decent raw match, opposed to the y pull
            (5, [0.60, -0.80]),
        ],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, q_vec array<double>"
    )
    return emb, q


def test_rocchio_matches_hand_computed_expansion(spark):
    """q'' = alpha*|R|*qm + beta*sum(dm) in integer micros, scored by
    6-dp cosine — replicated in pure python."""
    import math

    from lawlm_spark.operators.similarity import rocchio_topk

    emb, q = _rocchio_fixture(spark)
    out = rocchio_topk(
        emb, q, "vec_id", "embedding", "query_id", "q_vec",
        k_fb=2, alpha_num=4, beta_num=3, k=5,
    ).collect()

    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    qv = [1.0, 0.0]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na * nb > 0 else 0.0

    fb = sorted(vecs, key=lambda i: (-round(cos(vecs[i], qv), 6), i))[:2]
    qm = [round(x * 1e6) for x in qv]
    sm = [
        sum(round(vecs[d][i] * 1e6) for d in fb) for i in range(2)
    ]
    q2 = [float(4 * 2 * qm[i] + 3 * sm[i]) for i in range(2)]
    want = sorted(
        ((round(cos(vecs[i], q2), 6), i) for i in vecs),
        key=lambda t: (-t[0], t[1]),
    )
    got = [(r["rocchio_cos"], r["vec_id"]) for r in out]
    assert got == [(c, i) for c, i in want]


def test_rocchio_feedback_lifts_cluster_aligned_doc(spark):
    """The PRF effect: the centroid pull promotes the doc aligned with
    the feedback cluster over the raw-query-optimal anti-doc."""
    from lawlm_spark.operators.similarity import (
        brute_force_topk,
        rocchio_topk,
    )

    emb, q = _rocchio_fixture(spark)
    base = {
        r["vec_id"]: r["rn"]
        for r in brute_force_topk(
            emb, q, "vec_id", "embedding", "query_id", "q_vec", k=5
        ).collect()
    }
    roc = {
        r["vec_id"]: r["rn"]
        for r in rocchio_topk(
            emb, q, "vec_id", "embedding", "query_id", "q_vec",
            k_fb=3, alpha_num=1, beta_num=8, k=5,
        ).collect()
    }
    # raw query loves the anti-doc; the expanded query demotes it below
    # the cluster-aligned doc
    assert base[5] < base[4]
    assert roc[4] < roc[5]


def test_rocchio_beta_zero_reproduces_first_pass_ranking(spark):
    """beta=0 leaves only a positive scaling of q — cosine ranking is
    scale-invariant, so the order must equal brute force."""
    from lawlm_spark.operators.similarity import (
        brute_force_topk,
        rocchio_topk,
    )

    emb, q = _rocchio_fixture(spark)
    base = [
        r["vec_id"]
        for r in brute_force_topk(
            emb, q, "vec_id", "embedding", "query_id", "q_vec", k=5
        ).collect()
    ]
    roc = [
        r["vec_id"]
        for r in rocchio_topk(
            emb, q, "vec_id", "embedding", "query_id", "q_vec",
            k_fb=2, alpha_num=1, beta_num=0, k=5,
        ).collect()
    ]
    assert roc == base


def test_rocchio_plan_corpus_never_shuffles(spark):
    """Corpus-side joins: one BroadcastHashJoin (feedback probe) + the
    broadcast cross of q'' — no shuffled join touches the corpus."""
    from lawlm_spark.operators.similarity import rocchio_topk

    emb, q = _rocchio_fixture(spark)
    plan = (
        rocchio_topk(emb, q, "vec_id", "embedding", "query_id", "q_vec")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    for node in ("SortMergeJoin", "ShuffledHashJoin"):
        assert node not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_rocchio_explicit_first_pass_identity_and_override(spark):
    """first_pass (VERDICT r17 item 4b — the retriever-pluggable hook
    closing the dense-PRF scale path): passing the brute-force pass
    explicitly reproduces the default byte-for-byte, and passing a
    DIFFERENT feedback set demonstrably changes the expansion (the
    hook is live, not decorative).  `rn` rows beyond k_fb are cut by
    the operator, so an over-long first pass is safe."""
    from pyspark.sql import functions as F

    from lawlm_spark.operators.similarity import (
        brute_force_topk,
        rocchio_topk,
    )

    emb, q = _rocchio_fixture(spark)
    args = (emb, q, "vec_id", "embedding", "query_id", "q_vec")
    kw = dict(k_fb=2, alpha_num=4, beta_num=3, k=5)
    default = rocchio_topk(*args, **kw).collect()
    # over-long ranked pass (k=4 > k_fb=2): operator must cut at rn<=2
    fp = brute_force_topk(*args, k=4)
    explicit = rocchio_topk(*args, **kw, first_pass=fp).collect()
    assert explicit == default
    # feedback forced to the anti-doc flips the pull away from +y
    anti = fp.filter(F.col("vec_id") == 5).withColumn("rn", F.lit(1))
    flipped = rocchio_topk(*args, **kw, first_pass=anti).collect()
    assert flipped != default
    top_flipped = [r["vec_id"] for r in flipped if r["rn"] == 1]
    assert top_flipped == [5]
