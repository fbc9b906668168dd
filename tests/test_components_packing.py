"""Connected-components dedup (iterative) + token-budget packing."""

from __future__ import annotations

from pyspark.sql import functions as F

from lawlm_spark.operators.components import connected_components, dedup_by_component
from lawlm_spark.operators.packing import pack_documents


def _labels(df):
    return {r["node"]: r["component_id"] for r in df.collect()}


def test_components_chain(spark):
    # chain 1-2-3-4 plus isolated pair 10-11: min label propagates the
    # full chain length (diameter > 1 forces real iteration)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = _labels(connected_components(pairs))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_components_orientation_invariant(spark):
    fwd = spark.createDataFrame([(5, 9), (9, 7)], ["id_a", "id_b"])
    rev = spark.createDataFrame([(9, 5), (7, 9)], ["id_a", "id_b"])
    assert _labels(connected_components(fwd)) == _labels(connected_components(rev))


def test_dedup_by_component_beats_pairwise_greedy(spark):
    """Chain a~b, b~c (a!~c directly): pairwise drop-id_b removes b AND c
    keeping only a; component dedup keeps exactly one doc per component
    — same outcome here — but for pair set (2,1),(2,3) pairwise
    drop-id_b drops {1, 3} keeping 2 (two docs lost, wrong canonical);
    components keep min id 1."""
    docs = spark.createDataFrame([(i, f"t{i}") for i in (1, 2, 3, 8)], ["doc_id", "text"])
    pairs = spark.createDataFrame([(2, 1), (2, 3)], ["id_a", "id_b"])
    kept = sorted(r["doc_id"] for r in dedup_by_component(docs, pairs, "doc_id").collect())
    assert kept == [1, 8]  # canonical = min of {1,2,3}; 8 isolated survives
    # pairwise greedy would keep [2, 8] (and with pairs (1,2),(2,3): [1, 8])


def test_components_long_chain_beyond_naive_iteration_bound(spark):
    """A 25-hop path has diameter 25 > max_iter 20: plain one-hop
    propagation would return unconverged labels; pointer jumping
    converges in O(log diameter) rounds."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(25)], ["id_a", "id_b"])
    got = _labels(connected_components(pairs))
    assert got == {i: 0 for i in range(26)}


def test_curation_component_strategy_beats_pairwise_on_stars(spark):
    """Star pattern: docs 2,3 each near-dup of 10 but not of each other
    under the pair threshold chain.  'pairs' keeps both leaves; the
    'components' default keeps exactly one doc per component."""
    from lawlm_spark.plans.curation import curate_documents

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away today "
        "while the sun shines over the quiet green valley below the hills"
    )
    docs = spark.createDataFrame(
        [
            (2, base + " alpha beta"),
            (3, base + " gamma delta"),
            (10, base + " alpha gamma"),
            (50, "completely unrelated text about spark query engines and "
                 "distributed columnar execution with shuffles and joins everywhere"),
        ],
        ["doc_id", "text"],
    )
    kw = dict(min_quality=0.0, near_dup_jaccard=0.5, lang="en")
    comp_ids = {r["doc_id"] for r in curate_documents(docs, **kw).collect()}
    pair_ids = {
        r["doc_id"]
        for r in curate_documents(docs, near_dup_strategy="pairs", **kw).collect()
    }
    assert comp_ids <= pair_ids
    assert 2 in comp_ids and 50 in comp_ids
    # the star: pairs (2,10),(3,10) -> pairwise drops only 10, keeping
    # both transitive near-dups; components keep just doc 2
    if pair_ids != comp_ids:
        assert 3 in pair_ids - comp_ids


def test_pack_documents_bins_and_offsets(spark):
    # token counts: 3, 4, 2, 5 (canonical tokenizer); budget 6
    docs = spark.createDataFrame(
        [
            (1, "one two three"),
            (2, "a b c d"),
            (3, "x y"),
            (4, "p q r s t"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in pack_documents(docs, budget=6).collect()}
    # cumsum-before: 0, 3, 7, 9 -> bins 0, 0, 1, 1
    assert [rows[i]["bin_id"] for i in (1, 2, 3, 4)] == [0, 0, 1, 1]
    assert [rows[i]["offset_in_bin"] for i in (1, 2, 3, 4)] == [0, 3, 1, 3]
    assert [rows[i]["n_tokens"] for i in (1, 2, 3, 4)] == [3, 4, 2, 5]


def test_pack_documents_sharded_parallel_windows(spark):
    docs = spark.createDataFrame(
        [(i, "w " * (i % 3 + 1), i % 2) for i in range(20)],
        ["doc_id", "text", "shard_key"],
    )
    packed = pack_documents(docs, budget=4, shard_col="shard_key")
    rows = packed.collect()
    assert {r["shard"] for r in rows} == {0, 1}
    # within each shard, bin ids start at 0 and are non-decreasing by doc_id
    for s in (0, 1):
        seq = [r["bin_id"] for r in sorted(rows, key=lambda r: r["doc_id"]) if r["shard"] == s]
        assert seq[0] == 0 and all(a <= b for a, b in zip(seq, seq[1:]))
    # offsets never reach the budget
    assert all(0 <= r["offset_in_bin"] < 4 for r in rows)


def _union_find_components(edges):
    """Pure-python reference: min node id per component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


def test_components_property_random_graphs(spark):
    """Spark min-label propagation == union-find on random edge lists
    (fixed seeds so the test is deterministic)."""
    import random

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        nodes = list(range(30))
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(25)]
        edges = [(a, b) for a, b in edges if a != b]
        expected = _union_find_components(edges)
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = _labels(connected_components(pairs))
        assert got == expected, f"seed {seed}"


def test_pack_documents_invariants(spark):
    """Every bin's offset stays < budget; n_tokens/cumsum are consistent;
    doc order within a bin follows the ordering column."""
    docs = spark.createDataFrame(
        [(i, "tok " * ((i * 7) % 11 + 1)) for i in range(50)], ["doc_id", "text"]
    )
    rows = sorted(pack_documents(docs, budget=16).collect(), key=lambda r: r["doc_id"])
    cum = 0
    for r in rows:
        assert r["bin_id"] == cum // 16
        assert r["offset_in_bin"] == cum % 16
        cum += r["n_tokens"]


def test_pack_documents_precomputed_token_col(spark):
    docs = spark.createDataFrame([(1, "ignored", 10), (2, "ignored", 10)],
                                 ["doc_id", "text", "bpe"])
    rows = {r["doc_id"]: r for r in pack_documents(docs, budget=16, token_col="bpe").collect()}
    assert rows[1]["bin_id"] == 0 and rows[2]["bin_id"] == 0
    assert rows[2]["offset_in_bin"] == 10


def test_components_reliable_checkpoint_identical(spark, tmp_path):
    """d15's 100 TB guidance is executable: the session checkpoint dir is
    the one switch.  Unset, connected_components cuts each round with
    localCheckpoint; set, with reliable df.checkpoint() (survives
    executor loss), whose files land under the dir — and the labels are
    identical."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    ckpt = tmp_path / "ckpt"
    old_dir = spark.sparkContext.getCheckpointDir()
    try:
        # passing None clears it (SparkContext wraps with Option)
        spark.sparkContext.setCheckpointDir(None)
        expected = _labels(connected_components(pairs))
        assert not ckpt.exists()
        spark.sparkContext.setCheckpointDir(str(ckpt))
        assert _labels(connected_components(pairs)) == expected
        # a silent fall-back to localCheckpoint would write nothing here
        assert any(p.is_file() for p in ckpt.rglob("*"))
    finally:
        spark.sparkContext.setCheckpointDir(old_dir)


def test_components_nonconvergence_raises(spark):
    """Exhausting max_iter must be LOUD (ADVICE r4): partial labels
    silently under-deduplicate downstream."""
    import pytest

    pairs = spark.createDataFrame([(i, i + 1) for i in range(25)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1)


def test_pack_documents_sharded_plan_partitions_by_shard(spark):
    """The scale claim, asserted on the plan: the sharded window's
    exchange hash-partitions on the shard key (parallel windows), not a
    single global sort."""
    docs = spark.createDataFrame(
        [(i, "w " * (i % 3 + 1), i % 2) for i in range(20)],
        ["doc_id", "text", "shard_key"],
    )
    plan = pack_documents(docs, budget=4, shard_col="shard_key")._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(shard" in plan, plan
    # and the unsharded form is the single-partition window (documented)
    plan1 = pack_documents(docs, budget=4)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in plan1 or "hashpartitioning(shard" not in plan1


def test_pack_documents_keep_cols(spark, docs):
    from lawlm_spark.operators.packing import pack_documents

    out = pack_documents(
        docs.withColumn("lang2", F.col("lang")), budget=256,
        shard_col="lang2", keep_cols=("source",),
    )
    assert set(out.columns) == {"doc_id", "n_tokens", "source", "shard", "bin_id", "offset_in_bin"}
    assert out.count() == docs.count()


def test_curate_mix_pack_shape(spark, docs):
    """Splits are disjoint/exhaustive over the mixed corpus; bins are
    per-split; only targeted languages appear.  Value parity with DuckDB
    is the d21 oracle's job."""
    from lawlm_spark.plans.curation import curate_mix_pack

    registry: list = []
    out = curate_mix_pack(
        docs.select("doc_id", "text"),
        targets={"en": 3000.0, "fr": 50000.0},
        split_weights={"train": 0.8, "val": 0.2},
        budget=512,
        cache_registry=registry,
    ).collect()
    try:
        assert out
        assert {r["lang_guess"] for r in out} <= {"en", "fr"}
        assert {r["split"] for r in out} <= {"train", "val"}
        for r in out:
            assert 0 <= r["offset_in_bin"] < 512 or r["bin_id"] >= 0
        # bins numbered independently per split: every split starts at bin 0
        by_split = {}
        for r in out:
            by_split.setdefault(r["split"], []).append(r["bin_id"])
        for bins in by_split.values():
            assert min(bins) == 0
    finally:
        for df in registry:
            df.unpersist()


def test_curation_extra_pairs_drop_contained_quotes(spark, docs):
    """extra_pairs_fn composes a second dup source into curation: quote
    docs (prefix subsets) survive the MinHash-only path but collapse
    once containment edges join the component graph."""
    from pyspark.sql import functions as F

    from lawlm_spark.operators.dedup import containment_pairs
    from lawlm_spark.plans.curation import curate_documents

    base = docs.filter("doc_id % 10 = 0").select("doc_id", "text")
    quotes = docs.filter("doc_id % 30 = 0").select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.substring("text", 1, 200).alias("text"),
    )
    corpus = base.unionByName(quotes)

    def contain(exact):
        return containment_pairs(
            exact, "doc_id", "text", n=3, min_containment=0.5
        ).select(F.col("id_small").alias("id_a"), F.col("id_big").alias("id_b"))

    plain = curate_documents(corpus, min_quality=0.5, near_dup_jaccard=0.5)
    fused = curate_documents(
        corpus, min_quality=0.5, near_dup_jaccard=0.5, extra_pairs_fn=contain
    )
    plain_quotes = plain.filter("doc_id >= 300000").count()
    fused_quotes = fused.filter("doc_id >= 300000").count()
    assert plain_quotes > 0  # jaccard alone cannot see subset duplication
    assert fused_quotes == 0  # containment edges collapse every quote
    # non-quote results unchanged: the extra source only ADDS edges
    assert sorted(r["doc_id"] for r in fused.filter("doc_id < 300000").collect()) == \
        sorted(r["doc_id"] for r in plain.filter("doc_id < 300000").collect())


def test_component_quality_clique_vs_chain(spark):
    """A 4-clique scores density 1.0; a 4-chain scores 0.5 — the
    over-merge signal component_quality exists for."""
    from pyspark.sql import functions as F
    from lawlm_spark.operators.components import component_quality

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(10, 11), (11, 12), (12, 13)]
    pairs = spark.createDataFrame(clique + chain, "id_a long, id_b long")
    got = {
        r["component_id"]: (r["n_nodes"], r["n_edges"], r["density"])
        for r in component_quality(pairs).collect()
    }
    assert got[0] == (4, 6, 1.0)
    assert got[10] == (4, 3, 0.5)


def test_component_quality_ignores_duplicate_and_reversed_edges(spark):
    from lawlm_spark.operators.components import component_quality

    pairs = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (2, 3)], "id_a long, id_b long"
    )
    row = component_quality(pairs).collect()
    assert len(row) == 1
    assert (row[0]["n_nodes"], row[0]["n_edges"]) == (3, 2)


def test_pack_manifest_segments_tile_each_bin(spark, docs):
    """Within every bin, segments are offset-ordered and contiguous, and
    lengths sum to bin_tokens — the loader contract.  The FIRST offset
    is the previous bin's overflow tail (pack_documents never splits a
    doc, so a straddling doc occupies the next bin's head), hence >= 0
    but not necessarily 0."""
    from lawlm_spark.operators.packing import pack_documents, pack_manifest

    m = pack_manifest(pack_documents(docs, budget=512)).collect()
    assert len(m) > 1
    for row in m:
        segs = row["segments"]
        assert segs[0]["offset"] >= 0
        pos = segs[0]["offset"]
        for s in segs:
            assert s["offset"] == pos  # contiguous, no gaps or overlap
            pos += s["length"]
        assert pos - segs[0]["offset"] == row["bin_tokens"]
        assert len(segs) == row["n_docs"]
    # at least one bin starts mid-stream (a straddler exists at this SF)
    assert any(r["segments"][0]["offset"] > 0 for r in m)


def test_pack_manifest_sharded_keys(spark, docs):
    from lawlm_spark.operators.packing import pack_documents, pack_manifest

    packed = pack_documents(docs, budget=512, shard_col="lang")
    m = pack_manifest(packed, shard_col="shard")
    assert {r["shard"] for r in m.select("shard").distinct().collect()} == {
        r["lang"] for r in docs.select("lang").distinct().collect()
    }
