"""Deduplication family — exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup (task brief: first-class training-data ops).

The reference's only dedup is the incremental anti-join on docket ids
(data_extraction.py:110-123) and a duplicate-count audit
(tests/test_duplicates.py:95-117); those live in validation as V3/V4.
This module adds the content-level dedup a 100 TB corpus pipeline needs.

Scale design:
  exact        — md5 fingerprint groupBy: one shuffle on a 32-char key;
                 keep-first via min(id) (deterministic winner).
  jaccard      — shingle explode + self-equi-join on shingle.  Quadratic
                 in bucket size -> use only as the verifier behind an
                 LSH candidate filter at scale; exposed standalone for
                 small corpora and for the oracle.
  minhash_lsh  — signatures via lexicographic min of seeded md5 over
                 shingles (portable across engines: no int conversion),
                 banded; candidate pairs = self-join on band key.  This
                 is the scale path: shuffles are linear in corpus size,
                 and the band join only collides near-duplicates.
  simhash      — 32-bit simhash from per-token md5 bits; bucket by
                 simhash for exact-collision candidates.
  embedding    — cosine >= threshold pair join: `embedding_dup_pairs`
                 is the O(n²) baseline/oracle target;
                 `embedding_dup_pairs_lsh` is the bucketed scale path
                 (reuses operators/similarity.py's hyperplanes).

All hash math is md5-based so the DuckDB oracle computes identical
values (SURVEY.md §5.3 hash-match contract).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lawlm_spark.functions.text import fingerprint, shingles
from lawlm_spark.functions.vectors import cosine
from lawlm_spark.session import lineage_cut, materialize


# ---------------------------------------------------------------------------
# Exact dedup


def exact_dupes(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Fingerprint groups with >1 member: (fp, n_dupes, keeper_id)."""
    return (
        docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_dupes"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_dupes") > 1)
    )


def dedup_exact(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep-first exact dedup: one row per distinct fingerprint."""
    fp = docs.withColumn("fp", fingerprint(F.col(text_col)))
    keepers = fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return fp.join(keepers, [id_col, "fp"], "left_semi").drop("fp")


# ---------------------------------------------------------------------------
# Shingle / token-set Jaccard


def shingle_table(docs: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle, set_size): exploded distinct n-gram shingles."""
    sh = docs.select(id_col, shingles(F.col(text_col), n).alias("_sh")).filter(
        F.size("_sh") > 0
    )
    return sh.select(id_col, F.explode("_sh").alias("shingle"), F.size("_sh").alias("set_size"))


def jaccard_pairs(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3, min_jaccard: float = 0.5
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard: (id_a, id_b, jaccard), id_a < id_b.

    Self-equi-join on shingle -> |A∩B| counts; |A∪B| from the carried set
    sizes.  At scale, gate with `lsh_candidate_pairs` first.
    """
    # the shingle table feeds both self-join sides — cut so the corpus
    # is shingled once, not once per side (the minhash_dedup_pairs
    # persist policy, via checkpoint)
    sh = lineage_cut(shingle_table(docs, id_col, text_col, n))
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("shingle"), F.col("set_size").alias("size_a")
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("shingle"), F.col("set_size").alias("size_b")
    )
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    return (
        common.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH


def _seeded_min_hash(j: int) -> Column:
    """Hash function j: lexicographic min of md5("{j}:{shingle}") over the
    doc's shingle set.  A string-min is portable to the oracle verbatim."""
    return F.min(F.md5(F.concat_ws(":", F.lit(str(j)), F.col("shingle")))).alias(f"mh{j}")


def signatures_from_shingles(sh: DataFrame, id_col: str, num_hashes: int = 16) -> DataFrame:
    """MinHash signatures from an existing shingle table (share one scan
    across signature/banding/verification consumers)."""
    return sh.groupBy(id_col).agg(*[_seeded_min_hash(j) for j in range(num_hashes)])


def minhash_signatures(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 16
) -> DataFrame:
    """(id, mh0..mh{H-1}): MinHash signature per document.

    One explode + one hash aggregate; H min()s computed in a single pass
    (columnar, no per-hash shuffle).
    """
    return signatures_from_shingles(shingle_table(docs, id_col, text_col, n), id_col, num_hashes)


def band_table(sig: DataFrame, id_col: str, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, band_key) LSH band rows from a signature table.

    One inline() explode instead of a bands-way union: the union would
    re-execute the signature aggregate once per band; inline() scans it
    exactly once.  This table IS the persistent near-dup index shape —
    write it to a mirror and new batches join against it incrementally.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws("|", *[F.col(f"mh{bi * r + k}") for k in range(r)]).alias("band_key"),
            )
            for bi in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.inline(band_structs))


def cap_band_buckets(band_rows: DataFrame, max_band_bucket: int) -> DataFrame:
    """Drop LSH buckets with > max_band_bucket members before pairing.

    The hot-key guard: one degenerate band key (boilerplate-heavy docs,
    near-empty shingle sets) creates |bucket|² candidate pairs and a
    straggler task that dominates the whole job at scale.  Standard
    MinHashLSH practice is to skip oversized buckets — their members can
    still pair through any of their OTHER bands, so recall degrades
    gracefully rather than the join exploding.

    This is a recall cutoff, not a silent one: measure what a cap drops
    with `band_bucket_sizes(band_rows).filter(f"n > {cap}")` before
    choosing it.  Implemented as a windowed count over the same
    (band, band_key) partitioning the pair join shuffles on — one
    pipeline, no second execution of the signature aggregate (Spark
    shares no subplans, so a groupBy+semi-join formulation would run the
    whole shingle+signature stage twice).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("band", "band_key")
    return (
        band_rows.withColumn("_bsz", F.count("*").over(w))
        .filter(F.col("_bsz") <= max_band_bucket)
        .drop("_bsz")
    )


def band_bucket_sizes(band_rows: DataFrame) -> DataFrame:
    """(band, band_key, n) bucket-size histogram — the skew diagnostic to
    run before choosing a cap for `cap_band_buckets`."""
    return band_rows.groupBy("band", "band_key").agg(F.count("*").alias("n"))


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    sh: DataFrame | None = None,
    max_band_bucket: int | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a, id_b) sharing >= 1 LSH band.

    rows-per-band r = num_hashes/bands; collision prob ≈ 1-(1-s^r)^b.
    The band join shuffles on the band key only — linear in corpus size.
    `max_band_bucket` arms the hot-bucket guard (cap_band_buckets).

    `cache_registry` (r19, guide §2.4 — remove a whole pass): the band
    table feeds BOTH self-join sides, and Spark shares no subplans, so
    uncached the signature aggregate (num_hashes md5+min per shingle
    row — the chain's CPU center) and the band explode execute TWICE,
    once per side.  With a registry the band rows are eagerly persisted
    (count-forced, the shingle-persist protocol above) so the signature
    pass runs ONCE; the handle is appended for the caller to unpersist
    after its final consuming action.  Corpus×bands narrow rows — at
    100 TB checkpoint to reliable storage instead, same as the shingle
    table."""
    if sh is None:
        sh = shingle_table(docs, id_col, text_col, n)
    sig = signatures_from_shingles(sh, id_col, num_hashes)
    band_rows = band_table(sig, id_col, num_hashes, bands)
    if max_band_bucket is not None:
        band_rows = cap_band_buckets(band_rows, max_band_bucket)
    if cache_registry is not None:
        band_rows, _n = materialize(band_rows, cache_registry)
    a = band_rows.select(F.col(id_col).alias("id_a"), "band", "band_key")
    b = band_rows.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_on_pairs(
    pairs: DataFrame, sh: DataFrame, id_col: str, min_jaccard: float = 0.5
) -> DataFrame:
    """True Jaccard computed ONLY for the given (id_a, id_b) pairs.

    Joins the shingle table to each side of the pair list — shuffles are
    linear in |pairs| * avg_set_size, never quadratic in corpus size.
    This is the verifier that belongs behind an LSH candidate filter.
    """
    a = sh.select(
        F.col(id_col).alias("id_a"), "shingle", F.col("set_size").alias("size_a")
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), "shingle", F.col("set_size").alias("size_b")
    )
    common = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    return (
        common.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    min_jaccard: float = 0.5,
    cache_registry: list[DataFrame] | None = None,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """LSH candidates verified by true Jaccard — the full scale path.

    The quadratic shingle self-join never runs: Jaccard is evaluated only
    on the candidate pairs the band join surfaced (jaccard_on_pairs).

    The shingle table feeds three consumers (signatures, verify-side a,
    verify-side b); Spark shares no subplans, so it is persisted AND
    eagerly forced (count) — a lazy persist would still compute it once
    per branch within the first action (concurrent branches race to
    populate the cache; seen as 'Block already exists' in round 2).
    At 100 TB you would checkpoint it to reliable storage instead.

    The persisted frame outlives this call (the returned plan reads it),
    so it cannot be unpersisted here.  Pass `cache_registry` to receive
    the handle and `unpersist()` after your final consuming action;
    without it the block stays cached until session LRU eviction — fine
    for one-shot jobs, a leak in long-lived sessions.

    With a registry the BAND table is persisted too (r19), which cuts
    the second execution of the signature aggregate the band self-join
    otherwise pays — see lsh_candidate_pairs.
    """
    sh, _n = materialize(shingle_table(docs, id_col, text_col, n), cache_registry)
    cand = lsh_candidate_pairs(
        docs, id_col, text_col, n, num_hashes, bands, sh=sh,
        max_band_bucket=max_band_bucket, cache_registry=cache_registry,
    )
    return jaccard_on_pairs(cand, sh, id_col, min_jaccard)


# ---------------------------------------------------------------------------
# SimHash (32-bit, md5-derived so the oracle can reproduce it)


def simhash32(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash): 32-bit SimHash over the token multiset.

    Per token, bit i of md5's first 8 hex chars votes +1/-1; the sign of
    each bit-sum forms the fingerprint.  Explode + single aggregate with
    32 conditional sums — one shuffle on id.
    """
    from lawlm_spark.functions.text import tokenize

    toks = docs.select(id_col, F.explode(tokenize(F.col(text_col))).alias("tok"))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    toks = toks.select(id_col, h.alias("h32"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h32"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(32)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    sim = None
    for i in range(32):
        term = F.when(F.col(f"b{i}") > 0, F.lit(2 ** i).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return agg.select(id_col, sim.alias("simhash"))


def simhash_buckets(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-simhash collision groups (cheap near-dup candidates)."""
    sh = simhash32(docs, id_col, text_col)
    return (
        sh.groupBy("simhash")
        .agg(F.count("*").alias("n"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n") > 1)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup


def embedding_dup_pairs(
    emb: DataFrame, id_col: str, vec_col: str, min_cos: float = 0.95
) -> DataFrame:
    """Brute-force cosine pair join (id_a < id_b, cos >= threshold).

    O(n²) — correct baseline and the oracle target; the LSH-bucketed
    variant in operators/similarity.py is the 100 TB path.
    """
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select("id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"))
        .filter(F.col("cos") >= min_cos)
    )


def embedding_dup_pairs_lsh(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    min_cos: float = 0.95,
    num_planes: int = 8,
    max_bucket: int | None = None,
    extra_planes: int = 4,
) -> DataFrame:
    """Bucketed embedding near-dup pairs — the 100 TB path.

    Random-hyperplane LSH buckets (reusing operators/similarity.py's
    deterministic md5-seeded planes) gate the pair join: only vectors in
    the SAME bucket are compared, so the shuffle is on the bucket key and
    the pair work is quadratic only within buckets (high-cos vectors
    collide with prob (1 - theta/pi)^planes).  Recall < 1 by construction;
    raise recall by lowering num_planes or unioning rotated plane sets.

    Hot-bucket guard (`max_bucket`, r13 — the semdedup-guard design
    applied to this module's own quadratic path): correlated embeddings
    can pile most vectors into ONE sign-pattern bucket, whose |bucket|²
    pairs land in a single shuffle partition.  Armed, buckets over the
    cap are REFINED with `extra_planes` additional planes (indices
    num_planes..num_planes+extra-1, same md5 family — deterministic),
    shrinking the expected hot partition by ~2^extra while
    near-identical vectors keep colliding with prob ~1.  Unlike
    cap_band_buckets this never DROPS rows — refinement trades a little
    recall on far-apart pairs (which min_cos mostly rejects anyway) for
    a bounded partition.  Unarmed (default), the plan is unchanged.
    The windowed COUNT rides the coarse-bucket partitioning, but the
    armed pair join then hashes on the REFINED key (bucket || extra
    bits), which differs from the window's coarse-bucket partitioning:
    arming adds one additional exchange PER JOIN SIDE (coarse-bucket
    window shuffle feeding the refined-key join shuffle — 2 exchanges
    vs 4 in the physical plan; shape pinned by
    test_lsh_refined_guard_plan_shape).
    """
    from lawlm_spark.operators.similarity import rp_lsh_bucket

    bucketed = emb.select(
        F.col(id_col), F.col(vec_col), rp_lsh_bucket(F.col(vec_col), dim, num_planes).alias("bucket")
    )
    if max_bucket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("bucket")
        refined = F.concat(
            F.col("bucket"),
            rp_lsh_bucket(F.col(vec_col), dim, extra_planes, start=num_planes),
        )
        bucketed = (
            bucketed.withColumn("_bsz", F.count("*").over(w))
            .withColumn(
                "bucket",
                F.when(F.col("_bsz") > max_bucket, refined).otherwise(
                    F.col("bucket")
                ),
            )
            .drop("_bsz")
        )
    a = bucketed.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket")
    b = bucketed.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"))
        .filter(F.col("cos") >= min_cos)
    )


# ---------------------------------------------------------------------------
# Incremental near-dup: new batch vs an indexed corpus, O(|new|) work


def near_dup_index(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 16, bands: int = 4
) -> tuple[DataFrame, DataFrame]:
    """Build the persistent near-dup index for a corpus: (shingles, bands).

    Computed ONCE per corpus and written to a mirror (plain parquet, or
    `write_mirror_bucketed` on band_key when new batches are too large to
    broadcast); every later batch is judged against it incrementally —
    the full-recompute alternative re-shingles the whole corpus per
    batch, which is the scale-killer this index removes.
    """
    sh = shingle_table(docs, id_col, text_col, n)
    sig = signatures_from_shingles(sh, id_col, num_hashes)
    return sh, band_table(sig, id_col, num_hashes, bands)


def _cut_near_dup_index(
    docs: DataFrame, id_col: str, text_col: str, n: int, num_hashes: int, bands: int
) -> tuple[DataFrame, DataFrame]:
    """near_dup_index's (shingles, bands) for `docs`, each lineage-cut.

    A batch's shingles feed the signature chain AND the verify union,
    its bands both the probe side and the within-batch peer side —
    uncut, each consumer re-shingles the batch (part of the 14
    FileScans in the r8 d20 audit).  Both tables are per-document and
    deterministic, so the rows of any id subset equal near_dup_index
    over that subset: the streaming judge appends its survivors' rows
    from here instead of shingling and signing them again."""
    sh = lineage_cut(shingle_table(docs, id_col, text_col, n))
    sig = signatures_from_shingles(sh, id_col, num_hashes)
    return sh, lineage_cut(band_table(sig, id_col, num_hashes, bands))


def incremental_near_dup_pairs(
    new_docs: DataFrame,
    index_shingles: DataFrame,
    index_bands: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    min_jaccard: float = 0.5,
    broadcast_new: bool = True,
) -> DataFrame:
    """(id_new, id_matched, jaccard): new docs that near-duplicate the
    indexed corpus OR an earlier (smaller-id) doc of the same batch.

    Work is linear in the BATCH, not the corpus: only the new docs are
    shingled/signed, and with `broadcast_new` (the common case — batches
    are small next to a 100 TB corpus) the band join broadcasts the new
    side, so the corpus index streams through map-side with NO shuffle
    and no scan beyond the index tables themselves.  For batches too big
    to broadcast, set broadcast_new=False and store the index bucketed
    on band_key (sources/mirror.write_mirror_bucketed): the shuffle then
    hits only the new side.  Candidates are Jaccard-verified against the
    union shingle table (linear in |pairs| * set_size, as always).

    Ids must be unique across corpus+batch (the ingest key contract,
    functions/keys.py).  Corpus matches report every hit; within-batch
    matches report only (a, b<a) so a batch dedups against itself the
    same keep-first way minhash_dedup_pairs does.
    """
    new_sh, new_bands = _cut_near_dup_index(
        new_docs, id_col, text_col, n, num_hashes, bands
    )
    return _pairs_against_index(
        new_sh, new_bands, index_shingles, index_bands, id_col, min_jaccard,
        broadcast_new,
    )


def _pairs_against_index(
    new_sh: DataFrame,
    new_bands: DataFrame,
    index_shingles: DataFrame,
    index_bands: DataFrame,
    id_col: str,
    min_jaccard: float,
    broadcast_new: bool = True,
) -> DataFrame:
    """incremental_near_dup_pairs over a batch's already-built (cut)
    index rows."""
    a = new_bands.select(F.col(id_col).alias("id_new"), "band", "band_key")
    if broadcast_new:
        a = F.broadcast(a)
    prior = index_bands.select(
        F.col(id_col).alias("id_matched"), "band", "band_key", F.lit(True).alias("_idx")
    )
    peers = new_bands.select(
        F.col(id_col).alias("id_matched"), "band", "band_key", F.lit(False).alias("_idx")
    )
    cand = (
        a.join(prior.unionByName(peers), ["band", "band_key"])
        .filter(F.col("_idx") | (F.col("id_matched") < F.col("id_new")))
        .select("id_new", "id_matched")
        .distinct()
    )
    pairs = cand.select(F.col("id_new").alias("id_a"), F.col("id_matched").alias("id_b"))
    verified = jaccard_on_pairs(
        pairs, index_shingles.unionByName(new_sh), id_col, min_jaccard
    )
    return verified.select(
        F.col("id_a").alias("id_new"), F.col("id_b").alias("id_matched"), "jaccard"
    )


def apply_incremental_near_dup(new_docs: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Kept new docs: anti-join away everything incremental_near_dup_pairs
    matched.  Append the survivors (docs + their index rows) to the
    corpus mirror and the index stays consistent for the next batch."""
    hit = pairs.select(F.col("id_new").alias(id_col)).distinct()
    return new_docs.join(hit, id_col, "left_anti")


def containment_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_containment: float = 0.8,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT:
    (id_small, id_big, containment) with containment = |A∩B| / |A|
    for the smaller-set side A (ties to the lower id).

    Jaccard misses subset duplication by construction: a 100-shingle
    doc fully embedded in a 10,000-shingle page scores J ≈ 0.01 but
    containment 1.0.  This is the Broder containment measure — the
    right test for quote extraction, wrapper/boilerplate pages, and
    partial-crawl re-fetches.

    Same one-shuffle shape as jaccard_pairs (shingle equi-join +
    intersection count); the direction normalization is pure
    projection.  At scale, gate with lsh_candidate_pairs first —
    NOTE that MinHash approximates Jaccard, not containment, so a
    high-containment/low-Jaccard pair needs either a lower LSH
    threshold or the exact path on a blocked subset.
    """
    # the shingle table feeds both self-join sides — cut so the corpus
    # is shingled once, not once per side (the minhash_dedup_pairs
    # persist policy, via checkpoint)
    sh = lineage_cut(shingle_table(docs, id_col, text_col, n))
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("shingle"), F.col("set_size").alias("size_a")
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("shingle"), F.col("set_size").alias("size_b")
    )
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("n_common"))
    )
    # the smaller set is the contained candidate; ties keep id order
    small_is_a = (F.col("size_a") < F.col("size_b")) | (
        (F.col("size_a") == F.col("size_b")) & (F.col("id_a") < F.col("id_b"))
    )
    cont = F.col("n_common") / F.least(F.col("size_a"), F.col("size_b"))
    return (
        common.select(
            F.when(small_is_a, F.col("id_a")).otherwise(F.col("id_b")).alias("id_small"),
            F.when(small_is_a, F.col("id_b")).otherwise(F.col("id_a")).alias("id_big"),
            F.round(cont, 6).alias("containment"),
        )
        .filter(F.col("containment") >= min_containment)
    )


def prefix_filter_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (the
    PPJoin/AllPairs family, Bayardo et al. 2007) — zero false negatives,
    unlike MinHash-LSH's probabilistic recall.

    Order each set's shingles by global rarity (document frequency asc,
    shingle asc — a total order both engines agree on); a pair with
    Jaccard >= t must overlap in at least ceil(t*|x|) elements per side,
    so each set only needs to expose its first |x| - ceil(t*|x|) + 1
    shingles: any qualifying pair MUST collide inside these prefixes
    (prefix lemma; per-side prefix lengths are >= the shared-alpha form,
    so the guarantee carries).  Candidates then verify with the exact
    Jaccard counter.

    Scale: the candidate join runs over PREFIX rows only — the rarest
    ~(1-t) fraction of each set — and rare shingles have small postings
    by construction, so bucket sizes stay bounded where the raw
    shingle-join explodes on stopword shingles.  Two shuffles (df
    aggregate, per-doc rank window) + the candidate join.  When t is
    low (long prefixes) fall back to minhash_dedup_pairs; when misses
    are unacceptable (decontamination, eval-set isolation) this is the
    operator.

    Certification: d54 pins the whole path against the BRUTE-FORCE
    all-pairs Jaccard oracle — equality is exactly the no-false-negative
    claim.
    """
    from pyspark.sql import Window

    sh = shingle_table(docs, id_col, text_col, n)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy(id_col).orderBy("_df", "shingle")
    ranked = sh.join(dfreq, "shingle").select(
        id_col, "shingle", "set_size", F.row_number().over(w).alias("_rk")
    )
    plen = (
        F.col("set_size")
        - F.ceil(F.lit(float(min_jaccard)) * F.col("set_size"))
        + 1
    )
    prefix = ranked.filter(F.col("_rk") <= plen)
    a = prefix.select(F.col(id_col).alias("id_a"), "shingle")
    b = prefix.select(F.col(id_col).alias("id_b"), "shingle")
    cand = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return jaccard_on_pairs(cand, sh, id_col, min_jaccard)


def lsh_tuning(
    min_jaccard: float, num_hashes: int
) -> dict:
    """Pick the banding (b bands x r rows, b*r = num_hashes) whose
    S-curve threshold (1/b)^(1/r) sits closest below `min_jaccard` —
    the config chooser for minhash_dedup_pairs/near_dup_index, so
    callers stop hand-tuning bands (MMDS §3.4.3: detection probability
    1 - (1 - s^r)^b jumps at the threshold).

    Returns {bands, rows, threshold, p_at_min_jaccard} — pure driver
    math over ≤ num_hashes divisor candidates, nothing distributed.
    Preference order: highest threshold still <= min_jaccard (fewest
    false positives without losing true pairs); if every banding's
    threshold exceeds min_jaccard, the closest one (max recall).
    """
    if not 0.0 < min_jaccard <= 1.0:
        raise ValueError(f"min_jaccard must be in (0, 1], got {min_jaccard}")
    cands = []
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        thr = (1.0 / b) ** (1.0 / r)
        p = 1.0 - (1.0 - min_jaccard**r) ** b
        cands.append({"bands": b, "rows": r, "threshold": thr, "p_at_min_jaccard": p})
    below = [c for c in cands if c["threshold"] <= min_jaccard]
    pick = (
        max(below, key=lambda c: c["threshold"])
        if below
        else min(cands, key=lambda c: c["threshold"])
    )
    return pick
