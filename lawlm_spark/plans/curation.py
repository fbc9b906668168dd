"""Training-data curation pipeline (task brief: the composition a
large-scale pretraining-data pipeline runs): dedup -> language filter ->
quality filter -> token budgeting.

Every stage is a pure Catalyst expression or a linear-shuffle operator,
so the whole plan is one pass over the corpus plus the dedup shuffles:

  1. exact dedup       keep-first on md5 fingerprint (one shuffle)
  2. near-dup removal  MinHash-LSH candidates -> gated Jaccard -> drop
                       the higher id of each verified pair (linear)
  3. language gate     lang_id == wanted
  4. quality gate      quality_score >= threshold
  5. token accounting  canonical + BPE-ish counts for budget tracking

The whole pipeline is SQL-expressible (md5-based hashing throughout) —
certified end-to-end by the d12_curation oracle query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lawlm_spark.functions.text import (
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    quality_score,
    word_count,
)
from lawlm_spark.operators.dedup import minhash_dedup_pairs
from lawlm_spark.session import materialize


def curate_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str | None = "en",
    min_quality: float = 0.5,
    near_dup_jaccard: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    cache_registry: list[DataFrame] | None = None,
    near_dup_strategy: str = "components",
    extra_pairs_fn=None,
) -> DataFrame:
    """Returns the curated corpus: (id, text, lang_guess, quality,
    n_tokens, bpe_tokens), exact+near deduped, language/quality gated.

    `extra_pairs_fn` (optional): a callable evaluated on the
    exact-deduped corpus returning additional duplicate pairs with
    id_a/id_b columns — e.g. shingle containment
    (dedup.containment_pairs, renamed) to also collapse subset
    duplication, or embedding-space pairs (semdedup_pairs).  The extra
    edges union with the MinHash pairs BEFORE canonicalization, so
    components stay transitive-closure-correct across dup sources
    (certified end-to-end by the d43 oracle).

    Persisted intermediates feed the RETURNED lazy plan, so they cannot
    be unpersisted here.  Pass `cache_registry` to collect the handles
    and `unpersist(blocking=False)` them after your final consuming
    action (bench.py does); otherwise cached blocks live until session
    LRU eviction."""
    # 1. exact dedup, keep-first (min id per fingerprint)
    fp = docs.select(F.col(id_col), F.col(text_col), fingerprint(F.col(text_col)).alias("_fp"))
    keep = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    # EAGERLY-populated persist: this frame feeds the minhash chain, the
    # anti-join AND the final projection — all branches of ONE downstream
    # action.  A lazy persist does not dedupe work within a single job
    # (every branch computes the partitions and races to cache them — the
    # round-2 bench showed 'Block already exists' races and a 12 s
    # b_curation); the count() forces the cache to fill once up front
    # (driver-like measure: 12.2 s -> 8.0 s).  persist-then-force beats
    # localCheckpoint here: lineage survives for recompute-on-eviction and
    # warm re-runs are 2x faster.  At 100 TB, checkpoint to reliable
    # storage instead.
    exact, _n = materialize(
        fp.join(keep, [id_col, "_fp"], "left_semi").drop("_fp"), cache_registry
    )

    # 2. near-dup removal.  'components' (default) keeps the min id per
    # CONNECTED COMPONENT of verified pairs — chain/star-correct (edges
    # (2,10),(3,10) keep only 2; pairwise would keep 2 AND 3, transitive
    # near-dups of each other).  'pairs' is the greedy
    # drop-the-higher-id-of-each-pair variant.
    pairs = minhash_dedup_pairs(
        exact, id_col, text_col, num_hashes=num_hashes, bands=bands,
        min_jaccard=near_dup_jaccard, cache_registry=cache_registry,
    )
    if extra_pairs_fn is not None:
        extra = extra_pairs_fn(exact).select("id_a", "id_b")
        pairs = pairs.select("id_a", "id_b").unionByName(extra).distinct()
    if near_dup_strategy == "components":
        from lawlm_spark.operators.components import dedup_by_component

        deduped = dedup_by_component(exact, pairs, id_col)
    elif near_dup_strategy == "pairs":
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
        deduped = exact.join(losers, id_col, "left_anti")
    else:
        raise ValueError(f"unknown near_dup_strategy {near_dup_strategy!r}")

    # 3-5. language gate, quality gate, token accounting — one projection
    out = deduped.select(
        F.col(id_col),
        F.col(text_col),
        lang_id(F.col(text_col)).alias("lang_guess"),
        F.round(quality_score(F.col(text_col)), 4).alias("quality"),
        word_count(F.col(text_col)).alias("n_tokens"),
        bpe_ish_token_count(F.col(text_col)).alias("bpe_tokens"),
    )
    gate = F.col("quality") >= min_quality
    if lang is not None:  # lang=None keeps all languages (for mixing)
        gate = gate & (F.col("lang_guess") == lang)
    return out.filter(gate)


def curate_mix_pack(
    docs: DataFrame,
    targets: dict[str, float],
    split_weights: dict[str, float],
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    near_dup_jaccard: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    cache_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """The full training-data prep pipeline, one lazy plan end to end:

      curate     exact + near dedup, quality gate, ALL languages kept
      mix        per-language token budgets (`targets`) via deterministic
                 hash sampling — the recipe IS the mix
      split      disjoint train/val/test by cumulative hash ranges
      pack       token-budget bins PER SPLIT (shard_col='split': a bin
                 never mixes train and test docs, and the cumsum window
                 parallelizes across splits)

    Returns (doc_id, n_tokens, split, lang_guess, bin_id, offset_in_bin).
    Every stage is deterministic and layout-stable, so the same corpus
    always yields the same bins — across reruns, engines and cluster
    sizes (certified end-to-end by the d21 oracle).
    """
    from lawlm_spark.operators.packing import pack_documents
    from lawlm_spark.operators.sampling import hash_split, training_mix

    curated = curate_documents(
        docs, id_col=id_col, text_col=text_col, lang=None,
        min_quality=min_quality, near_dup_jaccard=near_dup_jaccard,
        num_hashes=num_hashes, bands=bands, cache_registry=cache_registry,
    )
    mixed = training_mix(curated, id_col, "lang_guess", "n_tokens", targets)
    split = hash_split(mixed, id_col, split_weights)
    return pack_documents(
        split, budget, id_col=id_col, text_col=text_col,
        shard_col="split", token_col="n_tokens", keep_cols=("lang_guess",),
    ).withColumnRenamed("shard", "split")
