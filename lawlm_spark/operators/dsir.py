"""Data Selection via Importance Resampling (DSIR) — distribution-
matching document selection (Xie et al. 2023, "Data Selection for
Language Models via Importance Resampling", NeurIPS).  Given a TARGET
slice of the corpus (the distribution you want more of) and the RAW
corpus, score every document by its hashed-n-gram importance log-ratio
log p_target(doc) - log p_raw(doc) under bag-of-hashed-ngrams models,
then keep the top-k.  This is the published scalable recipe for "pick
pretraining data that looks like the target domain" — a selection
axis none of the existing families cover: dedup removes repeats,
quality rules (d56/d27) gate on absolute signals, the mixers
(d19/d32) reweight SOURCES; DSIR selects individual documents by
distributional similarity to a target.

Reference surface: beyond-reference training-pipeline operator (like
d74 winnowing, d38 semdedup); the reference's only selection gate is
the single min-length threshold (data_extraction.py:136-139).

Model (faithful to the paper's hashed n-gram variant):

- Features: unigrams + adjacent bigrams of the canonical tokenizer
  (functions/text.py::tokenize — lowercase alnum runs), hashed into
  `num_buckets` buckets via md5 (the d65 hashing-trick idiom —
  vocabulary-free, layout-stable, replayable cross-engine).
- Both models are add-one-smoothed multinomials over the bucket
  space: p(b) = (c_b + 1) / (N + B).  A document's importance weight
  is sum over its feature OCCURRENCES of
  ln p_t(b) - ln p_r(b)  (the log of the product over features).
- Because the target is a subset predicate over the same corpus, one
  scan builds BOTH count tables: groupBy(bucket) with a conditional
  sum — the bucket table is bounded by B rows and broadcasts back.

Scale (the 100 TB shape): TWO corpus explode passes — one feeding the
bucket-keyed count aggregate (bounded at B rows; map-side partial agg
collapses each task's stream to <= B rows before the exchange), one
as the stream side of the scoring join.  The lineage cut on the count
table keeps the BROADCAST log-ratio build from replaying the explode
a third time; replaying the codegen explode once more beats
persisting the occurrence stream (per-token rows, far larger than the
corpus).  The per-doc sum shuffles once on the doc key.  Selection is TakeOrderedAndProject
(per-partition partial top-k + merge) for the k-th boundary row —
never a global single-partition window sort — and the boundary row
broadcasts into the flag projection.  Float discipline: scores are
round(.., 6) like the NLL family (d31/d40); ranking compares ROUNDED
scores with the doc id as a total-order tiebreak, so both engines
select the identical set.

Sizing num_buckets: the ratio table is one (bucket, lr) row per
bucket — ~16 bytes each — so it broadcasts comfortably up to ~10^7
buckets; the DSIR paper's hashed variant uses 10^4.  More buckets =
fewer collisions (sharper models) at no plan change; the certified
entry uses 512 to force collision coverage at test scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lawlm_spark.functions.text import let_bound, tokenize
from lawlm_spark.session import lineage_cut


def hashed_ngram_occurrences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 512,
    salt: str = "dsir",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [extra_cols...], bucket): one row per unigram/bigram
    OCCURRENCE, bucket = md5(salt:feature) first 8 hex digits mod
    num_buckets (the d65 feature-hash idiom).  Bigrams join adjacent
    tokens with '_' — unambiguous because tokens are [a-z0-9] runs.
    Docs with zero tokens emit no rows (callers left-join them back);
    a NULL text behaves like an empty one (NULL token array drops at
    the explode on both engines).  Pure codegen at the scan: no
    vocabulary pass, no Python."""
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")

    def _feats(t: Column) -> Column:
        n = F.size(t)
        # sequence(1, n-1) DESCENDS when n < 2 — guard to an empty list
        # (the oracle's generate_series(1, 0) is empty by definition)
        bigrams = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.concat_ws(
                    "_", F.element_at(t, i), F.element_at(t, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(t, bigrams)

    feats = let_bound(tokenize(F.col(text_col)), _feats)
    h = F.md5(F.concat_ws(":", F.lit(salt), F.col("_feat")))
    bucket = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % num_buckets
    ).alias("bucket")
    return docs.select(
        F.col(id_col), *[F.col(c) for c in extra_cols], F.explode(feats).alias("_feat")
    ).select(id_col, *extra_cols, bucket)


def dsir_importance(
    docs: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 512,
    salt: str = "dsir",
) -> DataFrame:
    """(id, n_feats, lr_score): per-document DSIR importance log-ratio.
    `target_pred` is a boolean Column over `docs` defining the target
    slice (e.g. F.col('lang') == 'en').  lr_score = round(sum over
    feature occurrences of ln p_t(b) - ln p_r(b), 6); docs with no
    features score (0, 0.0).  When the target is the whole corpus the
    two models coincide and every score is exactly 0.0 (pinned test).

    Two corpus explode passes (counts + the scoring-join stream side);
    the (cr, ct) bucket table (<= num_buckets rows) is lineage-cut so
    its two consumers (totals + ratio) don't replay the explode a
    third time; totals ride as a broadcast singleton; the scoring
    join broadcasts the ratio table; per-doc aggregate is the only
    doc-keyed exchange."""
    occ = hashed_ngram_occurrences(
        docs.withColumn("_tgt", target_pred),
        id_col,
        text_col,
        num_buckets,
        salt,
        extra_cols=("_tgt",),
    )
    counts = lineage_cut(
        occ.groupBy("bucket").agg(
            F.count("*").alias("cr"),
            F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("ct"),
        )
    )
    # ungrouped sums are NULL on an empty corpus — keep denom finite
    totals = counts.groupBy().agg(
        F.coalesce(F.sum("cr"), F.lit(0)).alias("nr"),
        F.coalesce(F.sum("ct"), F.lit(0)).alias("nt"),
    )
    b = F.lit(num_buckets)
    lr = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("ct") + 1) / (F.col("nt") + b))
            - F.log((F.col("cr") + 1) / (F.col("nr") + b))
        ).alias("_lr"),
    )
    per_doc = (
        occ.join(F.broadcast(lr), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_feats"),
            F.round(F.sum("_lr"), 6).alias("lr_score"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            F.coalesce("lr_score", F.lit(0.0)).alias("lr_score"),
        )
    )


def dsir_select(
    scored: DataFrame,
    k: int,
    id_col: str = "doc_id",
    score_col: str = "lr_score",
    keep_all: bool = False,
    cache_registry: list | None = None,
) -> DataFrame:
    """Top-k selection by (score desc, id asc) — the resampling step
    with a deterministic total order (scores are pre-rounded by
    dsir_importance, so rank boundaries agree across engines and
    reruns).  keep_all=True returns EVERY row plus a `selected`
    boolean instead of filtering.

    Scale: the k-th boundary row comes from orderBy(..).limit(k)
    (TakeOrderedAndProject — per-partition partial top-k, never a
    single-partition window over the corpus) and broadcasts into the
    flag projection.  `scored` is consumed by both the boundary probe
    and the output, so it is persisted; the handle outlives this call
    (the returned plan reads it) — pass `cache_registry` to receive
    it and unpersist after your final consuming action.  An empty
    input selects nothing."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    scored = scored.persist()
    if cache_registry is not None:
        cache_registry.append(scored)
    desc_order = [F.col(score_col).desc(), F.col(id_col).asc()]
    kth = (
        scored.orderBy(*desc_order)
        .limit(k)
        .orderBy(F.col(score_col).asc(), F.col(id_col).desc())
        .limit(1)
        .select(
            F.col(score_col).alias("_kth_score"), F.col(id_col).alias("_kth_id")
        )
    )
    flagged = scored.crossJoin(F.broadcast(kth)).withColumn(
        "selected",
        (F.col(score_col) > F.col("_kth_score"))
        | (
            (F.col(score_col) == F.col("_kth_score"))
            & (F.col(id_col) <= F.col("_kth_id"))
        ),
    )
    out_cols = [c for c in scored.columns] + ["selected"]
    if keep_all:
        # left join keeps every row when the boundary probe is empty
        # (empty input) — crossJoin already yields zero rows there
        return flagged.select(*out_cols)
    return flagged.filter(F.col("selected")).select(*scored.columns)
