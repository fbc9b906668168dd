"""Corpus-quality operators for training-data prep (task brief:
first-class LLM-pipeline components beyond the reference surface).

Three filters every large pretraining pipeline runs that were missing
from the family (dedup/sampling/mix/pack/PII/boilerplate live in their
own modules):

  repetition_metrics — Gopher-style within-document repetition signals
      (duplicate-line fraction, top-bigram fraction).  Highly repetitive
      docs (scraper loops, boilerplate walls, keyword stuffing) are the
      classic low-quality tail that length/stopword heuristics miss.
  contamination_hits / decontaminate — eval-set decontamination: drop
      training docs sharing >= 1 n-gram shingle with a benchmark/eval
      corpus, so reported eval numbers aren't memorization.
  cap_per_domain — per-domain document caps: bound any single source's
      share of the corpus (deterministic keep-lowest-id), the standard
      anti-domination guard when a handful of domains dwarf the rest.

Scale notes: repetition is one explode + two keyed aggregates (linear,
shuffles on doc id); decontamination broadcasts the eval shingle set
(eval suites are tiny next to a 100 TB corpus) so the training side
never shuffles; domain caps are one window over the domain hash
partitioning.  All pure Catalyst — no UDFs — and md5-free, so the
DuckDB oracles run the identical logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lawlm_spark.functions.text import let_bound, tokenize
from lawlm_spark.operators.dedup import shingle_table
from lawlm_spark.session import lineage_cut


def _nonempty_lines(col) -> "F.Column":
    return F.filter(F.split(col, "\n"), lambda x: F.trim(x) != "")


def repetition_metrics(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_lines, dup_line_frac, top_bigram_frac) per document.

    dup_line_frac = 1 - distinct/total over non-empty lines (0.0 when a
    doc has no lines); top_bigram_frac = occurrences of the most
    frequent token bigram / total bigram occurrences (0.0 when < 2
    tokens).  Thresholding is the caller's policy (Gopher used ~0.3 for
    dup lines, ~0.18 for top-2-grams); this operator reports the raw
    signals so one pass serves any threshold.
    """
    line_frac = let_bound(
        _nonempty_lines(F.col(text_col)),
        lambda ls: F.when(
            F.size(ls) > 0,
            1.0 - F.size(F.array_distinct(ls)).cast("double") / F.size(ls),
        ).otherwise(F.lit(0.0)),
    )
    base = docs.select(
        F.col(id_col),
        F.round(line_frac, 6).alias("dup_line_frac"),
        F.size(_nonempty_lines(F.col(text_col))).cast("long").alias("n_lines"),
        let_bound(
            tokenize(F.col(text_col)),
            lambda t: F.when(
                F.size(t) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - 1),
                    lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ).alias("_bigrams"),
    )
    counts = (
        base.select(id_col, F.explode("_bigrams").alias("bigram"))
        .groupBy(id_col, "bigram")
        .agg(F.count("*").alias("n"))
        .groupBy(id_col)
        .agg((F.max("n").cast("double") / F.sum("n")).alias("_top_frac"))
    )
    return (
        base.drop("_bigrams")
        .join(counts, id_col, "left")
        .select(
            id_col,
            "n_lines",
            "dup_line_frac",
            F.round(F.coalesce(F.col("_top_frac"), F.lit(0.0)), 6).alias("top_bigram_frac"),
        )
    )


def contamination_hits(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """(id, n_hit_shingles): training docs sharing >= 1 n-gram shingle
    with the eval corpus, with the count of distinct shared shingles.

    The eval shingle set is deduped and BROADCAST — eval suites are
    thousands of docs against a corpus of billions, so the training side
    streams map-side with no shuffle until the per-doc count.
    """
    tr = shingle_table(train, id_col, text_col, n).select(id_col, "shingle")
    ev = eval_docs.select(
        F.explode(
            F.array_distinct(
                let_bound(
                    tokenize(F.col(text_col)),
                    lambda t: F.when(
                        F.size(t) >= n,
                        F.transform(
                            F.sequence(F.lit(1), F.size(t) - (n - 1)),
                            lambda i: F.concat_ws(
                                " ", *[F.element_at(t, i + j) for j in range(n)]
                            ),
                        ),
                    ).otherwise(F.array().cast("array<string>")),
                )
            )
        ).alias("shingle")
    ).distinct()
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit_shingles"))
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Training corpus with every contaminated doc anti-joined away."""
    hits = contamination_hits(train, eval_docs, id_col, text_col, n)
    return train.join(hits.select(id_col), id_col, "left_anti")


def quality_prune(
    docs: DataFrame,
    stratum_col: str,
    quality_col: str,
    keep_frac: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the top `keep_frac` of each stratum by quality score
    (percent_rank with a deterministic id tiebreak) — quality pruning
    per language/domain, the standard alternative to one global
    threshold when score distributions differ across strata.

    Adds `q_rank` (the percent_rank, 0 = best).  One window per stratum
    partition; rerun-stable because ties break on id.
    """
    w = Window.partitionBy(stratum_col).orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    return (
        docs.withColumn("q_rank", F.round(F.percent_rank().over(w), 6))
        .filter(F.col("q_rank") <= keep_frac)
    )


def corpus_report(
    docs: DataFrame,
    stratum_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum corpus card: doc count, token totals, quality and
    length distribution — the summary a mix designer reads before
    setting d19-style budgets.  One scan, one keyed aggregate; median is
    Spark's exact `median` (matches DuckDB's, certified by v27)."""
    from lawlm_spark.functions.text import quality_score, word_count

    per_doc = docs.select(
        F.col(stratum_col).alias("stratum"),
        word_count(F.col(text_col)).alias("_tok"),
        quality_score(F.col(text_col)).alias("_q"),
        F.length(text_col).cast("long").alias("_chars"),
    )
    # median over INTEGER chars only: interpolated midpoints of ints are
    # exact halves (no cross-engine rounding hazard), while a median of
    # 4-decimal quality scores lands on decimal midpoints that Spark
    # (shortest-string HALF_UP) and DuckDB (binary-value) round apart
    return per_doc.groupBy("stratum").agg(
        F.count("*").alias("n_docs"),
        F.sum("_tok").alias("total_tokens"),
        F.round(F.avg("_q"), 4).alias("avg_quality"),
        F.round(F.avg("_chars"), 2).alias("avg_chars"),
        F.median("_chars").alias("median_chars"),
    )


def unigram_nll(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """(id, n_tokens, avg_nll): per-document mean negative log-likelihood
    under the corpus's own add-one-smoothed unigram model — the
    perplexity-style quality signal (CCNet filters on LM perplexity;
    a unigram model is its distributable, oracle-exact floor).  High
    avg_nll = rare-token soup (OCR noise, gibberish); unusually low =
    repetitive boilerplate.  Thresholding is caller policy.

    Model: vocabulary = top `vocab_size` tokens by (count desc, token
    asc); p(tok) = (c+1)/(N+V+1) in-vocab, 1/(N+V+1) for OOV, with N =
    total corpus tokens (incl. OOV) and V = vocabulary size actually
    kept.  Everything derives from integer counts, so both engines
    compute bit-identical doubles.

    Scale: one token-keyed count aggregate, the (N, V) scalars ride as
    a broadcast singleton (no driver collect), the vocab joins the
    token stream on its key, and the final per-doc aggregate shuffles
    on id.  Docs with zero tokens report (0, 0.0).
    """
    toks = docs.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("token"))
    # lineage-cut the token-count table (distinct-token-sized): vocab
    # and the N scalar both derive from it, and uncut each consumer
    # replays the corpus explode (5 FileScans in the r8 d31 audit; the
    # scoring join is the only remaining corpus pass).  N = sum of all
    # token counts — identical to count(*) over the stream.
    counts = lineage_cut(toks.groupBy("token").agg(F.count("*").alias("c")))
    # orderBy+limit plans TakeOrderedAndProject (per-partition partial
    # top-V + merge), not a one-partition global window sort
    vocab = counts.orderBy(F.col("c").desc(), F.col("token")).limit(vocab_size)
    # coalesce: ungrouped sum over an EMPTY token stream (all-empty
    # texts) is NULL where the count(*) this replaced (r8) returned 0 —
    # keep the zero-token edge at denom = v_size + 1, not NULL (ADVICE r8)
    scalars = counts.groupBy().agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_total")
    ).crossJoin(vocab.groupBy().agg(F.count("*").alias("v_size")))
    denom = F.col("n_total") + F.col("v_size") + 1
    scored = (
        toks.join(vocab, "token", "left")
        .crossJoin(F.broadcast(scalars))
        .select(
            id_col,
            (-F.log((F.coalesce(F.col("c"), F.lit(0)) + 1) / denom)).alias("_nll"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"), F.round(F.avg("_nll"), 6).alias("avg_nll")
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("avg_nll", F.lit(0.0)).alias("avg_nll"),
        )
    )


def cap_per_domain(
    docs: DataFrame,
    domain_col: str = "source",
    k: int = 100,
    order_col: str = "doc_id",
) -> DataFrame:
    """At most `k` documents per domain, deterministically the lowest
    `order_col` values (rerun-stable, unlike a sampled cap).  One window
    over the domain partitioning; WindowGroupLimit prunes each partition
    to k rows before the full sort materializes."""
    w = Window.partitionBy(domain_col).orderBy(F.col(order_col))
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def bigram_nll(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """(id, n_bigrams, avg_nll): per-document mean negative
    log-likelihood under an interpolated bigram model trained on the
    corpus itself — one rung up the KenLM ladder from unigram_nll,
    still fully distributable and oracle-exact.

    Model: OOV tokens (outside the top `vocab_size` by count desc,
    token asc) map to a single '<unk>' class FIRST, then
      p(cur | prev) = (c(prev,cur) + 1) / (c_ctx(prev) + V' + 1)
      p(cur)        = (c(cur) + 1) / (N + V' + 1)
      p = (p_bigram + p_unigram) / 2        -- lambda = 0.5, exact in binary
    with c_ctx(prev) = occurrences of prev followed by anything, V' =
    distinct mapped classes, N = total mapped tokens.  Every input is
    an integer count, so both engines produce bit-identical doubles.
    Docs with < 2 tokens report (0, 0.0).

    Scale: token counts = one token-keyed aggregate; the bigram stream
    comes from ONE lag window per doc (shuffles on the doc key, same as
    the final per-doc aggregate — AQE coalesces them); bigram/context
    count tables join the stream on their own keys; (N, V') ride as a
    broadcast singleton.  No driver-side collect anywhere.
    """
    toks = docs.select(
        F.col(id_col),
        F.posexplode(tokenize(F.col(text_col))).alias("pos", "token"),
    )
    # same cut policy as unigram_nll: the token-count table serves
    # vocab once instead of replaying the corpus explode per consumer
    counts = lineage_cut(toks.groupBy("token").agg(F.count("*").alias("c")))
    vocab = counts.orderBy(F.col("c").desc(), F.col("token")).limit(vocab_size)
    # lineage-cut the mapped token stream (narrow: id, pos, class):
    # uncut it fans into the unigram table AND both bigram consumers,
    # each replaying the corpus explode + vocab join (12 FileScans in
    # the r8 d40 audit; 1 corpus pass after).  The derived tables below
    # re-aggregate it: N = sum(c_uni); c_ctx(prev) = sum over cur of
    # c_bi — identical integers by construction.
    mapped = lineage_cut(
        toks.join(vocab.select("token", F.lit(1).alias("_inv")), "token", "left")
        .select(
            id_col,
            "pos",
            F.when(F.col("_inv").isNotNull(), F.col("token"))
            .otherwise(F.lit("<unk>"))
            .alias("tok_m"),
        )
    )
    uni = mapped.groupBy("tok_m").agg(F.count("*").alias("c_uni"))
    scalars = uni.groupBy().agg(
        # coalesce: NULL on an empty token stream, see unigram_nll note
        F.coalesce(F.sum("c_uni"), F.lit(0)).alias("n_total"),
        F.count("*").alias("v_m"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    bg = (
        mapped.withColumn("prev", F.lag("tok_m").over(w))
        .filter(F.col("prev").isNotNull())
        .select(id_col, "prev", F.col("tok_m").alias("cur"))
    )
    c_bi = bg.groupBy("prev", "cur").agg(F.count("*").alias("c_bi"))
    c_ctx = c_bi.groupBy("prev").agg(F.sum("c_bi").alias("c_ctx"))
    scored = (
        bg.join(c_bi, ["prev", "cur"])
        .join(c_ctx, "prev")
        .join(uni.withColumnRenamed("tok_m", "cur"), "cur")
        .crossJoin(F.broadcast(scalars))
        .select(
            id_col,
            (
                -F.log(
                    (
                        (F.col("c_bi") + 1) / (F.col("c_ctx") + F.col("v_m") + 1)
                        + (F.col("c_uni") + 1) / (F.col("n_total") + F.col("v_m") + 1)
                    )
                    / 2
                )
            ).alias("_nll"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"), F.round(F.avg("_nll"), 6).alias("avg_nll")
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("avg_nll", F.lit(0.0)).alias("avg_nll"),
        )
    )


def ngram_novelty(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, n_shingles, n_novel, novelty): the fraction of a document's
    distinct n-gram shingles that appear in NO other document — the
    per-document diversity / memorization-risk signal (low novelty =
    the doc is assembled from corpus-common phrasing; 1.0 = entirely
    unique n-grams).  The per-corpus complement of decontamination
    (d25: overlap vs an EXTERNAL set) and containment (d42: overlap vs
    ONE other doc).

    Scale: shingle_table's explode is narrow; doc frequency is ONE
    shingle-keyed aggregate (shingle_table already dedups per doc, so
    count(*) IS the doc frequency); the stream joins it back on the
    same key and the per-doc aggregate is the only other shuffle.
    Zero-shingle docs report (0, 0, 0.0).
    """
    sh = shingle_table(docs, id_col, text_col, n)
    df_cnt = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    per_doc = (
        sh.join(df_cnt, "shingle")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("_df") == 1, 1).otherwise(0)).alias("n_novel"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias("novelty"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.coalesce("novelty", F.lit(0.0)).alias("novelty"),
        )
    )


# Gopher quality-rule thresholds (Rae et al. 2021, "Scaling Language
# Models", Table A1 — the de-facto standard web-text gate, also the
# base of Dolma/RedPajama/FineWeb rule sets).  Python-computed literals
# shared with the d56 oracle.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_ELLIPSIS_LINE_RATIO = 0.3
GOPHER_MAX_BULLET_LINE_RATIO = 0.9
GOPHER_MIN_ALPHA_WORD_RATIO = 0.8
GOPHER_MIN_STOPWORD_HITS = 2


def gopher_rules(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Gopher rule metrics + verdict — the rule-based
    quality gate (the statistical complement to the unigram/bigram NLL
    scores above; quality_prune composes either).

    Emitted per doc: n_words, mean_word_len (rounded 6), symbol_ratio,
    ellipsis_line_ratio, bullet_line_ratio, alpha_word_ratio,
    stopword_hits, and `gopher_pass`.  Every metric derives from integer
    counts over one projection — pure codegen, no shuffle, no Python:
    the filter runs AT THE SCAN on 100 TB like hash_sample does.

    Word = whitespace token (Gopher counts words, not regex tokens);
    symbols = '#' and the '...' ellipsis; a bullet line starts with
    -, *, or •; an ellipsis line ends with '...' or '…'.  Deviation
    from the paper: "80% words contain at least one alphabetic
    character" is evaluated on whitespace words against [a-zA-Z] (the
    paper's tokenizer is unspecified); stopword check uses the engine's
    STOPWORDS_EN octet (text.py) rather than the paper's undisclosed
    list.
    """
    from lawlm_spark.functions.text import STOPWORDS_EN, let_bound

    t = F.col(text_col)
    lines = _nonempty_lines(t)

    def metrics(words: "F.Column") -> "F.Column":
        n_words = F.size(words)
        total_chars = F.aggregate(
            F.transform(words, F.length),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
        # distinct first: Spark's array_intersect dedups its output but
        # DuckDB's list_intersect semantics differ on duplicate inputs —
        # an explicit distinct makes both engines count the same thing
        stop_hits = F.size(
            F.array_intersect(
                F.array_distinct(F.transform(words, F.lower)),
                F.array(*[F.lit(s) for s in STOPWORDS_EN]),
            )
        )
        n_lines = F.size(lines)
        bullet_lines = F.size(
            F.filter(lines, lambda l: F.trim(l).rlike("^[-*•]"))
        )
        ellipsis_lines = F.size(
            F.filter(lines, lambda l: F.rtrim(l).rlike("(\\.\\.\\.|…)$"))
        )
        symbols = (
            F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
            + (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
        ).cast("long")
        mean_wl = F.round(total_chars / n_words.cast("double"), 6)
        sym_ratio = F.round(symbols / F.greatest(n_words, F.lit(1)).cast("double"), 6)
        ell_ratio = F.round(
            ellipsis_lines / F.greatest(n_lines, F.lit(1)).cast("double"), 6
        )
        bul_ratio = F.round(
            bullet_lines / F.greatest(n_lines, F.lit(1)).cast("double"), 6
        )
        alpha_ratio = F.round(
            alpha_words / F.greatest(n_words, F.lit(1)).cast("double"), 6
        )
        gopher_pass = (
            n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
            & mean_wl.between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
            & (sym_ratio < GOPHER_MAX_SYMBOL_RATIO)
            & (ell_ratio < GOPHER_MAX_ELLIPSIS_LINE_RATIO)
            & (bul_ratio < GOPHER_MAX_BULLET_LINE_RATIO)
            & (alpha_ratio >= GOPHER_MIN_ALPHA_WORD_RATIO)
            & (stop_hits >= GOPHER_MIN_STOPWORD_HITS)
        )
        return F.struct(
            n_words.cast("long").alias("n_words"),
            mean_wl.alias("mean_word_len"),
            sym_ratio.alias("symbol_ratio"),
            ell_ratio.alias("ellipsis_line_ratio"),
            bul_ratio.alias("bullet_line_ratio"),
            alpha_ratio.alias("alpha_word_ratio"),
            stop_hits.cast("long").alias("stopword_hits"),
            gopher_pass.alias("gopher_pass"),
        )

    words_expr = F.filter(F.split(t, "\\s+"), lambda w: F.length(w) > 0)
    m = let_bound(words_expr, metrics)
    return docs.withColumn("_g", m).select("*", "_g.*").drop("_g")


def check_expectations(
    df: DataFrame, rules: list[tuple[str, str]]
) -> DataFrame:
    """(rule, n_rows, n_violations, violation_rate): declarative data
    validation — every rule is a SQL predicate, every violation count a
    conditional sum in ONE aggregate over ONE scan (the
    Great-Expectations shape without the framework: N rules never cost
    N passes).

    A row violates a rule when the predicate is NOT satisfied —
    including when it evaluates to NULL (an unknown quality is a
    failure, the strict reading; wrap the predicate in coalesce(...)
    to opt out per rule).  The output is the gate artifact: persist it
    per batch and a regression in any rate is a one-line diff.
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for name, pred in rules:
        aggs.append(
            F.sum(
                (~F.coalesce(F.expr(pred), F.lit(False))).cast("long")
            ).alias(name)
        )
    wide = df.agg(*aggs)
    # unpivot the ONE wide row rather than union per-rule selects: a
    # union would re-plan the scan+aggregate once per rule (verified in
    # test_quality.py — the plan must contain exactly one FileScan)
    long = wide.unpivot(
        ["_n"], [name for name, _ in rules], "rule", "n_violations"
    )
    return long.select(
        "rule",
        F.col("_n").alias("n_rows"),
        "n_violations",
        F.round(
            F.col("n_violations") / F.col("_n").cast("double"), 6
        ).alias("violation_rate"),
    )


def zscore_outliers(
    df: DataFrame,
    group_col: str,
    value_milli: Column,
    id_col: str,
    threshold: float = 3.0,
) -> DataFrame:
    """(group, id, value_milli, z, is_outlier): per-group z-scores from
    integer-unit values — the distributional cousin of the rule gate
    above (rules catch known-bad shapes, z-scores catch unknown ones).

    Cross-engine determinism is why the value must arrive in integer
    milli-units: count, sum, and sum-of-squares are then exact BIGINT
    aggregates (shuffle-order-proof), and variance derives as
    (ss - s^2/n) / n from exact inputs — population variance, one IEEE
    expression both engines compute identically.  A float stddev agg
    would hash-differ run to run.  Sum-of-squares accumulates in
    decimal: milli^2 reaches ~2.4e9 per row, and corpus-scale row
    counts overflow BIGINT.
    """
    v = value_milli.cast("long")
    stats = (
        df.select(F.col(group_col).alias("_g"), v.alias("_v"))
        .groupBy("_g")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_v").alias("_s"),
            F.sum((F.col("_v") * F.col("_v")).cast("decimal(38,0)")).alias("_ss"),
        )
    )
    mean = F.col("_s").cast("double") / F.col("_n").cast("double")
    var = (
        F.col("_ss").cast("double")
        - F.col("_s").cast("double") * F.col("_s").cast("double")
          / F.col("_n").cast("double")
    ) / F.col("_n").cast("double")
    enriched = df.select(
        F.col(group_col), F.col(id_col), v.alias("value_milli")
    ).join(F.broadcast(stats), F.col(group_col) == F.col("_g"))
    z = (F.col("value_milli").cast("double") - mean) / F.sqrt(var)
    return enriched.select(
        group_col,
        id_col,
        "value_milli",
        # + 0.0 normalizes IEEE -0.0 (a value_milli just under the mean
        # rounds to a signed zero on DuckDB but not Spark — the d68 class)
        (F.round(z, 6) + F.lit(0.0)).alias("z"),
        (F.abs(F.round(z, 6)) > F.lit(threshold)).alias("is_outlier"),
    )


def dataset_card(
    docs: DataFrame,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(lang, n_docs, n_dup_docs, total_tokens, pct_gopher_pass,
    avg_quality): the per-language DATASET CARD — the Datasheets-for-
    Datasets documentation artifact a corpus release ships, composed
    from the family's own signals in one plan: exact-dup pressure
    (fingerprint groups), token mass, the Gopher rule pass rate, and
    the composite quality score.

    n_dup_docs = docs minus distinct fingerprints (rows an exact dedup
    would remove).  One gopher/quality projection (pure codegen), one
    per-(lang, fingerprint) aggregate, one per-lang rollup — linear,
    shuffles keyed on lang(+fp) only.
    """
    from lawlm_spark.functions.text import fingerprint, quality_score

    g = gopher_rules(docs, text_col).select(
        F.col(lang_col).alias("_lang"),
        F.col(id_col),
        F.col("n_words"),
        F.col("gopher_pass"),
        fingerprint(F.col(text_col)).alias("_fp"),
        quality_score(F.col(text_col)).alias("_q"),
        F.size(tokenize(F.col(text_col))).cast("long").alias("_tok"),
    )
    return g.groupBy(F.col("_lang").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.count_distinct("_fp")).alias("n_dup_docs"),
        F.sum("_tok").alias("total_tokens"),
        F.round(
            F.sum(F.col("gopher_pass").cast("long"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("pct_gopher_pass"),
        F.round(F.avg("_q"), 4).alias("avg_quality"),
    )
