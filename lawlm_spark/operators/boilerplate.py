"""Corpus-level boilerplate line removal (training-data prep).

Crawled/templated corpora repeat the same lines across thousands of
documents (footers, navigation, license headers).  Document-level dedup
never sees them — every document is unique — so the cleanup runs at LINE
granularity: a line whose trimmed form appears in a large fraction of
documents is boilerplate and is dropped from every document (the
CCNet-style paragraph/line dedup step; no public code followed, the
semantics are the folklore ones).

Scale shape: one explode (lines), one groupBy on the normalized line
(linear shuffle, same key the anti-join reuses), one windowless ordered
reassembly per document.  The corpus-size scalar joins in as a broadcast
singleton — no driver-side count() action in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lawlm_spark.session import lineage_cut


def line_table(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, idx, line, norm): one row per line, position-stamped."""
    lines = docs.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), "\n")).alias("idx", "line")
    )
    return lines.withColumn("norm", F.trim(F.col("line")))


def boilerplate_lines(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_frac: float = 0.3,
    min_docs: int = 2,
    lt: DataFrame | None = None,
) -> DataFrame:
    """(norm, nd): trimmed line forms counted in >= min_docs documents
    AND >= max_doc_frac of the corpus — the diagnostic/removal set.
    Blank lines are never boilerplate (they carry structure, not text).
    Pass `lt` (a line_table) to share the explode with other consumers —
    Spark shares no subplans, so at 100 TB persist the line table once
    and hand it to both this and the removal join.
    """
    if lt is None:
        lt = line_table(docs, id_col, text_col)
    freq = (
        lt.filter(F.col("norm") != "")
        .groupBy("norm")
        .agg(F.countDistinct(id_col).alias("nd"))
    )
    n_docs = docs.agg(F.count("*").cast("double").alias("_n"))
    return (
        freq.crossJoin(F.broadcast(n_docs))
        .filter((F.col("nd") >= min_docs) & (F.col("nd") >= max_doc_frac * F.col("_n")))
        .select("norm", "nd")
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_frac: float = 0.3,
    min_docs: int = 2,
) -> DataFrame:
    """(id, text): every document with its boilerplate lines removed.

    Line order is preserved (position-stamped explode -> array_sort by
    position -> join).  Documents whose every line was boilerplate
    survive with empty text (left join back to the id set), so the
    output has exactly one row per input document.
    """
    # the docstring's own advice, applied: persist the line table once —
    # it feeds the frequency aggregate AND the removal anti-join, and
    # uncut each replays the corpus explode (r8 d23 audit)
    lt = lineage_cut(line_table(docs, id_col, text_col))
    boiler = boilerplate_lines(
        docs, id_col, text_col, max_doc_frac, min_docs, lt=lt
    ).select("norm")
    kept = lt.join(boiler, "norm", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias(text_col)
    )
    ids = docs.select(id_col)
    return ids.join(rebuilt, id_col, "left").select(
        F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )
