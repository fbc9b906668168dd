"""Single-slice construction for tiny driver-local DataFrames
(optimization r18).

`SparkSession.createDataFrame(list, schema)` parallelizes the pickled
rows into `defaultParallelism` slices (32 here).  Each slice is a
Python-worker evaluation, so every action over such a frame pays a
full wave of JVM->Python roundtrips for a handful of rows — and a
`coalesce(1)` on top (the sentinel-landing write pattern) is
catastrophic: ONE task evaluates all 32 pickled slices SEQUENTIALLY
through the Python worker (~6.9 s measured for a 1-row write at r18,
vs 0.5 s single-slice; guide §4 — the Python boundary you didn't know
you had).

`local_rows` parallelizes the rows into exactly one slice: one Python
evaluation, no matter how the frame is later coalesced, broadcast or
written.  Use it for every literal-rows frame (query sets, sentinels,
tiny dims); real data frames come from parquet scans and never hit
this path.  A per-request row of scalars (serving's question frame)
is cheaper still as a `spark.sql` VALUES clause over bound
parameters: a JVM-side LocalRelation with exact size stats and no
Python worker at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_rows(spark: SparkSession, rows: list, schema) -> DataFrame:
    """createDataFrame over a single-slice RDD: identical rows/schema
    semantics to spark.createDataFrame(rows, schema), one Python-worker
    partition instead of defaultParallelism of them."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema
    )
