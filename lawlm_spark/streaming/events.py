"""Structured Streaming variants (V14, SURVEY.md §2.7/§7 phase 4).

The reference has no data streaming (its "streaming" is an SSE token
relay, chatbot/app.py:616-719); this module supplies the streaming
surface a large-scale ingest pipeline needs:

  tumbling/sliding window counts — F.window aggregates, identical
      column contract in batch and streaming mode (the same function
      serves both; Spark plans a stateful streaming agg when the input
      is a stream).
  watermarked dedup — dropDuplicatesWithinWatermark on the event key,
      bounding state for late duplicates.
  run_streaming_window_counts — executes the windowed count as a real
      Structured Streaming query over the events parquet with the
      Trigger.AvailableNow batch-boundary trigger and a memory sink,
      returning the final result DataFrame.  Batch/stream parity is the
      correctness gate: the result must equal the batch window aggregate
      (and the DuckDB time_bucket oracle).

Scale notes: windowed counts shuffle once on (window, group); watermarks
bound state to (watermark horizon / slide) windows per key.  At 100 TB
the parquet source is replaced by Kafka with the same downstream plan.
"""

from __future__ import annotations

from lawlm_spark.localdata import local_rows
from lawlm_spark.streaming.landing import (
    drain_to_memory as _drain_to_memory,
    input_sized_shuffle as _input_sized_shuffle,
    remove_landing as _remove_landing,
)

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def normalize_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (LTZ) regardless of how
    the parquet writer encoded it.  Three encodings appear in the wild
    (and all three have appeared in driver testdata across rounds):

      bigint        — TIMESTAMP(NANOS) surfaced as long under
                      spark.sql.legacy.parquet.nanosAsLong; convert via
                      timestamp_micros(ns div 1000).
      timestamp_ntz — parquet isAdjustedToUTC=false; ``withWatermark``
                      REJECTS this type (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE,
                      the r5 v34 failure), so cast to TIMESTAMP under the
                      UTC session pin every entry point here sets — the
                      wall-clock values are preserved bit-exactly.
      timestamp     — already LTZ; unchanged.

    Every streaming read in this module MUST pass through this helper
    before any ``withWatermark`` call; tests/test_streaming_ntz.py pins
    all entry points against all three encodings.
    """
    dtype = dict(df.dtypes).get(ts_col)
    if dtype == "bigint":
        return df.withColumn(ts_col, F.expr(f"timestamp_micros({ts_col} div 1000)"))
    if dtype == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def _exact_total_value():
    """total_value as an exact integer-cents sum (r8): event values are
    2-decimal, so the DECIMAL(38,0) cents sum is summation-order
    independent — round(sum(double), 4) is order-sensitive at the ulp
    and one shuffle-order away from a cross-engine cent flip (the v23
    class).  Works identically in batch and streaming aggregates."""
    return F.round(
        F.sum(F.round(F.col("value") * 100).cast("decimal(38,0)")).cast("double")
        / F.lit(100.0),
        4,
    ).alias("total_value")


def tumbling_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    width: str = "1 day",
) -> DataFrame:
    """(window_start, <group>, n, total_value): tumbling event-time windows."""
    return (
        events.groupBy(F.window(F.col(ts_col), width).alias("w"), F.col(group_col))
        .agg(F.count("*").alias("n"), _exact_total_value())
        .select(F.col("w.start").alias("window_start"), group_col, "n", "total_value")
    )


def sliding_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    width: str = "2 days",
    slide: str = "1 day",
) -> DataFrame:
    """Sliding-window variant: each event lands in width/slide windows."""
    return (
        events.groupBy(F.window(F.col(ts_col), width, slide).alias("w"), F.col(group_col))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), group_col, "n")
    )


def session_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "user_id",
    gap: str = "1 hour",
) -> DataFrame:
    """Gap-based sessionization via F.session_window: a session closes
    when `gap` passes with no event.  (user, session_start, n_events,
    total_value).  Same function serves batch and streaming inputs
    (streaming additionally needs a watermark on ts).

    Scale: one shuffle on the group key; session merging is inside the
    aggregate.  The batch semantics equal the classic gaps-and-islands
    SQL (lag -> new-session flag -> running session id), which is the
    DuckDB oracle for v18.
    """
    return (
        events.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(group_col))
        .agg(F.count("*").alias("n_events"), _exact_total_value())
        .select(
            F.col(group_col),
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def watermarked_dedup(
    events: DataFrame, ts_col: str = "ts", key_col: str = "event_id", horizon: str = "1 hour"
) -> DataFrame:
    """Late-duplicate drop with bounded state (streaming inputs only)."""
    return events.withWatermark(ts_col, horizon).dropDuplicatesWithinWatermark([key_col])


def run_streaming_window_counts(
    spark: SparkSession,
    sf_dir: str,
    width: str = "1 day",
    group_col: str = "event_type",
) -> DataFrame:
    """V14: the tumbling count executed as a REAL streaming query.

    readStream(parquet, schema pinned from a batch read) -> ts nanos->µs
    conversion (same as sources/testdata.py) -> windowed agg ->
    Trigger.AvailableNow -> memory sink; returns the sink's contents.
    Complete output mode: every window is final once AvailableNow drains.
    """
    path = os.path.join(sf_dir, "events.parquet")
    # works on any session, incl. ones not built by get_spark (see
    # sources/testdata.load_table); UTC pin so window bounds match the
    # oracle's naive-UTC timestamps on non-UTC hosts
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(path).schema
    # FileStreamSource takes a directory; single-file testdata is selected
    # out of sf_dir by glob filter (a real deployment points at a landing dir)
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    stream = normalize_event_time(stream)
    counts = tumbling_window_counts(stream, "ts", group_col, width)
    # input-sized state partitioning (r19) — see run_streaming_session_counts
    q = _drain_to_memory(counts, "v14", "complete", _input_sized_shuffle(spark, path))
    return spark.table(q.name)


_GAP_UNITS_MICROS = {
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
}


def _interval_micros(interval: str) -> int:
    """Parse a Spark interval string like '30 minutes' to microseconds.

    Single source of truth for the v34 sentinel offset: the sentinel is
    DERIVED from the gap, so a caller changing `gap` cannot desync the
    punctuation event from the session semantics (ADVICE r4)."""
    parts = interval.strip().lower().split()
    if len(parts) != 2:
        raise ValueError(f"unsupported interval {interval!r}; want '<n> <unit>'")
    n, unit = parts
    unit = unit.rstrip("s")
    if unit not in _GAP_UNITS_MICROS:
        raise ValueError(f"unsupported interval unit {unit!r} in {interval!r}")
    return int(n) * _GAP_UNITS_MICROS[unit]


def _sentinel_landing(spark: SparkSession, sf_dir: str, gap: str, prefix: str):
    """Land events.parquet plus the watermark-advancing sentinel event
    (the v34 punctuation fix, factored for every session-window
    streaming runner): append mode only emits a session once the
    watermark STRICTLY passes its close, so the session holding the
    max event time never flushes under availableNow without a
    sentinel at max_ts + gap + margin.  Returns (landing, schema,
    max_ts_utc); callers drop the sentinel's session by the one
    property only it can have — session_start strictly after the real
    max event time (ADVICE r4)."""
    import datetime
    import shutil

    gap_micros = _interval_micros(gap)
    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch = spark.read.parquet(path)
    schema = batch.schema
    ts_is_long = dict(batch.dtypes).get("ts") == "bigint"
    max_ts = batch.agg(F.max("ts")).first()[0]  # bigint nanos under the conf

    landing = os.path.join(tempfile.gettempdir(), f"{prefix}_{uuid.uuid4().hex[:8]}")
    os.makedirs(landing)
    shutil.copy(path, os.path.join(landing, "events.parquet"))
    if ts_is_long:
        sentinel_ts = max_ts + (gap_micros + 1_000_000) * 1000  # nanos
        max_ts_utc = datetime.datetime.fromtimestamp(
            max_ts / 1_000_000_000, tz=datetime.timezone.utc
        ).replace(tzinfo=None)
    else:
        sentinel_ts = max_ts + datetime.timedelta(microseconds=gap_micros + 1_000_000)
        max_ts_utc = max_ts
    # single-slice local frame (localdata.py, r18): the 32-slice pickled
    # relation + coalesce(1) serialized 32 Python-worker evaluations into
    # one task (~6.9 s measured for this 1-row write; 0.5 s single-slice)
    sentinel = local_rows(
        spark, [(-1, sentinel_ts, -1, "__sentinel__", 0.0, "")], schema
    )
    sentinel.write.mode("append").parquet(landing)
    return landing, schema, max_ts_utc


def run_streaming_session_counts(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "1 hour",
) -> DataFrame:
    """V34: session windows executed as a REAL streaming query.

    Session aggregation in streaming requires a watermark and append
    mode — and append only emits a session once the watermark STRICTLY
    passes its close, so the session holding the max event time never
    flushes under availableNow (verified: 905/906 sessions without the
    fix).  The standard punctuation fix: land a sentinel event at
    max_ts + gap + margin so the final no-data micro-batch advances the
    watermark past every real session, then drop the sentinel's own
    session from the result.  In production the sentinel is the
    source's heartbeat/EOF marker.

    The sentinel offset is derived from `gap` (no second parameter to
    keep in sync), and the sentinel session is removed by the one
    property only it can have — session_start strictly after the real
    max event time — not by a magic key value, so a corpus containing
    any user_id (including -1) is handled correctly (ADVICE r4).
    """
    landing, schema, max_ts_utc = _sentinel_landing(spark, sf_dir, gap, "v34")

    stream = normalize_event_time(spark.readStream.schema(schema).parquet(landing))
    counts = session_window_counts(stream.withWatermark("ts", "0 seconds"), gap=gap)
    # input-sized state partitioning (r19, landing.py::input_sized_shuffle
    # docstring): AQE cannot coalesce a streaming stateful shuffle, so the
    # state partition count is byte-derived from the landing instead of
    # pinned at defaultParallelism; restored once the query has started.
    q = _drain_to_memory(counts, "v34", "append", _input_sized_shuffle(spark, landing))
    _remove_landing(landing)
    # only the sentinel's session can START after the real max event time
    # (every real session starts at one of its events); filtering on that
    # property keeps all real sessions even for a real user_id of -1
    return spark.table(q.name).filter(F.col("session_start") <= F.lit(max_ts_utc))


def run_stream_stream_outer_join(
    spark: SparkSession,
    sf_dir: str,
    horizon: str = "1 hour",
) -> DataFrame:
    """V38: watermarked stream-stream LEFT OUTER interval join — the
    semantically hard streaming join: a purchase with no click in the
    preceding `horizon` must still emit, with nulls, and append mode
    only releases such a row once the CLICK-side watermark proves no
    future click can match it (click_ts <= purchase_ts, so the click
    watermark must pass the purchase's event time).

    Under availableNow the tail purchases would stay buffered forever —
    same flush problem as v34 — so the v34 sentinel punctuation is
    applied to BOTH inputs: one sentinel click and one sentinel
    purchase (disjoint synthetic users) land at max_ts + 2*horizon +
    margin, the final no-data micro-batch advances both watermarks, and
    every real unmatched purchase expires out of state.  The sentinel
    purchase's own null-row is removed by the one property only it can
    have — purchase_ts after the real max event time; the sentinel
    click can never match (its ts exceeds every purchase_ts).  At 100 TB
    state holds `horizon` per side per key, and the punctuation role is
    played by the source's heartbeat.
    """
    import datetime
    import shutil

    horizon_micros = _interval_micros(horizon)
    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch = spark.read.parquet(path)
    schema = batch.schema
    ts_is_long = dict(batch.dtypes).get("ts") == "bigint"
    max_ts = batch.agg(F.max("ts")).first()[0]

    landing = os.path.join(tempfile.gettempdir(), f"v38_{uuid.uuid4().hex[:8]}")
    os.makedirs(landing)
    shutil.copy(path, os.path.join(landing, "events.parquet"))
    offset_micros = 2 * horizon_micros + 1_000_000
    if ts_is_long:
        sentinel_ts = max_ts + offset_micros * 1000  # nanos
        max_ts_utc = datetime.datetime.fromtimestamp(
            max_ts / 1_000_000_000, tz=datetime.timezone.utc
        ).replace(tzinfo=None)
    else:
        sentinel_ts = max_ts + datetime.timedelta(microseconds=offset_micros)
        max_ts_utc = max_ts
    # single-slice local frame (localdata.py, r18) — see _sentinel_landing
    sentinels = local_rows(
        spark,
        [
            (-1, sentinel_ts, -1, "click", 0.0, ""),
            (-2, sentinel_ts, -2, "purchase", 0.0, ""),
        ],
        schema,
    )
    sentinels.write.mode("append").parquet(landing)

    base = normalize_event_time(spark.readStream.schema(schema).parquet(landing))
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", horizon)
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", horizon)
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}")),
        "left_outer",
    ).select(
        F.col("p_user_id").alias("user_id"),
        "purchase_id",
        "click_id",
        "purchase_ts",
        "click_ts",
    )
    # input-sized state partitioning (r19) — see run_streaming_session_counts
    q = _drain_to_memory(joined, "v38", "append", _input_sized_shuffle(spark, landing))
    _remove_landing(landing)
    return spark.table(q.name).filter(F.col("purchase_ts") <= F.lit(max_ts_utc))


def run_streaming_enriched_counts(
    spark: SparkSession,
    sf_dir: str,
    width: str = "1 day",
) -> DataFrame:
    """Stream-STATIC join surface: the events stream enriched against the
    (broadcastable) customer dim, then window-aggregated by market
    segment.  The static side is re-scanned per micro-batch by Spark —
    at 100 TB the dim stays a broadcast-sized lookup or becomes a slowly
    changing table refreshed between batches.
    """
    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    stream = normalize_event_time(stream)
    dim = (
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    enriched = stream.join(F.broadcast(dim), "user_id")  # stream-static inner
    counts = (
        enriched.groupBy(F.window("ts", width).alias("w"), "c_mktsegment")
        .agg(F.count("*").alias("n"), _exact_total_value())
        .select(F.col("w.start").alias("window_start"), "c_mktsegment", "n", "total_value")
    )
    # input-sized state partitioning (r19) — see run_streaming_session_counts
    q = _drain_to_memory(counts, "v30", "complete", _input_sized_shuffle(spark, path))
    return spark.table(q.name)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the nanos->µs conversion
    and UTC pin shared by every streaming entry point here."""
    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_time(stream)


def run_streaming_dedup(
    spark: SparkSession,
    sf_dir: str,
    horizon: str = "1 hour",
) -> DataFrame:
    """Watermarked dedup EXECUTED as a streaming query: the events stream
    unioned with itself (every event a duplicate) must come out exactly
    once.  State is bounded to `horizon` of event-time per key."""
    stream = _events_stream(spark, sf_dir)
    doubled = stream.union(stream)
    deduped = watermarked_dedup(doubled, "ts", "event_id", horizon=horizon).select(
        "event_id", "user_id", "event_type"
    )
    # input-sized state partitioning (r19) — see run_streaming_session_counts
    q = _drain_to_memory(
        deduped, "v32", "append",
        _input_sized_shuffle(spark, os.path.join(sf_dir, "events.parquet")),
    )
    return spark.table(q.name)


def run_streaming_dedup_within_watermark(
    spark: SparkSession,
    sf_dir: str,
    horizon: str = "1 hour",
) -> DataFrame:
    """`dropDuplicatesWithinWatermark` EXECUTED as a streaming query —
    the bounded-state dedup API (Spark 3.5+): unlike plain
    dropDuplicates (v32), the event-time column is NOT part of the key;
    any duplicate arriving within the watermark delay of the first copy
    is dropped, and each key's state is evicted once the watermark
    passes its first-seen time + delay.  The self-unioned stream's
    copies share identical timestamps, so the emitted set is exactly
    the distinct events — batch-oracle-matchable."""
    stream = _events_stream(spark, sf_dir)
    doubled = stream.union(stream)
    deduped = (
        doubled.withWatermark("ts", horizon)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    # input-sized state partitioning (r19) — see run_streaming_session_counts
    q = _drain_to_memory(
        deduped, "v46", "append",
        _input_sized_shuffle(spark, os.path.join(sf_dir, "events.parquet")),
    )
    return spark.table(q.name)


def run_stream_stream_join(
    spark: SparkSession,
    sf_dir: str,
    horizon: str = "1 hour",
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join: each purchase matched to
    the same user's clicks in the preceding `horizon`.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can expire buffered state — the canonical
    stateful stream-stream join shape.  Append mode: a joined row is
    final once the watermark passes its window.  At 100 TB the state
    store holds only `horizon` worth of rows per side per key.
    """
    base = _events_stream(spark, sf_dir)
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", horizon)
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", horizon)
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}")),
    ).select("user_id", "purchase_id", "click_id", "purchase_ts", "click_ts")
    # input-sized state partitioning (r19) — see run_streaming_session_counts
    q = _drain_to_memory(
        joined, "v31", "append",
        _input_sized_shuffle(spark, os.path.join(sf_dir, "events.parquet")),
    )
    return spark.table(q.name)


def run_streaming_hll_registers(
    spark: SparkSession, sf_dir: str, salt: str = "v54"
) -> DataFrame:
    """HLL registers MAINTAINED BY a streaming aggregation: the
    distinct-users sketch as live state instead of a batch artifact.

    groupBy(event_type, bucket).max(rho) in complete mode — the sketch
    is the ideal streaming aggregate: state is CONSTANT (≤ groups × 256
    rows) no matter how many events flow through, max() never retracts
    so no watermark is needed, and the final state equals the batch
    sketch register-for-register (the v54 oracle replays the batch
    construction in SQL; hash equality == the streaming maintenance is
    lossless).  At scale this is the dashboard-counter pattern: the
    stream keeps registers current for pennies, `hll_estimate` reads
    them on demand, and `hll_merge` folds the live sketch with
    historical parquet sketches.
    """
    from lawlm_spark.operators.sketches import hll_bucket, hll_rho

    stream = _events_stream(spark, sf_dir)
    regs = (
        stream.select(
            "event_type",
            hll_bucket(F.col("user_id"), salt).alias("bucket"),
            hll_rho(F.col("user_id"), salt).alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    # input-sized state partitioning (r19) — see run_streaming_session_counts
    q = _drain_to_memory(
        regs, "v54", "complete",
        _input_sized_shuffle(spark, os.path.join(sf_dir, "events.parquet")),
    )
    return spark.table(q.name)


def run_streaming_windowed_hll(
    spark: SparkSession, sf_dir: str, width: str = "1 day", salt: str = "v57"
) -> DataFrame:
    """Per-WINDOW HLL registers from a streaming aggregation: the
    distinct-users-per-day dashboard shape with sketch-sized state —
    (window x 256) rows instead of (window x users).

    Complete mode like run_streaming_hll_registers (max never
    retracts); the window start is emitted as epoch micros so the
    batch oracle compares integers, not engine-local timestamp
    renderings.  At scale, per-window registers persist as the daily
    sketch artifact; hll_merge folds any date range's registers into
    one estimate without rescanning events.
    """
    from lawlm_spark.operators.sketches import hll_bucket, hll_rho

    stream = _events_stream(spark, sf_dir)
    regs = (
        stream.select(
            F.window("ts", width).alias("w"),
            hll_bucket(F.col("user_id"), salt).alias("bucket"),
            hll_rho(F.col("user_id"), salt).alias("rho"),
        )
        .groupBy("w", "bucket")
        .agg(F.max("rho").alias("rho"))
        .select(F.unix_micros("w.start").alias("win_us"), "bucket", "rho")
    )
    # input-sized state partitioning (r19) — see run_streaming_session_counts
    q = _drain_to_memory(
        regs, "v57", "complete",
        _input_sized_shuffle(spark, os.path.join(sf_dir, "events.parquet")),
    )
    return spark.table(q.name)


def run_streaming_cms(
    spark: SparkSession, sf_dir: str, salt: str = "v64",
    depth: int = 4, width: int = 512,
) -> DataFrame:
    """Count-min cells MAINTAINED BY a streaming aggregation — the
    frequency twin of run_streaming_hll_registers: live heavy-hitter
    state in depth x width constant rows, sum() merges without
    retraction so no watermark is needed, and the drained state equals
    the batch sketch cell-for-cell (the v64 oracle).  cms_lookup reads
    the live cells for on-demand estimates; cms_merge folds them with
    historical parquet sketches."""
    from lawlm_spark.operators.sketches import _cms_position

    stream = _events_stream(spark, sf_dir)
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("d"),
                _cms_position(F.col("event_type"), j, width, salt).alias("w"),
            )
            for j in range(depth)
        ]
    )
    agg = (
        stream.select(F.explode(cells).alias("cell"))
        .groupBy(F.col("cell.d").alias("d"), F.col("cell.w").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # input-sized state partitioning (r19) — see run_streaming_session_counts
    q = _drain_to_memory(
        agg, "v64", "complete",
        _input_sized_shuffle(spark, os.path.join(sf_dir, "events.parquet")),
    )
    return spark.table(q.name)


def run_streaming_session_sequences(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "1 hour",
) -> DataFrame:
    """(user_id, session_start, seq): the ts-ordered event-type
    sequence of every gap-based session, executed as a REAL streaming
    query (watermark + append + the _sentinel_landing punctuation fix,
    the v34 recipe).  The per-session sequence is the input to
    order-sensitive session analytics — session_bigram_topk scores
    proximity patterns over it (VERDICT r17 item 4d: the streaming
    twin of the r15/r16 batch proximity features, where the "document"
    is a session and the "terms" are its events in time order).

    Scale shape: one shuffle on the session key; the sequence state
    per open session is bounded by the session's own event count (the
    gap closes idle sessions, and the watermark evicts closed state).
    A pathological never-idle key grows its one session without bound
    — cap it upstream with a length guard if the source can't promise
    gaps; state is otherwise O(open sessions)."""
    landing, schema, max_ts_utc = _sentinel_landing(spark, sf_dir, gap, "v86")

    stream = normalize_event_time(spark.readStream.schema(schema).parquet(landing))
    sessions = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(
            F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id")
        )
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("_ev")
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.transform(F.col("_ev"), lambda e: e["event_type"]).alias("seq"),
        )
    )
    # input-sized state partitioning (r19) — see run_streaming_session_counts
    q = _drain_to_memory(
        sessions, "v86", "append", _input_sized_shuffle(spark, landing)
    )
    _remove_landing(landing)
    return spark.table(q.name).filter(F.col("session_start") <= F.lit(max_ts_utc))


def session_bigram_topk(
    sessions: DataFrame,
    patterns: DataFrame,
    query_id_col: str = "query_id",
    a_col: str = "a",
    b_col: str = "b",
    k: int = 10,
) -> DataFrame:
    """Ordered-adjacency proximity over session sequences: for each
    pattern row (query_id, a, b), count the positions where `a` is
    IMMEDIATELY followed by `b` in the session's time-ordered events —
    the session-window twin of sdm_bigram_topk's ordered-bigram
    feature, with the session as the document.  Pure integer counts
    (order-free, cross-engine exact); sessions that never exhibit the
    pattern drop out.

    Scale shape: patterns are tiny and broadcast (one nested-loop
    broadcast against the session table — no key join exists for a
    pattern probe); the adjacency count is a JVM higher-order
    zip_with/filter on the row, no explode and no shuffle beyond the
    top-k WindowGroupLimit.

    Returns (query_id, user_id, session_start, n_adjacent, rn)."""
    from lawlm_spark.operators.ranking import top_k

    n = F.size("seq")
    heads = F.slice(F.col("seq"), F.lit(1), F.greatest(n - 1, F.lit(0)))
    tails = F.slice(F.col("seq"), F.lit(2), F.greatest(n - 1, F.lit(0)))
    n_adj = F.size(
        F.filter(
            F.zip_with(
                heads,
                tails,
                lambda x, y: (x == F.col(a_col)) & (y == F.col(b_col)),
            ),
            lambda v: v,
        )
    ).cast("long")
    scored = (
        sessions.join(F.broadcast(patterns))
        .select(
            query_id_col,
            "user_id",
            "session_start",
            n_adj.alias("n_adjacent"),
        )
        .filter(F.col("n_adjacent") > 0)
    )
    return top_k(
        scored,
        [query_id_col],
        F.col("n_adjacent").desc(),
        k,
        tiebreak=["user_id", "session_start"],
    )
