"""Custom stateful streaming operator via applyInPandasWithState
(task brief: the escape hatch for operators Spark's built-in streaming
aggregates can't express).

`stateful_running_totals` keeps per-key state (event count, value sum)
across micro-batches and emits the updated totals for every key seen in
each batch — the building block for the reference's run-level counters
(O25) as a *continuous* metric, and the template for custom session
logic, CDC folding, or online feature accumulation.

State is a single struct row per key — bounded, and partitioned by the
grouping key so a 1000-executor cluster shards state linearly.  With
NoTimeout the state lives for the query's lifetime; production variants
add GroupStateTimeout.ProcessingTimeTimeout to expire idle keys.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from lawlm_spark.localdata import local_rows
from lawlm_spark.streaming.landing import (
    drain_to_memory as _drain_to_memory,
    remove_landing as _remove_landing,
)
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("n_updates", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        # exact integer CENTS (r8): values are 2-decimal, so the state
        # total is an order-independent integer — a float accumulator is
        # batch-order sensitive at the ulp (the v23 class)
        StructField("total_cents", LongType()),
        StructField("updates", LongType()),
    ]
)


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total_cents, updates = state.get if state.exists else (0, 0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total_cents += int(pdf["value"].mul(100).round().astype("int64").sum())
    updates += 1
    state.update((n, total_cents, updates))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [round(total_cents / 100.0, 4)],
            "n_updates": [updates],
        }
    )


def stateful_running_totals(stream: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Running (count, sum) per key across micro-batches; one output row
    per key per batch carrying the post-update totals."""
    return stream.groupBy(key_col).applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_running_totals(spark, sf_dir: str):
    """V36: the applyInPandasWithState operator executed as a REAL
    two-micro-batch streaming query, certifying cross-batch state.

    The events table is split deterministically (even event_ids land
    first, odd second) into two files with strictly increasing mod
    times; `maxFilesPerTrigger=1` makes each file one micro-batch, so a
    user active in both halves gets TWO update-mode emissions — the
    second carrying totals accumulated across the batch boundary with
    n_updates=2.  That is exactly the state behavior a batch aggregate
    cannot produce, yet the full output IS batch-expressible (partial
    agg over half 1, combined agg over both halves), which is the
    DuckDB oracle.
    """
    import os
    import shutil
    import tempfile
    import uuid as uuidlib

    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, "events.parquet")
    batch = spark.read.parquet(path).select("event_id", "user_id", "value")

    landing = os.path.join(tempfile.gettempdir(), f"v36_{uuidlib.uuid4().hex[:8]}")
    os.makedirs(landing)
    t0 = 1_600_000_000  # fixed epoch base; only relative order matters
    for i in (0, 1):
        part_dir = os.path.join(landing, f"_stage{i}")
        batch.filter(F.col("event_id") % 2 == i).coalesce(1).write.parquet(part_dir)
        part_file = next(
            f for f in os.listdir(part_dir) if f.endswith(".parquet")
        )
        dst = os.path.join(landing, f"half{i}.parquet")
        shutil.move(os.path.join(part_dir, part_file), dst)
        shutil.rmtree(part_dir)
        os.utime(dst, (t0 + i * 60, t0 + i * 60))  # half0 strictly older

    schema = spark.read.parquet(os.path.join(landing, "half0.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(landing)
    )
    totals = stateful_running_totals(stream.select("user_id", "value"))
    # NO input-sized state partitioning here: applyInPandasWithState is
    # per-key-Python-dense — see run_v41_query's rejection note (r19)
    q = _drain_to_memory(totals, "v36", "update")
    _remove_landing(landing)
    return spark.table(q.name).select(
        "user_id",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
        "n_updates",
    )


# ---------------------------------------------------------------------------
# Event-time-timeout sessions: the custom stateful operator with expiry

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", LongType()),  # epoch micros
        StructField("session_end", LongType()),
        StructField("n_events", LongType()),
    ]
)

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("s", LongType()),
        StructField("e", LongType()),
        StructField("n", LongType()),
    ]
)


def make_session_update(gap_us: int):
    """Update function for `stateful_sessions`: per-key event-time
    sessionization with the TRAILING session held in state and released
    by EventTimeTimeout.

    Per invocation: fold the batch's timestamps (sorted — within-batch
    disorder is legal) into the state session; every session CLOSED by
    the data (next ts >= gap later) is emitted immediately; the still
    open one goes back into state with its timeout at session_end +
    gap, so the watermark passing that point fires the timeout path and
    flushes it — including for keys that simply stop sending.
    Semantics match session_window: an event exactly `gap` after the
    previous one starts a new session.
    """

    def _session_update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            s, e, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [s],
                    "session_end": [e],
                    "n_events": [n],
                }
            )
            return
        arrays = []
        for pdf in pdfs:
            a = pdf["ts_us"].to_numpy()
            # a null ts arrives as float64-with-NaN; astype would then
            # silently coerce NaN to INT64_MIN where the old per-row
            # int(x) fold raised — keep the loud-failure contract
            if not np.issubdtype(a.dtype, np.integer):
                raise ValueError(
                    f"session fold requires non-null integer 'ts_us' "
                    f"(key={key[0]!r}, got dtype {a.dtype})"
                )
            arrays.append(a.astype("int64", copy=False))
        ts = (
            np.sort(np.concatenate(arrays))
            if arrays
            else np.empty(0, dtype="int64")
        )
        s, e, n = state.get if state.exists else (None, None, 0)
        # Vectorized fold (r11; replicates the sequential semantics
        # exactly): sessions split where the sorted gap >= gap_us; the
        # incoming state session either MERGES into the first batch
        # session (ts[0] - e < gap_us — start stays s, count adds n,
        # end becomes the batch session's last ts, exactly what the
        # rolling fold did) or is closed ahead of it.
        closed: list[tuple[int, int, int]] = []
        if len(ts):
            brk = np.flatnonzero(np.diff(ts) >= gap_us)
            starts_i = np.concatenate(([0], brk + 1))
            ends_i = np.concatenate((brk, [len(ts) - 1]))
            starts = ts[starts_i]
            ends = ts[ends_i]
            counts = ends_i - starts_i + 1
            if s is not None:
                if int(ts[0]) - e < gap_us:
                    starts[0] = s
                    counts[0] += n
                else:
                    closed.append((s, e, n))
            closed.extend(
                (int(a), int(b), int(c))
                for a, b, c in zip(starts[:-1], ends[:-1], counts[:-1])
            )
            s, e, n = int(starts[-1]), int(ends[-1]), int(counts[-1])
        # EventTimeTimeout fires once the watermark passes end + gap (ms).
        # A late event (older than the watermark, which the state API
        # still delivers) can put end + gap in the PAST:
        # setTimeoutTimestamp throws INVALID_TIMEOUT_TIMESTAMP for that
        # (found by the v41 kill-restart test, tests/
        # test_streaming_crash_state.py).  An already-expired trailing
        # session is therefore flushed ON THE DATA PATH instead of being
        # parked behind a wm+1 timeout — parking strands it when nothing
        # further advances the watermark (availableNow's final
        # micro-batch carrying only the late event, ADVICE r7).
        wm_ms = state.getCurrentWatermarkMs()
        if e // 1000 + gap_us // 1000 <= wm_ms:
            closed.append((s, e, n))
            if state.exists:
                state.remove()
        else:
            state.update((s, e, n))
            state.setTimeoutTimestamp(e // 1000 + gap_us // 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed),
                    "session_start": [c[0] for c in closed],
                    "session_end": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    return _session_update


def stateful_sessions(
    stream: DataFrame, gap_us: int, key_col: str = "user_id"
) -> DataFrame:
    """Custom session operator with state EXPIRY — what session_window
    can't give you a hook into: the state is yours (carry any struct),
    and idle keys are garbage-collected by event-time timeout instead
    of living for the query's lifetime.  Input needs a watermark and a
    `ts_us` epoch-micros column."""
    return stream.groupBy(key_col).applyInPandasWithState(
        make_session_update(gap_us),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_stateful_timeout_sessions(spark, sf_dir: str, gap: str = "1 hour"):
    """V41: EventTimeTimeout sessions as a REAL three-micro-batch query.

    The events table splits at its median timestamp into two files
    (sessions spanning the split certify cross-batch state merging); a
    sentinel event (synthetic user, ts = max + 2*gap + margin) lands
    third so the final watermark passes every real session's
    end + gap and the timeout path — not just the data path — provably
    emits the trailing sessions.  maxFilesPerTrigger=1 forces the
    batch boundaries.  The emitted set is watermark-timing-INDEPENDENT
    (each session emits exactly once, on close or on timeout), which is
    why a batch sessionization oracle can hash-match it.

    Split into landing-build + query phases so the r9 profiling pass
    (tools/profile_stateful.py) can time them separately; behavior is
    unchanged.
    """
    from lawlm_spark.streaming.events import _interval_micros

    gap_us = _interval_micros(gap)
    landing, max_us = build_v41_landing(spark, sf_dir, gap_us)
    out = run_v41_query(spark, landing, gap_us, max_us)
    # create-run-discard wrapper: the memory sink holds the rows, the
    # landing is this call's own scratch (reusing callers — profiler,
    # kill-restart tests — call build/run separately and keep theirs)
    _remove_landing(landing)
    return out


def build_v41_landing(spark, sf_dir: str, gap_us: int):
    """Setup phase: median-split the events table into two landing files
    plus the watermark sentinel.  Returns (landing_dir, max_us)."""
    import os
    import shutil
    import tempfile
    import uuid as uuidlib

    from pyspark.sql import functions as F

    from lawlm_spark.streaming.events import normalize_event_time

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, "events.parquet")
    # NOTE: the stats aggregate and both split filters each re-scan the
    # source (3 passes).  A lineage cut here measured SLOWER at sf0.1
    # (12.2 s vs 10.9 s median — materializing 1M rows costs more than
    # re-running a cheap codegen scan over page-cached parquet), so the
    # recompute is deliberate: this is certification-runner setup, not
    # the operator under test.
    batch = normalize_event_time(spark.read.parquet(path)).select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    # approx median: the split point only has to land somewhere inside
    # the time range (ANY split certifies cross-batch state merging, and
    # the emitted session set is split-independent) — the exact median
    # is a sort-based aggregate, the sketch is one pass at any scale
    stats = batch.agg(
        F.percentile_approx("ts_us", 0.5).cast("long").alias("med"),
        F.max("ts_us").alias("mx"),
    ).first()
    split_us, max_us = int(stats["med"]), int(stats["mx"])

    landing = os.path.join(tempfile.gettempdir(), f"v41_{uuidlib.uuid4().hex[:8]}")
    # Two map-only filter+coalesce(1) writes beat the alternatives
    # measured at sf0.1 (r8): a single partitionBy("part") write needs a
    # repartition shuffle of the corpus first (14.9 s vs 10.9 s
    # end-to-end), and lineage-cutting `batch` trades a cheap re-scan
    # for a 1M-row materialization (12.2 s).  Setup cost, not the
    # operator under test.  The concurrent write + mtime-pin contract
    # (r9: setup ~6.5 s sequential -> ~4.4 s concurrent at sf0.1) lives
    # in streaming/landing.py since r10 (shared with the v72 builder
    # and the tests).
    from lawlm_spark.streaming.landing import write_mtime_pinned_parts

    write_mtime_pinned_parts(
        landing,
        [
            batch.filter(F.col("ts_us") <= split_us),
            batch.filter(F.col("ts_us") > split_us),
            # single-slice local frame (localdata.py, r18): the pinned-
            # parts writer coalesce(1)s each part — over the old 32-slice
            # pickled relation that serialized 32 Python evaluations into
            # the sentinel part's write task (~5 s of the setup half)
            local_rows(
                spark,
                [(-1, max_us + 2 * gap_us + 1_000_000)],
                "user_id long, ts_us long",
            ),
        ],
    )
    return landing, max_us


def run_v41_query(
    spark,
    landing: str,
    gap_us: int,
    max_us: int,
    progress_out=None,
    arrow_batch: str | None = "100000",
    sink_out: list | None = None,
):
    """Query phase: the availableNow three-micro-batch
    applyInPandasWithState run over a prebuilt landing dir.  Pass a
    list as progress_out to receive the per-micro-batch progress dicts
    (durationMs / stateOperators metrics) for profiling.

    arrow_batch (r9 profile, tools/profile_stateful.py / NOTES_r09):
    the session's global Arrow batch of 1024 (tuned for the chunker)
    is wrong for this path — 100k-record batches cut the micro-batch
    wall 6.0 -> 4.7 s at sf0.1 (fewer Python-worker roundtrips,
    cheaper state commit).  Values are batch-size independent; the
    override is a session.scoped_conf around the query's start (the
    stream clones the conf there), so a failed query cannot leak it
    into the shared session.  Pass None to run at the session's value
    (the profiler sweeps real batch sizes this way).
    """
    import os

    from pyspark.sql import functions as F

    from lawlm_spark.session import scoped_conf

    schema = spark.read.parquet(os.path.join(landing, "part0.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(landing)
    )
    stream = stream.withColumn(
        "ts", F.timestamp_micros(F.col("ts_us"))
    ).withWatermark("ts", "0 seconds")
    sessions = stateful_sessions(stream.select("user_id", "ts", "ts_us"), gap_us)
    # input-sized state partitioning (landing.py::input_sized_shuffle)
    # was MEASURED AND REJECTED here (r19): byte-sizing collapses this
    # feed to 1 state partition, which serializes the per-KEY Python
    # work applyInPandasWithState pays (one function call + one output
    # frame per key per batch) — query half 6.8 s -> 19-22 s at sf0.1.
    # Python-state operators are per-byte-CPU-dense, the exact class
    # the r18 coalescing policy excludes; the JVM-state runners
    # (events.py) keep the policy, where it measured faster.
    arrow_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    arrow = {} if arrow_batch is None else {arrow_conf: arrow_batch}
    q = _drain_to_memory(sessions, "v41", "append", scoped_conf(spark, arrow))
    if progress_out is not None:
        progress_out.extend(q.recentProgress)
    if sink_out is not None:
        # the memory-sink temp view holds the full result in the driver
        # for the session lifetime; loop callers (profiler sweeps, bench
        # reps) pass sink_out and dropTempView(name) after their final
        # consuming action — one-shot callers can let the session own it
        sink_out.append(q.name)
    # only the sentinel can start a session after the real max event time
    return spark.table(q.name).filter(F.col("session_start") <= max_us)
