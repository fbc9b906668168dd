"""Broadcast-state stream enrichment — the Flink broadcast-state
pattern (VERDICT r9's second surface candidate): a keyed DATA stream
enriched against REFERENCE updates that arrive on a stream, held in
per-key state and applied in event-time order.  Batch as-of joins
(operators/asof.py) need both sides complete; here the reference is a
live stream and each data event must see exactly the latest reference
update strictly before it (lexicographic (ts_us, event_id) order, so
ties are deterministic on both engines).

API note — transformWithState is GATED in this container, the
semantics are NOT.  Spark 4.x's typed-state API
(`GroupedData.transformWithStateInPandas` + `StatefulProcessor`) is
the native binding for this pattern, and PySpark 4.1.2 ships it, but
its Python state-server protocol imports `google.protobuf`, which is
absent here and cannot be installed (reproduced:
STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE / ImportError: cannot
import name 'descriptor' from 'google.protobuf' — NOTES_r10).  Same
environment-gate class as pypdf/qdrant/sentence-transformers.  The
implementation below expresses identical semantics on
`applyInPandasWithState` (ValueState of the latest reference per key);
switching to a `StatefulProcessor` when protobuf exists is a
mechanical rebinding of `_enrich_fn`.

Scale shape: ONE stateful exchange on the key (plan-asserted in
tests/test_enrichment.py); per-key state is a constant-size tuple
(latest reference), so state growth is O(distinct keys) regardless of
stream length; the per-batch Python work is a single sorted pass over
the key's rows.  At 100 TB the landing build shards by key across
executors exactly like the v41 path (NOTES_r09 §5 floor analysis).

State retention at 100 TB (VERDICT r11 item 3).  The plain operator
(`stateful_enrichment`, NoTimeout) holds one ~16-byte tuple per
distinct key FOREVER — at unbounded key cardinality that is an
unbounded state store, and the RocksDB provider flip (certified
NOTES_r10 §3) only moves it off-heap.  Sizing bound for the NoTimeout
form: state bytes ≈ distinct_keys × (key width + 16 B tuple + store
overhead ≈ 100 B under HDFS-backed, less under RocksDB) — 1e9 keys
≈ 100 GB across the cluster, so it is fine for bounded key domains
(users, devices) and wrong for open domains (URLs, session ids).
For open domains use `stateful_enrichment_ttl`: a reference older
than `ttl_us` at the event's time no longer applies (the event
re-seeds from DEFAULT_MULT — a pure EVENT-TIME rule, so results are
micro-batch-layout independent), and state whose reference is older
than `ttl_us` behind the watermark is evicted by EventTimeTimeout.
The eviction is provably result-neutral: any in-watermark future
event for that key is at least `ttl_us` after the evicted reference
and would read DEFAULT_MULT anyway (events later than the watermark
get the standard watermark contract — no staleness guarantee).
State is then O(keys active within one ttl horizon), the same bound
v41's session GC gives (the v41 EventTimeTimeout pattern on the same
API), matching the reference's bounded-state resume contract
(qdrant_manager.py:92-106 assumes bounded state; this is its
streaming generalization).
"""

from __future__ import annotations

import os
import tempfile
import uuid as uuidlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from lawlm_spark.streaming.landing import (
    drain_to_memory as _drain_to_memory,
    write_mtime_pinned_parts,
)

# output of the enrichment operator: every DATA (purchase) event with
# the multiplier that was live at its event time and the enriched value
OUT_SCHEMA = (
    "user_id long, event_id long, ts_us long, cents long, "
    "mult_applied long, enriched_cents long"
)
# per-key state: the latest reference update seen so far
STATE_SCHEMA = "ts_us long, mult long"
DEFAULT_MULT = 1


def _enrich_fold(key, pdfs, state, ttl_us=None):
    """One key's micro-batch: fold rows in (ts_us, event_id) order —
    'U' rows replace the state multiplier, 'D' rows emit enriched with
    the multiplier live at that point.  Cross-batch order is the
    landing contract (time-split parts, mtime-pinned), so the sorted
    within-batch pass composes to exact global as-of semantics.

    The within-batch fold is vectorized (VERDICT r10 polish note): the
    multiplier live at each row is the latest 'U' val at an earlier
    sorted position, i.e. a forward-fill of U vals seeded by the
    incoming state — no per-row Python loop.  The cross-batch state
    handoff (one tuple per key) is unchanged.

    With ttl_us set (the TTL variant), a reference strictly older than
    ttl_us at a data event's time does not apply — the event reads
    DEFAULT_MULT (mult applies iff d.ts_us - u.ts_us < ttl_us, a pure
    event-time rule).  State whose reference expiry (ref_ts + ttl,
    rounded UP to ms) is at or behind the watermark is dropped instead
    of parked: any in-watermark future event would read DEFAULT_MULT
    anyway, so the eviction cannot change results (module docstring)."""
    rows = pd.concat(list(pdfs)).sort_values(["ts_us", "event_id"])
    cur_ts, cur_mult = state.getOption or (-1, DEFAULT_MULT)
    is_u = (rows["kind"] == "U").to_numpy()
    vals = rows["val"].to_numpy()
    # a null val arrives as float64-with-NaN; the int64 gathers below
    # would then silently coerce NaN to INT64_MIN where the old
    # per-row int(r.val) fold raised — keep the loud-failure contract
    if not np.issubdtype(vals.dtype, np.integer):
        raise ValueError(
            f"enrichment fold requires non-null integer 'val' "
            f"(key={int(key[0])}, got dtype {vals.dtype}; a NaN here "
            "means a null val row reached the stateful operator)"
        )
    # forward-fill of U vals as an exact int64 GATHER (not a pandas
    # ffill, which would round-trip through float64 and corrupt
    # multipliers above 2^53 — r11 review): latest U position at or
    # before each row, then index back into vals.  For a D row
    # "at or before" = "strictly before" (the row itself is not U),
    # matching the sequential fold.
    u_pos = np.where(is_u, np.arange(len(is_u)), -1)
    latest_u = np.maximum.accumulate(u_pos) if len(u_pos) else u_pos
    ts_arr = rows["ts_us"].to_numpy()
    if not np.issubdtype(ts_arr.dtype, np.integer):
        raise ValueError(
            f"enrichment fold requires non-null integer 'ts_us' "
            f"(key={int(key[0])}, got dtype {ts_arr.dtype})"
        )
    live = np.where(
        latest_u >= 0,
        vals[np.maximum(latest_u, 0)],
        cur_mult,
    ).astype("int64")
    if ttl_us is not None:
        # staleness rule: the gathered reference applies iff it is
        # strictly younger than ttl_us at the row's event time.  A
        # no-reference row already carries DEFAULT_MULT (cur_ts = -1
        # makes the diff huge, selecting DEFAULT again) — older
        # references are never fresher than the latest one, so
        # checking only the latest is exact.
        ref_ts = np.where(
            latest_u >= 0, ts_arr[np.maximum(latest_u, 0)], cur_ts
        ).astype("int64")
        live = np.where(ts_arr - ref_ts < ttl_us, live, DEFAULT_MULT)
    if is_u.any():
        last_u = int(np.flatnonzero(is_u)[-1])
        cur_ts = int(ts_arr[last_u])
        cur_mult = int(vals[last_u])
    if ttl_us is None:
        state.update((cur_ts, cur_mult))
    else:
        wm_ms = state.getCurrentWatermarkMs()
        # expiry rounded UP to ms so eviction NEVER precedes event-time
        # staleness: evicted => ref_ts + ttl <= wm*1000 <= any on-time
        # ts => the rule reads DEFAULT_MULT for that event regardless
        expiry_ms = -(-(cur_ts + ttl_us) // 1000)
        if cur_ts < 0 or expiry_ms <= wm_ms:
            if state.exists:
                state.remove()
        else:
            state.update((cur_ts, cur_mult))
            state.setTimeoutTimestamp(expiry_ms)
    d_mask = ~is_u
    if d_mask.any():
        cents = vals[d_mask].astype("int64")
        mult = live[d_mask]
        enriched = cents * mult
        # numpy int64 multiply WRAPS on overflow where the old per-row
        # Python fold failed loudly at Arrow conversion (r11 review) —
        # restore loudness with an exact vectorized check: a wrapped
        # product no longer divides back to the multiplier
        nz = cents != 0
        if not np.array_equal(enriched[nz] // cents[nz], mult[nz]):
            raise OverflowError(
                "enriched_cents overflows int64 for at least one row "
                f"(key={int(key[0])}); cents * mult must fit the "
                "declared long output schema"
            )
        yield pd.DataFrame(
            {
                "user_id": np.full(cents.shape, int(key[0]), dtype="int64"),
                "event_id": rows["event_id"].to_numpy()[d_mask].astype("int64"),
                "ts_us": ts_arr[d_mask].astype("int64"),
                "cents": cents,
                "mult_applied": mult,
                "enriched_cents": enriched,
            }
        )


def _enrich_fn(key, pdfs, state):
    """NoTimeout form of the fold (unbounded key-domain caveat: module
    docstring's state-sizing note)."""
    yield from _enrich_fold(key, pdfs, state, None)


def make_enrich_ttl_fn(ttl_us: int):
    """TTL form: staleness rule + result-neutral EventTimeTimeout GC."""

    def _enrich_ttl(key, pdfs, state):
        if state.hasTimedOut:
            # idle key whose reference expiry passed the watermark:
            # evict — nothing pending to flush (unlike v41 sessions),
            # and the next event for this key re-seeds DEFAULT_MULT
            state.remove()
            return
        yield from _enrich_fold(key, pdfs, state, ttl_us)

    return _enrich_ttl


def stateful_enrichment(stream):
    """stream: (user_id, event_id, ts_us, kind 'U'|'D', val) —
    'U' carries a multiplier, 'D' carries cents.  Returns the enriched
    'D' stream (OUT_SCHEMA)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("user_id").applyInPandasWithState(
        _enrich_fn,
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def stateful_enrichment_ttl(stream, ttl_us: int):
    """Bounded-state variant (VERDICT r11 item 3): same contract as
    stateful_enrichment PLUS an event-time staleness horizon — a data
    event more than ttl_us after its latest reference reads
    DEFAULT_MULT, and state whose reference expired behind the
    watermark is evicted by EventTimeTimeout (v41's GC pattern on the
    same API).  Input must carry a watermark (timestamp column).
    State is O(keys with a reference younger than ttl_us), independent
    of total key cardinality — the 100 TB open-domain form."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("user_id").applyInPandasWithState(
        make_enrich_ttl_fn(ttl_us),
        OUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def build_enrichment_landing(spark, sf_dir: str):
    """Tagged union landing from the events table: signups become
    reference updates ('U', mult = pmod(round(value), 9) + 2 in 2..10
    — pmod, not %, so the invariant holds even for negative values;
    ADVICE r10), purchases become data events ('D', cents).  Two time-split parts
    with mtime-pinned order (the v41 landing contract; ties at the
    split share a batch because the split predicate uses ts only, so
    the composite (ts_us, event_id) order is never cut mid-tie).
    Returns the landing dir."""
    from lawlm_spark.streaming.events import normalize_event_time

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = normalize_event_time(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    )
    tagged = ev.filter(
        F.col("event_type").isin("signup", "purchase")
    ).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.when(F.col("event_type") == "signup", F.lit("U"))
        .otherwise(F.lit("D"))
        .alias("kind"),
        F.when(
            F.col("event_type") == "signup",
            F.pmod(F.round(F.col("value")).cast("long"), F.lit(9)) + 2,
        )
        .otherwise(F.round(F.col("value") * 100).cast("long"))
        .alias("val"),
    )
    med = tagged.agg(
        F.percentile_approx("ts_us", 0.5).cast("long").alias("med")
    ).first()["med"]
    if med is None:
        # empty tagged stream: int(None) below would raise an opaque
        # TypeError (r10 review finding) — name the real problem
        raise ValueError(
            f"no signup/purchase rows in {sf_dir}/events.parquet — "
            "nothing to enrich"
        )
    split_us = int(med)
    landing = os.path.join(
        tempfile.gettempdir(), f"v72_{uuidlib.uuid4().hex[:8]}"
    )
    write_mtime_pinned_parts(
        landing,
        [
            tagged.filter(F.col("ts_us") <= split_us),
            tagged.filter(F.col("ts_us") > split_us),
        ],
    )
    return landing


def _run_enrichment_query(spark, landing: str, ttl_us: int | None,
                          progress_out: list | None = None):
    """Shared micro-batch drive for both enrichment forms (r12 review:
    the two runners had drifted copies of the Arrow override, schema
    read, sink wiring and ckpt cleanup).  ttl_us=None runs the plain
    NoTimeout operator; an int runs the TTL variant, adding the
    event-time watermark EventTimeTimeout requires (0 s delay — the
    landing parts are time-split, so nothing is late).  Same Arrow
    override as run_v41_query (the session's 1024 is tuned for the
    chunker; this path wants large batches), scoped to the query's
    start.  Pass a list as progress_out to receive per-micro-batch
    progress dicts (stateOperators metrics — the eviction test reads
    numRowsTotal)."""
    from lawlm_spark.session import scoped_conf

    schema = spark.read.parquet(os.path.join(landing, "part0.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(landing)
    )
    if ttl_us is None:
        enriched = stateful_enrichment(stream)
    else:
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.col("ts_us"))
        ).withWatermark("ts", "0 seconds")
        enriched = stateful_enrichment_ttl(stream, ttl_us)
    # NO input-sized state partitioning here: applyInPandasWithState
    # is per-key-Python-dense — see stateful.run_v41_query's
    # rejection note (r19)
    q = _drain_to_memory(
        enriched, "v72" if ttl_us is None else "v74", "append",
        scoped_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "100000"}),
    )
    if progress_out is not None:
        progress_out.extend(q.recentProgress)
    return spark.table(q.name)


def run_v72_query(spark, landing: str, progress_out: list | None = None):
    """Plain (NoTimeout) enrichment run — see _run_enrichment_query."""
    return _run_enrichment_query(spark, landing, None, progress_out)


def run_v72_ttl_query(spark, landing: str, ttl_us: int,
                      progress_out: list | None = None):
    """TTL-variant run — see _run_enrichment_query."""
    return _run_enrichment_query(spark, landing, ttl_us, progress_out)
