"""Shared landing-dir writer for the availableNow streaming runners.

The micro-batch ORDER contract every stateful runner relies on:
`maxFilesPerTrigger=1` + `latestFirst=false` consume files by
modification time, so each part is written as exactly ONE parquet file
and the mtimes are stamped strictly increasing in part-index order
AFTER all writes land (write-completion order must never leak into
batch order — the r9 v41 lesson, pinned by
tests/test_stateful.py::test_landing_build_file_order_contract).

One implementation instead of the three copies the r10 review found
(v41 builder, v72 builder, test helper).
"""

from __future__ import annotations

import logging
import math
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

log = logging.getLogger(__name__)


def write_mtime_pinned_parts(landing: str, parts: list) -> list[str]:
    """Write each DataFrame in `parts` as landing/part<i>.parquet (one
    file each, written concurrently — they are independent map-only
    jobs), then stamp strictly increasing mtimes in index order.
    Returns the file paths.

    Fails if the landing dir already has content: a second call would
    stamp new parts with mtimes equal to existing ones and silently
    break the mtime-order micro-batch contract (ADVICE r10)."""
    os.makedirs(landing, exist_ok=True)
    existing = os.listdir(landing)
    if existing:
        raise ValueError(
            f"landing dir {landing} is not empty ({existing[:3]}...): "
            "a second write_mtime_pinned_parts call would stamp "
            "overlapping mtimes and break micro-batch order — use a "
            "fresh directory"
        )

    def _write(i_part):
        i, part = i_part
        stage = os.path.join(landing, f"_stage{i}")
        part.coalesce(1).write.parquet(stage)
        f = next(x for x in os.listdir(stage) if x.endswith(".parquet"))
        dst = os.path.join(landing, f"part{i}.parquet")
        shutil.move(os.path.join(stage, f), dst)
        shutil.rmtree(stage)
        return dst

    with ThreadPoolExecutor(max_workers=max(len(parts), 1)) as pool:
        dsts = list(pool.map(_write, enumerate(parts)))
    t0 = 1_600_000_000
    for i, dst in enumerate(dsts):
        os.utime(dst, (t0 + i * 60, t0 + i * 60))
    return dsts


_SHUFFLE_KEY = "spark.sql.shuffle.partitions"
_ADVISORY_KEY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
_SIZE_UNITS = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def _byte_string_as_bytes(s: str) -> int:
    """Parse a Spark byte-size conf string ('64MB', '128m', '1073741824')
    to bytes — the same grammar JavaUtils.byteStringAsBytes accepts for
    the confs this module reads."""
    t = str(s).strip().lower()
    i = len(t)
    while i > 0 and not t[i - 1].isdigit():
        i -= 1
    num, unit = t[:i], t[i:].strip()
    if not num or unit not in _SIZE_UNITS:
        raise ValueError(f"unparseable byte size {s!r}")
    return int(num) * _SIZE_UNITS[unit]


def input_bytes(spark, *paths: str) -> int:
    """Total bytes under the given files/directories, sized through the
    Hadoop FileSystem API (getContentSummary), so local, file://,
    hdfs:// and s3a:// inputs all size alike.  A missing path logs a
    warning and counts 0 bytes."""
    from lawlm_spark.streaming.cdc import _hadoop_fs

    total = 0
    for p in paths:
        fs, jpath = _hadoop_fs(spark, p)
        if not fs.exists(jpath):
            log.warning("input_bytes: %s does not exist; counted as 0 bytes", p)
            continue
        total += fs.getContentSummary(jpath).getLength()
    return total


def input_sized_shuffle(spark, *paths: str):
    """Size `spark.sql.shuffle.partitions` from the streaming input's
    bytes for the duration of the block:

        partitions = max(1, ceil(input_bytes / advisoryPartitionSizeInBytes))

    Why this exists (optimization r19, guide §2.2): AQE's byte-governed
    partition coalescing is DISABLED in streaming (the micro-batch
    planner rejects AQE for stateful workloads), and the state-store
    partition count is pinned at query start from this conf and carried
    by the checkpoint for the query's lifetime — so a stateful streaming
    query keeps paying `defaultParallelism` state partitions per
    micro-batch (task launch + per-partition state commit) no matter how
    small the feed is.  This helper applies the identical byte-sizing
    policy AQE would apply, derived from the declared source size: a
    megabyte-scale availableNow replay folds to one state partition; a
    100 TB feed derives thousands, governed by the same advisory size
    that governs the batch side.  No core-count or hand-tuned constant
    anywhere — the r18 round REJECTED a fixed 32->8 cut precisely
    because it had no data-derived formula; this is that formula.

    An input that sizes to 0 bytes (a mistyped or empty path) is no
    evidence of a small feed: the block then logs a warning and leaves
    the session's partition count untouched instead of pinning 1.

    SCOPE (measured, r19): JVM-state streaming operators only —
    session_window/tumbling aggregations, stream-stream joins,
    watermarked dedup, sketch aggregations (b_streaming min 3.03-3.13 s
    vs 3.40-3.41 s interleaved at sf0.1).  Do NOT wrap
    applyInPandasWithState runners: their cost is per-KEY Python work
    (one function call + one output frame per key per batch), which
    byte-sizing serializes — the v41 query half measured 6.8 s -> 19-22 s
    at one partition.  Per-byte-CPU-dense operators are excluded from
    byte-sizing exactly as in operators/tuning.coalesced_shuffles.

    Results are partition-count independent for every wrapped query
    (hash-certified streaming aggregations/state folds), so this cannot
    change any query's output.  The set/restore is session.scoped_conf;
    a stream's conf is cloned at `start()`, so runners end the block
    there (see drain_to_memory)."""
    from lawlm_spark.session import scoped_conf

    advisory = _byte_string_as_bytes(spark.conf.get(_ADVISORY_KEY, "64MB"))
    n_bytes = input_bytes(spark, *paths)
    if n_bytes == 0:
        log.warning(
            "input_sized_shuffle: %s sized to 0 bytes; keeping the session's "
            "%s", paths, _SHUFFLE_KEY,
        )
        return scoped_conf(spark, {})
    n = max(1, math.ceil(n_bytes / advisory))
    log.info("input_sized_shuffle: %d bytes -> %s=%d", n_bytes, _SHUFFLE_KEY, n)
    return scoped_conf(spark, {_SHUFFLE_KEY: str(n)})


def drain_to_memory(df, tag: str, mode: str, scope=None):
    """Run `df` as an availableNow query into a fresh memory sink named
    `<tag>_sink_<uuid>` and wait for it to drain; returns the query
    (`spark.table(q.name)` reads the sink).

    `scope` (a session.scoped_conf block, e.g. input_sized_shuffle; None
    runs on the session as it is) covers only `start()`: the query
    clones the session conf there and every micro-batch runs on that
    clone, so the session values are restored before the await and a
    hung stream never holds the session-conf lock.  The run's
    checkpoint is removed once the query terminates (the sink holds
    the rows)."""
    import tempfile
    import uuid

    sink = f"{tag}_sink_{uuid.uuid4().hex[:8]}"
    with scope or nullcontext():
        q = (
            df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(mode)
            .option(
                "checkpointLocation",
                os.path.join(tempfile.gettempdir(), f"ckpt_{sink}"),
            )
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    remove_run_ckpt(sink)
    return q


def remove_run_ckpt(sink: str) -> None:
    """Best-effort removal of a terminated run's checkpoint dir
    (ckpt_<sink> under the system temp dir).  The memory sink holds
    the materialized rows, so after awaitTermination the checkpoint is
    dead weight — and litter compounds: thousands of accumulated
    scratch dirs measurably slowed the checkpoint-heavy bench queries
    in r12's quiet runs (NOTES_r12 §5).  Runners with fresh per-run
    uuid sinks call this; tests that deliberately RESTART on a
    checkpoint manage their own paths and never route through it."""
    import tempfile as _tf

    shutil.rmtree(
        os.path.join(_tf.gettempdir(), f"ckpt_{sink}"), ignore_errors=True
    )


def remove_landing(path: str) -> None:
    """Best-effort removal of a create-run-discard landing dir once its
    query has terminated (same litter rationale as remove_run_ckpt —
    landings were 669 of the r12 /tmp entries).  Guarded to the system
    temp dir so a mis-wired caller can never delete real data.  Only
    for landings the caller CREATED for one run; builders that return
    a landing for reuse (profilers, kill-restart tests) leave cleanup
    to their callers."""
    import tempfile as _tf

    real = os.path.realpath(path)
    if not real.startswith(os.path.realpath(_tf.gettempdir()) + os.sep):
        raise ValueError(f"refusing to remove non-tempdir landing: {path}")
    shutil.rmtree(real, ignore_errors=True)
