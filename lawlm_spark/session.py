"""SparkSession factory.

Local mode mirrors the driver environment (local[$SPARK_GRAFT_CPUS],
single JVM); the conf choices are the ones that matter on a real
multi-executor cluster too:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- auto broadcast threshold left at default so small dims broadcast
- Arrow enabled for every pandas-UDF boundary
- shuffle partitions sized to the core count (AQE coalesces down);
  at 100 TB you would raise this to ~2-3x total cores and rely on
  AQE + spark.sql.adaptive.advisoryPartitionSizeInBytes
- session timezone pinned to UTC so timestamp semantics are stable
  across the DuckDB oracle, parquet readers and streaming windows
- streaming state store stays on the DEFAULT HDFS-backed provider:
  the r10 A/B (tools/profile_stateful.py --providers, NOTES_r10) had
  RocksDB ~18% SLOWER on the v41 stateful path at this state size
  (1500 keys: in-heap maps are cheap; RocksDB pays 2-3x commitTimeMs
  for native snapshot/changelog upkeep).  At 100 TB, when per-executor
  state outgrows the heap, flip ONE conf —
  spark.sql.streaming.stateStore.providerClass =
  ...state.RocksDBStateStoreProvider — the swap is correctness-
  certified (all 9 streaming registry entries selfcheck green under
  RocksDB at sf0.01, identical values; NOTES_r10).

The module also owns the engine's three session-state mechanisms:
`scoped_conf` (the one way to override a session conf for a block),
`materialize` (the one persist -> register -> force protocol) and
`lineage_cut` (the one way to truncate a plan's lineage).
"""

from __future__ import annotations

import logging
import os
import threading
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)

# Session-conf guard (ADVICE r18 / VERDICT r18 item 5): scoped_conf
# mutates SESSION-level SQL conf, so two driver threads interleaving
# their set/restore could leak a value into the session or apply it to
# an unrelated concurrent query.  The lock serializes the whole scoped
# REGION, not just the conf calls — a concurrent query on the same
# session inside someone else's block is exactly the hazard excluded.
# RLock: a scoped block may nest another on the same thread.  Streaming
# runners end their block at `.start()` (the query clones the session
# conf there), so a long-running stream never holds it.
_SESSION_CONF_LOCK = threading.RLock()


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "lawlm-spark",
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r18 re-measure: the r2-era 1024 (tuned when chunker rows were
        # assumed wide) costs extra Python-worker roundtrips on every
        # pandas boundary; at Spark's default 10000 the pandas-UDF
        # benches read equal-or-faster (b_ingest_recursive 2.37->1.91 s,
        # b_nfa_pattern 4.00->3.59 s, b_semdedup 3.67->3.34 s mins,
        # interleaved) including the chunker path itself.  65536
        # measured no further gain.  v41 keeps its local 100k override.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # No per-call origin capture: with it every functions/Column call
        # walks the Python stack and ships the call site to the JVM (F.col:
        # 13 py4j round trips instead of 3), most of a plan's build time.
        # Cost: an analysis error no longer names the Python line that
        # built the failing expression.  pyspark reads the flag once per
        # process, at the first functions call under an active session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # delete a reliable checkpoint (session.lineage_cut) once its RDD
        # is garbage-collected, not when the checkpoint dir goes away
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # events.parquet carries TIMESTAMP(NANOS), which Spark cannot read
        # natively (PARQUET_TYPE_ILLEGAL); read as long, convert in the
        # source layer (sources/testdata.py) so views expose a real
        # timestamp matching the DuckDB oracle's microsecond TIMESTAMP.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # managed tables (bucketed mirrors) land in tmp, not the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/lawlm_spark_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _silence_bounded_window_warnings(spark)
    return spark


def _silence_bounded_window_warnings(spark: SparkSession) -> None:
    """Raise WindowExec's log level to ERROR (VERDICT r6 item 5).

    Every unpartitioned window in this engine runs over an
    already-bounded relation (post-limit rank stamps, ≤n_bins sketch
    registers), yet each one emits "No Partition Defined for Window
    operation!" — dozens of lines that drown the bench tail.  A
    constant partition key CANNOT fix this on Spark 4: the
    EliminateWindowPartitions optimizer rule (SPARK-46941) strips
    foldable partition expressions, so the physical spec is empty again
    and the warning returns (verified empirically with lit(1),
    when/otherwise, and arithmetic-identity keys).  Filtering this one
    logger is the remaining lever; the guard against a REAL
    unpartitioned window sneaking in moves to tests/
    test_window_hygiene.py, which fails on any `Window.orderBy` /
    bare `Window.partitionBy()` site not on the documented
    bounded-relation allowlist — a stronger, review-forcing check than
    a log line in a bench tail.

    Opt out with SPARK_GRAFT_KEEP_WINDOW_WARNINGS=1 (ADVICE r7):
    downstream applications embedding get_spark keep the scale warning
    for their own user-authored corpus-sized windows — the allowlist
    guard only covers this repo's sources.
    """
    if os.environ.get("SPARK_GRAFT_KEEP_WINDOW_WARNINGS", "") == "1":
        return
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 deployments: warnings are cosmetic only


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set each `confs` key on the session for the duration of the
    block; on exit, raise or return, restore the previous value or
    unset the key if it was unset before.  Holds _SESSION_CONF_LOCK
    across the block.

    `conf.get(key, None)` returns None for an UNSET key (the explicit
    default wins over the SQLConf built-in), so the unset branch is
    live — pinned by tests/test_stateful.py::
    test_conf_get_none_default_detects_unset."""
    with _SESSION_CONF_LOCK:
        old = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        if confs:
            log.info("scoped_conf set %s (was %s)", confs, old)
        try:
            yield
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            if confs:
                log.info("scoped_conf restored %s", old)


def materialize(
    df: DataFrame, cache_registry: list[DataFrame] | None = None
) -> tuple[DataFrame, int]:
    """Persist `df` (MEMORY_AND_DISK), append the handle to
    `cache_registry`, then force it with a count; returns (persisted
    frame, row count).

    Why eager: Spark shares no subplans, and a lazy persist does not
    dedupe work within ONE job — every branch of a multi-consumer plan
    computes the partitions and races to cache them ('Block already
    exists', round 2).  The count fills the cache once up front.  The
    handle is registered BEFORE the forcing action, and if that action
    fails the block is unpersisted and the error re-raised, so no
    cached block outlives a failed call, with or without a registry.
    With a registry, the caller unpersists after its final consuming
    action; without one the block lives until session LRU eviction."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if cache_registry is not None:
        cache_registry.append(df)
    try:
        n = df.count()
    except BaseException:
        df.unpersist()
        raise
    log.info("materialize: persisted %d rows", n)
    return df, n


def lineage_cut(df: DataFrame) -> DataFrame:
    """Truncate `df`'s lineage with an eager checkpoint: a reliable
    `checkpoint()` (HDFS/object store, survives executor loss — the
    100 TB path) when the session has a checkpoint dir set, else
    `localCheckpoint()` (fast, dies with its executor).  The session
    checkpoint dir is the one switch; logs which cut it took.

    Why a cut and not a persist (found by the connected-components
    property test against a union-find reference): caching keeps the
    data but the LOGICAL plan still nests one join per iteration, and
    analyzer/optimizer time grows superlinearly with plan depth —
    rounds get slower and slower.  A checkpoint replaces the plan with
    a scan of the materialized rows, so every round's plan is
    constant-size; for a table with several consumers it also stops
    each consumer from re-running the upstream chain (Spark shares no
    subplans)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        log.info("lineage_cut: reliable checkpoint")
        return df.checkpoint(eager=True)
    log.info("lineage_cut: local checkpoint")
    return df.localCheckpoint(eager=True)
