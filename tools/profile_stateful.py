"""Profile b_streaming_stateful (VERDICT r8 item 3): the v41
applyInPandasWithState path is the slowest bench entry (~11 s median at
sf0.1) — separate landing/checkpoint SETUP from steady-state micro-batch
cost, break the micro-batches down via StreamingQueryProgress
(addBatch / stateOperators timings), and measure Arrow batch-size
sensitivity (spark.sql.execution.arrow.maxRecordsPerBatch).

    python tools/profile_stateful.py [sf_dir] [reps]
    python tools/profile_stateful.py [sf_dir] [reps] --providers

--providers (r10, VERDICT r9 item 3) A/Bs the state-store provider —
default HDFS-backed vs RocksDB — at the tuned Arrow batch (100k),
instead of the Arrow sweep.  The provider conf is read at stream
start, so a scoped_conf around each run is enough; each run uses
a fresh checkpoint, so no cross-provider state-format clash.

Prints one JSON document; the NOTES breakdowns are derived from it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPS = 3


_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state."
               "RocksDBStateStoreProvider",
}


def profile(sf_dir: str, reps: int, providers: bool = False) -> dict:
    from pyspark.sql import functions as F

    from lawlm_spark.session import get_spark, scoped_conf
    from lawlm_spark.streaming.events import _interval_micros
    from lawlm_spark.streaming.stateful import build_v41_landing, run_v41_query

    spark = get_spark(
        "profile-stateful", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    gap_us = _interval_micros("1 hour")

    # ---- phase 1: setup (stats scan + landing writes), timed alone ----
    t0 = time.perf_counter()
    landing, max_us = build_v41_landing(spark, sf_dir, gap_us)
    setup_s = round(time.perf_counter() - t0, 3)

    # corpus shape (for the per-key floor analysis)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_rows = ev.count()
    n_keys = ev.select("user_id").distinct().count()

    out: dict = {
        "sf_dir": sf_dir,
        "setup_s": setup_s,
        "n_rows": n_rows,
        "n_keys": n_keys,
        "arrow_batch_sweep": {},
    }

    # ---- phase 2: the streaming query, per Arrow batch size (or, with
    # --providers, per state-store provider at the tuned batch) ----
    # the sweep value goes THROUGH run_v41_query's arrow_batch param —
    # since r9 the runner force-sets its own tuned value, so setting the
    # session conf here would be silently overridden (found by the r9
    # code-review pass)
    sweep = tuple(_PROVIDERS) if providers else ("1000", "10000", "100000")
    out["sweep_kind"] = "provider" if providers else "arrow_batch"
    # the sweep dict is keyed by provider name in --providers mode —
    # name the output key accordingly instead of lying as
    # "arrow_batch_sweep" (r10 review finding)
    sweep_key = "provider_sweep" if providers else "arrow_batch_sweep"
    out[sweep_key] = out.pop("arrow_batch_sweep")
    for batch_size in sweep:
        runs = []
        provider = {_PROVIDER_CONF: _PROVIDERS[batch_size]} if providers else {}
        for _ in range(reps):
            progress: list = []
            sinks: list = []
            t0 = time.perf_counter()
            with scoped_conf(spark, provider):
                df = run_v41_query(
                    spark, landing, gap_us, max_us,
                    progress_out=progress,
                    arrow_batch="100000" if providers else batch_size,
                    sink_out=sinks,
                )
            n_out = df.count()
            wall = round(time.perf_counter() - t0, 3)
            for s in sinks:
                # each memory sink holds the full result in the driver;
                # a 3x3 sweep would otherwise retain 9 of them
                spark.catalog.dropTempView(s)
            batches = []
            for p in progress:
                d = json.loads(p.json) if hasattr(p, "json") else p
                so = (d.get("stateOperators") or [{}])[0]
                batches.append(
                    {
                        "batchId": d.get("batchId"),
                        "numInputRows": d.get("numInputRows"),
                        "addBatch_ms": (d.get("durationMs") or {}).get("addBatch"),
                        "triggerExecution_ms": (d.get("durationMs") or {}).get(
                            "triggerExecution"
                        ),
                        "allUpdatesTimeMs": so.get("allUpdatesTimeMs"),
                        "commitTimeMs": so.get("commitTimeMs"),
                        "allRemovalsTimeMs": so.get("allRemovalsTimeMs"),
                        "numRowsUpdated": so.get("numRowsUpdated"),
                        "numRowsTotal": so.get("numRowsTotal"),
                    }
                )
            runs.append({"wall_s": wall, "n_out": n_out, "batches": batches})
        walls = sorted(r["wall_s"] for r in runs)
        out[sweep_key][batch_size] = {
            "median_wall_s": walls[len(walls) // 2],
            "walls": walls,
            "runs": runs,
        }
        spark.catalog.clearCache()
    spark.stop()
    return out


if __name__ == "__main__":
    argv = [a for a in sys.argv[1:] if a != "--providers"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    reps = int(argv[1]) if len(argv) > 1 else REPS
    providers = "--providers" in sys.argv[1:]
    print(json.dumps(profile(sf_dir, reps, providers=providers), indent=1))
