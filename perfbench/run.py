"""End-to-end benchmark of lawlm_spark: bulk ingest and online serve.

Its traced per-layer run also covers the incremental (streaming) path.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The seed makes the inputs; the engine
sees only the generated files.  With --trace 0 the last stdout line is the
end-to-end metrics; with --trace 1 it is the per-layer metrics of a traced
run (README.md says what each one is and which end-to-end metric it should
move).  Everything the run writes goes under .perfbench_work/ and is
removed at exit, except the traced run's spans in .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the whole run, set-up and clean-up included
# Spark task slots.  The host gives 4 vCPUs shared with other tenants; the
# JVM's compiler and GC threads, the driver and the Python workers need
# the rest, or the run times the scheduler.  With 4 slots an ingest pass
# was about 5 % faster but cost 10-20 % more CPU.
CORES = 2
HEAP = "2g"

LAYERS = (
    "functions.text", "operators.chunking", "functions.vectors", "operators.bm25",
    "sources.mirror", "operators.similarity", "operators.ranking", "functions.llm",
    "serving", "operators.dedup", "streaming.ingest", "plans.rag",
)
PER_LAYER = ("wall_s", "self_s", "task_cpu_s", "tasks", "stages", "shuffle_write_bytes",
             "spill_bytes", "gc_s", "rows_out")
DERIVED = (
    "plans.rag.barrier_s", "operators.chunking.chunks_per_doc",
    "operators.bm25.postings_per_chunk", "sources.mirror.bytes_written_per_doc_byte",
    "sources.mirror.files_per_round",
    "operators.similarity.candidates_per_query", "serving.jobs_per_query",
    "serving.stages_per_query", "operators.dedup.candidates_per_verified_pair",
)
OVERALL = ("session.wall_s", "trace.work_s_untraced", "trace.work_s_traced", "trace.overhead_s")
UNITS = {"wall_s": "s", "self_s": "s", "task_cpu_s": "s", "gc_s": "s", "tasks": "count",
         "stages": "count", "rows_out": "count", "shuffle_write_bytes": "bytes",
         "spill_bytes": "bytes"}


def per_layer_names() -> list[str]:
    return [f"{l}.{m}" for l in LAYERS for m in PER_LAYER] + list(DERIVED) + list(OVERALL)


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last in UNITS:
        return UNITS[last]
    return "s" if last.endswith("_s") or last.startswith("work_s") else "ratio"


class _Deadline(Exception):
    pass


def _alarm(_sig, _frame):
    raise _Deadline(f"run exceeded {DEADLINE_S} s")


def _terminate(_sig, _frame):
    sys.exit(143)  # unwind through the clean-up in main()


def _environment(work: str, cores: int) -> None:
    """Before the JVM starts: keep every file the run makes inside `work`,
    and put the checkout on the Python workers' path (pandas-UDF tasks
    import lawlm_spark and die without it outside the repo's cwd)."""
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = HEAP


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, then reap
            proc.kill()
            proc.wait(timeout=30)


def _layer_metrics(result: dict, ev) -> dict:
    """Per-layer metrics from the workload's spans and the event log.
    Layers the workload does not exercise read 0.

    wall_s is the median span; Spark counts are means per span.  self_s is
    the part of a span no Spark job covers (driver-side time: planning,
    Python, HTTP, file listing, checkpoint commits).  plans.rag.barrier_s
    is the Spark job time inside ingest_documents: the eager_share persist
    barrier, a pass that cleans, chunks and keys the corpus."""
    from harness import SPARK_COUNTS, median

    metrics = {n: 0.0 for n in per_layer_names()}
    spans = result["spans"]
    for layer in LAYERS:
        items = spans.get(layer) or []
        if not items:
            continue
        counts = [ev.counts(s) for s in items]
        metrics[f"{layer}.wall_s"] = median([s["end"] - s["start"] for s in items])
        metrics[f"{layer}.self_s"] = median(
            [s["end"] - s["start"] - c["job_s"] for s, c in zip(items, counts)])
        for c in SPARK_COUNTS:
            metrics[f"{layer}.{c}"] = statistics.fmean(x.get(c, 0.0) for x in counts)
        metrics[f"{layer}.rows_out"] = statistics.fmean(s.get("rows_out", 0) for s in items)
        if layer == "serving":
            metrics["serving.jobs_per_query"] = statistics.fmean(c["jobs"] for c in counts)
            metrics["serving.stages_per_query"] = statistics.fmean(c["stages"] for c in counts)
    calls = spans.get("plans.rag.call") or []
    if calls:
        metrics["plans.rag.barrier_s"] = median([ev.counts(s)["job_s"] for s in calls])
    metrics.update(result.get("ratios", {}))
    return metrics


def _event_log(spark, on: bool) -> None:
    """Attach or detach Spark's event logger, so that the untraced blocks of
    a traced run pay for neither spans nor the event log."""
    sc = spark.sparkContext._jsc.sc()
    logger = sc.eventLogger().get()
    if on:
        sc.listenerBus().addToEventLogQueue(logger)
    else:
        sc.removeSparkListener(logger)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    signal.signal(signal.SIGALRM, _alarm)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(DEADLINE_S)
    t_start = time.perf_counter()
    cores = max(1, min(CORES, len(os.sched_getaffinity(0))))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work, cores)
    sys.path.insert(0, ROOT)

    spark = None
    try:
        import harness
        import workloads
        from lawlm_spark.session import get_spark

        spans = harness.Spans()
        steal0 = harness.host_steal_s()
        # the heap starts at its full size, touched once, so GC work per
        # operation does not fall as the heap grows through the run
        conf = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
                f" -Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        if args.trace:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": os.path.join(work, "eventlog")})
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", cpus=cores, extra_conf=conf)
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")

        cls = {"ingest": workloads.Ingest, "serve": workloads.Serve}[args.workload]
        wl = cls(spark, work, args.seed, spans, cores)
        t0 = time.perf_counter()
        wl.once()
        once_s = time.perf_counter() - t0
        reps = []
        for _ in range(wl.PREPARE_REPS):
            t0 = time.perf_counter()
            wl.prepare()
            reps.append(time.perf_counter() - t0)
        setup_s = session_s + once_s + harness.median(reps)

        if args.trace:
            # untraced blocks (no spans, event logger detached) and traced
            # blocks in ABBA order, so warm-up drift cancels out of the
            # tracing overhead
            blocks = {False: [], True: []}
            res = {"latencies": [], "attempted": 0, "failed": 0}
            logging = True
            try:
                for flag in (False, True, True, False):
                    if flag != logging:
                        _event_log(spark, flag)
                        logging = flag
                    wl.traced = flag
                    r = wl.timed(args.seconds / 4)
                    blocks[flag] += r["latencies"]
                    res["attempted"] += r["attempted"]
                    res["failed"] += r["failed"]
            finally:
                wl.traced = False
                if not logging:
                    _event_log(spark, True)
            res["latencies"] = blocks[False]
        else:
            res = wl.timed(args.seconds)
        problems = wl.check()
        layer_info = wl.layers() if args.trace else None
        index_ratio = wl.index_ratio()
        wl.close()
        lat = res["latencies"]
        if not lat:
            raise RuntimeError(f"{args.workload}: every operation failed")
        _stop_spark(spark)
        spark = None
        if args.trace:
            ev = harness.EventLog(os.path.join(work, "eventlog"))
            values = _layer_metrics(layer_info, ev)
            values["session.wall_s"] = session_s
            values["trace.work_s_untraced"] = harness.median(blocks[False])
            values["trace.work_s_traced"] = harness.median(blocks[True])
            values["trace.overhead_s"] = values["trace.work_s_traced"] - values["trace.work_s_untraced"]
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in values.items()}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            e2e = {
                "setup_s": (setup_s, "s"),
                "work_s": (harness.median(lat), "s"),
                "cpu_s": (harness.median(res["cpu"]), "s"),
                "index_bytes_per_doc_byte": (index_ratio, "ratio"),
            }
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        attempted, failed = res["attempted"], res["failed"]
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": cores, "session_s": session_s, "once_s": once_s,
            "prepare_s": reps, "latencies_s": lat, "cpu_s": res.get("cpu"), "ops": len(lat),
            "ops_per_s": len(lat) / res["elapsed_s"] if not args.trace else None,
            "steal_s": harness.host_steal_s() - steal0, "problems": problems,
            "total_s": time.perf_counter() - t_start, **wl.info,
        }
        print(json.dumps(detail), flush=True)
        print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0
    finally:
        signal.alarm(0)
        if spark is not None:
            try:
                _stop_spark(spark)
            except Exception as e:  # noqa: BLE001 - clean-up must go on
                print(f"stopping spark failed: {e!r}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
