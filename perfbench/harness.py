"""Measurement plumbing shared by the workloads: process-tree CPU and host
steal from /proc, in-memory spans, and per-span Spark counts read back from
Spark's own event log.  Nothing here imports the engine."""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int | None = None) -> float:
    """User+system CPU seconds of `root_pid` and every live descendant,
    including children they already reaped (cutime/cstime).  Covers the
    driver, the JVM it launched and the JVM's Python workers."""
    root_pid = root_pid or os.getpid()
    stats: dict[int, tuple[int, float]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited while listing
        fields = raw[raw.rfind(")") + 2 :].split()
        ppid = int(fields[1])
        cpu = sum(int(x) for x in fields[11:15]) / _TICK  # utime stime cutime cstime
        stats[int(d)] = (ppid, cpu)
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    total, todo = 0.0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total


def host_steal_s() -> float:
    """Steal seconds summed over all CPUs since boot (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def median(xs) -> float:
    return float(statistics.median(xs))


class Spans:
    """Spans kept in memory; `dump` writes them out once, at exit.

    A span is (id, name, start, end, parent id, request id).  Times are
    epoch seconds, the clock Spark's event log uses, so jobs can be matched
    to the span that was open when they were submitted."""

    def __init__(self):
        self.items: list[dict] = []

    def add(self, name, start, end, parent=None, request=None, **counts):
        span = {"name": name, "start": start, "end": end, "parent": parent,
                "request": request, **counts}
        span["id"] = len(self.items)
        self.items.append(span)
        return span

    def named(self, name: str) -> list[dict]:
        return [s for s in self.items if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.items:
                f.write(json.dumps(s) + "\n")


def timed(spans: Spans, name: str, fn) -> dict:
    """Run `fn` and record its span.  Run nothing else meanwhile: the span
    owns every Spark job submitted while it is open, including jobs that
    `fn` submits from its own threads."""
    start = time.time()
    try:
        fn()
    finally:
        end = time.time()
    return spans.add(name, start, end)


class EventLog:
    """Per-job and per-stage task metrics from an uncompressed event log."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
            if os.path.isfile(path):
                with open(path) as f:
                    for line in f:
                        self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            self.jobs[jid] = {
                "submit": ev["Submission Time"] / 1000.0,
                "end": None,
            }
            for sid in ev.get("Stage IDs", []):
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in self.jobs:
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            acc = self.stage_tasks[ev["Stage ID"]]
            acc["tasks"] += 1
            acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)

    def counts(self, span: dict) -> dict:
        """jobs, stages that ran tasks, and summed task metrics of the
        jobs submitted while `span` was open; `job_s` is the part of the
        span covered by those jobs."""
        jobs = {j for j, info in self.jobs.items()
                if span["start"] <= info["submit"] <= span["end"]}
        out = defaultdict(float)
        out["jobs"] = len(jobs)
        for sid, jid in self.stage_job.items():
            if jid in jobs and sid in self.stage_tasks:
                out["stages"] += 1
                for k, v in self.stage_tasks[sid].items():
                    out[k] += v
        intervals = sorted((self.jobs[j]["submit"], self.jobs[j]["end"] or span["end"])
                           for j in jobs)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in intervals:
            s, e = max(s, span["start"]), min(e, span["end"])
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += max(0.0, cur_e - cur_s)
        out["job_s"] = covered
        return dict(out)


SPARK_COUNTS = ("task_cpu_s", "tasks", "stages", "shuffle_write_bytes", "spill_bytes", "gc_s")
