"""Measurement helpers: process-tree CPU and RSS from ``/proc``, the
host probe, and per-layer spans read back from Spark's REST API.

Everything here observes the program from outside; nothing is
imported into or patched onto the package under test.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list:
    # each thread lists the children it forked; the JVM forks from many
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def process_tree(root: int, exclude=()) -> list:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _stat(pid: int):
    """(comm, cpu seconds incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return comm, cpu, int(fields[21]) * _PAGE


def cpu_by_kind(root: int, exclude=()) -> dict:
    """CPU seconds so far, per pid, tagged ``jvm``, ``python`` (Spark's
    Python workers) or ``driver`` (this process)."""
    out = {}
    for pid in process_tree(root, exclude):
        st = _stat(pid)
        if st is None:
            continue
        comm, cpu, _ = st
        kind = "driver" if pid == root else ("jvm" if comm == "java" else "python")
        out[pid] = (kind, cpu)
    return out


def cpu_delta(before: dict, after: dict) -> dict:
    tot = {"jvm": 0.0, "python": 0.0, "driver": 0.0}
    for pid, (kind, cpu) in after.items():
        tot[kind] += cpu - before.get(pid, (kind, 0.0))[1]
    return tot


class RssPeak:
    """Peak summed RSS of the process tree while the ``with`` body runs,
    sampled every ``interval`` seconds by a background thread."""

    def __init__(self, root: int, exclude=(), interval: float = 0.05):
        self.root, self.exclude, self.interval = root, set(exclude), interval
        self.peak, self.parts = 0, {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total, parts = 0, {"jvm_mb": 0.0, "python_mb": 0.0, "python_procs": 0}
        for pid in process_tree(self.root, self.exclude):
            st = _stat(pid)
            if st is None:
                continue
            total += st[2]
            if st[0] == "java":
                parts["jvm_mb"] += st[2] / 1e6
            elif pid != self.root:
                parts["python_mb"] += st[2] / 1e6
                parts["python_procs"] += 1
        if total > self.peak:
            self.peak, self.parts = total, parts

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
        return False


# ------------------------------------------------------------ host probe
PROBE_LOOP = 3_000_000


def spin(n: int) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t0


def host_probe(pool, nproc: int) -> dict:
    """Fixed CPU-bound work on ``nproc`` processes: median per-task
    seconds (core speed) and effective cores delivered right now."""
    t0 = time.perf_counter()
    secs = pool.map(spin, [PROBE_LOOP] * nproc)
    wall = time.perf_counter() - t0
    return {
        "task_ms": statistics.median(secs) * 1000,
        "effective_cores": nproc * (sum(secs) / len(secs)) / wall,
    }


# ------------------------------------------------------------ Spark REST
class RestTracer:
    """Runs each layer call under its own job group and reads its jobs,
    stages and tasks back from the status REST API (needs
    ``spark.ui.enabled=true``)."""

    def __init__(self, spark, root_pid: int, exclude=()):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.root_pid, self.exclude = root_pid, exclude
        self.n = 0
        self.summary = []

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _jobs(self, group: str) -> list:
        # the status store is fed asynchronously by the listener bus;
        # wait until every job of the group reads as finished
        deadline = time.monotonic() + 30
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs):
                return jobs
            if time.monotonic() > deadline:
                raise RuntimeError(f"jobs of {group} never finished in the status store")
            time.sleep(0.2)

    def span(self, layer: str, fn) -> dict:
        """Call ``fn()`` as one span of ``layer``; returns wall time,
        process CPU and the Spark metrics of every job it launched."""
        self.n += 1
        group = f"{layer}#{self.n}"
        self.sc.setJobGroup(group, layer)
        cpu0 = cpu_by_kind(self.root_pid, self.exclude)
        t0 = time.perf_counter()
        try:
            result = fn()
        finally:
            wall = time.perf_counter() - t0
            cpu = cpu_delta(cpu0, cpu_by_kind(self.root_pid, self.exclude))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        jobs = self._jobs(group)
        stages = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for att in self._get(f"/stages/{sid}"):
                if att["status"] == "COMPLETE":
                    stages.append(att)
        span = {
            "layer": layer,
            "wall_s": wall,
            "python_cpu_s": cpu["python"],
            "jvm_cpu_s": cpu["jvm"],
            "spark_jobs": len(jobs),
            "input_rows": sum(s["inputRecords"] for s in stages),
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
            "output_mb": sum(s["outputBytes"] for s in stages) / 1e6,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        }
        self.summary.append(span)
        return dict(span, result=result, stages=stages)

    def task_skew(self, span: dict) -> dict:
        """Task count and max/median task duration of the span's
        heaviest stage (the one with the most executor run time)."""
        heavy = max(span["stages"], key=lambda s: s["executorRunTime"])
        summ = self._get(
            f"/stages/{heavy['stageId']}/{heavy['attemptId']}/taskSummary"
            "?quantiles=0.5,1.0"
        )
        med, mx = summ["duration"]
        return {"tasks": heavy["numTasks"], "task_max_over_median": mx / max(med, 1e-9)}
