"""Benchmark entry point.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed (cached under ``.perfbench/``), sets up a local Spark session
on every core, warms it up, then times one operation after another, a
closed loop with one client, until ``--seconds`` of operations have
run. Every operation's output is checked. The last line of stdout is
the result JSON; the line before it carries diagnostics (per-call
times, the host probe, input MB).

``--trace 1`` instead runs the operation once plainly and once inside
a span read back from Spark's REST status API, then replays each layer
on its own and reports the per-layer metrics named in
``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
KEEP_CORPORA = 12
T0 = time.monotonic()


def _log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _setup_env(nproc: int) -> None:
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")


def _session(nproc: int, ui: bool = False, cores: int | None = None):
    from table_ocr_spark.session import get_spark

    # a fixed young generation: G1's adaptive young sizing made the
    # JVM's RSS, and so peak_rss_mb, wander by ~25% between runs
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Xmn256m -Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if ui:
        conf["spark.ui.enabled"] = "true"
    spark = get_spark(app_name="perfbench", master=f"local[{cores or nproc}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Run:
    """One benchmark process: inputs, sessions, output dirs, probe."""

    def __init__(self, args, nproc: int, pool):
        from workloads import WORKLOADS

        self.args, self.nproc, self.pool = args, nproc, pool
        self.pid = os.getpid()
        self.dir = os.path.join(WORK, "runs", str(self.pid))
        self.n_out = 0
        self.attempted = self.failed = 0
        self.spark = None
        t0 = time.perf_counter()
        self.wl = WORKLOADS[args.workload](os.path.join(WORK, "inputs"), args.seed, nproc)
        self.gen_s = time.perf_counter() - t0
        _log("inputs ready")

    @property
    def exclude(self) -> set:
        import multiprocessing

        return {p.pid for p in multiprocessing.active_children()}

    def out(self) -> str:
        self.n_out += 1
        return os.path.join(self.dir, f"out{self.n_out}")

    def setup(self, ui: bool = False, cores: int | None = None) -> float:
        """Session creation plus the untimed warm-up pass."""
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = _session(self.nproc, ui, cores)
        self.wl.warm(self.spark, self.out())
        return time.perf_counter() - t0

    def operation(self) -> dict | None:
        """One timed, checked operation, or None when it raised or
        failed its check."""
        from tracing import RssPeak
        from workloads import clean

        out = self.out()
        self.attempted += 1
        try:
            with RssPeak(self.pid, self.exclude) as rss:
                t0 = time.perf_counter()
                res = self.wl.op(self.spark, out)
                dt = time.perf_counter() - t0
            self.wl.check(self.spark, res, out)
            return {"s": dt, "peak": rss.peak, "parts": rss.parts, "result": res}
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None
        finally:
            clean(out)

    def timed(self) -> tuple:
        from tracing import host_probe

        setups = [self.setup() for _ in range(self.wl.SETUPS)]
        _log(f"set up {self.wl.SETUPS}x")
        self.wl.prepare(self.spark)
        _log("prepared")
        calls, peaks, parts, probes = [], [], [], []
        spent = 0.0
        t_start = time.monotonic()
        while spent < self.args.seconds and time.monotonic() - t_start < 120:
            probes.append(host_probe(self.pool, self.nproc))
            t0 = time.perf_counter()
            got = self.operation()
            spent += time.perf_counter() - t0
            if got is not None:
                calls.append(got["s"])
                peaks.append(got["peak"])
                parts.append(got["parts"])
        _log(f"{len(calls)} operations")
        diag = {
            "calls_s": calls, "setups_s": setups,
            "peaks_mb": [p / 1e6 for p in peaks],
            "peak_parts": parts,
            "probe_task_ms": statistics.median(p["task_ms"] for p in probes),
            "probe_effective_cores": statistics.median(p["effective_cores"] for p in probes),
        }
        if not calls:
            return {}, diag
        metrics = {
            "docs_per_s": self.wl.docs / statistics.median(calls),
            "setup_s": statistics.median(setups),
            "peak_rss_mb": max(peaks) / 1e6,
        }
        return metrics, diag

    def traced(self) -> tuple:
        from tracing import RestTracer
        from workloads import clean

        # one session with the status API on: the reference call runs
        # without spans, the traced call inside one
        self.setup(ui=True)
        self.wl.prepare(self.spark)
        ref = self.operation()
        tracer = RestTracer(self.spark, self.pid, self.exclude)
        out = self.out()
        self.attempted += 1
        try:
            e2e = tracer.span(self.wl.name, lambda: self.wl.op(self.spark, out))
            # persisted RDDs the session holds after its third call (warm-up,
            # reference, traced); the benchmark never unpersists anything
            e2e["cached_rdds_left"] = len(self.spark.sparkContext._jsc.getPersistentRDDs())
            self.wl.check(self.spark, e2e["result"], out)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return {}, {}
        finally:
            clean(out)
        if ref is None:
            return {}, {}
        stage = self.out()
        self.attempted += 1  # the replay checks what it replays
        try:
            layers, staged = self.wl.replay(self.spark, tracer, stage, e2e)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return {}, {}
        finally:
            clean(stage)
        layers.update({
            "trace.e2e_wall_s": e2e["wall_s"],
            "trace.staged_sum_s": staged,
            "trace.overhead_ratio": e2e["wall_s"] / ref["s"],
        })
        diag = {"untraced_wall_s": ref["s"], "spans": tracer.summary}
        if self.wl.name == "extract":
            diag.update(self.scaling(ref["s"]))
        return layers, diag

    def scaling(self, wall_n: float) -> dict:
        """1 -> nproc extraction scaling at equal rows per core: one core
        extracts every nproc-th file of the corpus."""
        import glob

        files = sorted(glob.glob(os.path.join(self.wl.main["path"], "*.parquet")))
        self.setup(cores=1)
        part = self.spark.read.parquet(*files[:: self.nproc])
        rows = part.count()
        t0 = time.perf_counter()
        got = self.wl.call(part)
        wall_1 = time.perf_counter() - t0
        rate_1, rate_n = rows / wall_1, self.wl.docs / wall_n
        return {
            "scaling_rows_1": rows, "scaling_docs_per_s_1": rate_1,
            "scaling_docs_per_s_n": rate_n,
            "scaling_efficiency": rate_n / (self.nproc * rate_1) if got["n"] == rows else None,
        }

    def close(self) -> None:
        """Stop Spark and its JVM, and wait; the JVM's Python workers,
        orphaned then, are ended by ``_reap_all``."""
        from workloads import clean

        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            self.spark.stop()
            if gw is not None:
                gw.shutdown()
                gw.proc.stdin.close()
                try:
                    gw.proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    gw.proc.kill()
                    gw.proc.wait()
        clean(self.dir)
        clean(os.environ["TMPDIR"])
        _log("closed")


def _stop_resource_tracker() -> None:
    """Stop and reap the tracker process the spawn pools started; left
    alone it outlives this process until it reads EOF."""
    from multiprocessing import resource_tracker

    tracker = resource_tracker._resource_tracker
    if hasattr(tracker, "_stop"):
        tracker._stop()
    elif tracker._fd is not None:
        os.close(tracker._fd)
        os.waitpid(tracker._pid, 0)
        tracker._fd = tracker._pid = None


def _adopt_orphans() -> None:
    """Make this process the subreaper of its tree: a process whose
    parent ends (the JVM's launcher shell, the Python workers it forked)
    is re-parented here instead of to init, so ``_reap_all`` can end it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap_all(grace: float = 15.0) -> None:
    """End every process below this one and wait for each: SIGTERM,
    SIGKILL after ``grace`` seconds, and reap until none is left. A
    process counts until it is reaped, since a JVM whose main thread
    has ended already reads as a zombie while its other threads run."""
    from tracing import process_tree

    me = os.getpid()
    deadline = time.monotonic() + grace
    signalled = {}
    while True:
        _reap_exited()
        left = [p for p in process_tree(me) if p != me]
        if not left:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in left:
            if signalled.get(pid) != sig:
                signalled[pid] = sig
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _reap_exited() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _prune_inputs(keep: int) -> None:
    from workloads import clean

    root = os.path.join(WORK, "inputs")
    if not os.path.isdir(root):
        return
    dirs = sorted(
        (os.path.getmtime(os.path.join(root, d)), d) for d in os.listdir(root)
    )
    for _, d in dirs[:-keep] if len(dirs) > keep else []:
        clean(os.path.join(root, d))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import table_ocr_spark  # noqa: F401
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (ImportError, OSError) as e:
        _log(f"no program to benchmark next to {HERE}: {e}")
        return 2
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        _log(f"unknown workload {args.workload!r}")
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    import multiprocessing

    # a SIGTERM unwinds through the finally blocks below, which stop
    # and reap every process this run started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    _adopt_orphans()
    nproc = len(os.sched_getaffinity(0))
    _setup_env(nproc)
    _prune_inputs(KEEP_CORPORA)
    try:
        with multiprocessing.get_context("spawn").Pool(nproc) as pool:
            run = Run(args, nproc, pool)
            try:
                metrics, diag = run.traced() if args.trace else run.timed()
            finally:
                run.close()
            pool.close()
            pool.join()
        # free the pool's semaphores before their tracker goes
        run.pool = pool = None
        gc.collect()
    finally:
        _stop_resource_tracker()
        _reap_all()

    diag.update(workload=args.workload, seed=args.seed, nproc=nproc,
                docs_per_op=run.wl.docs, input_mb=run.wl.input_mb,
                generate_s=run.gen_s)
    print(json.dumps({"diagnostics": diag}))
    if args.trace and metrics:
        # a layer this workload does not run does no work in it
        metrics = {m["name"]: metrics.get(m["name"], 0.0) for m in wanted}
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        _log(f"no value for {missing}")
        run.failed = max(run.failed, 1)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed if run.attempted else 1,
        "metrics": {
            m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
