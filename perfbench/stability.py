"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/stability.py --seeds 1-10 [--workloads extract,crawl_to_shards] [--out FILE]

Runs ``run.py`` once per (workload, seed), sequentially, and prints per
workload and metric the median and the interquartile range as a share
of the median, next to the host probe of each run so host drift can be
told apart from program drift. ``--out`` appends every run's result as
one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--out")
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for wl in args.workloads.split(","):
        rows = []
        for seed in _seeds(args.seeds):
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                ok = False
                continue
            diag, res = json.loads(lines[-2])["diagnostics"], json.loads(lines[-1])
            row = {"workload": wl, "seed": seed, "run_s": time.monotonic() - t0,
                   "result": res, "diagnostics": diag}
            rows.append(row)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(row) + "\n")
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"{wl} seed {seed}: {vals} correct={res['correct']} "
                  f"probe_ms={diag['probe_task_ms']:.0f} run={row['run_s']:.0f}s", flush=True)
            ok &= res["correct"]
        if len(rows) < 2:
            continue
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in rows]
            s = spread(vals)
            print(f"  {wl} {name}: median {statistics.median(vals):.4g} "
                  f"spread {s:.3f} (bound {bound}, target < {bound / 3:.3f})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
