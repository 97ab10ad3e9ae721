#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports each metric's spread.

For each workload, runs perfbench/run.py once per seed (untraced, or
traced with --trace 1), one run at a time, and writes a JSON batch:
per metric its values in seed order, median, first and third quartile
(statistics.quantiles, n=4) and spread = (q3 - q1) / median, plus each
run's wall time and correctness.

Usage (from the repository root):
  python3 perfbench/spread.py --out <file.json> --seeds 101-110 [--workloads loops,control_plane]
      [--seconds 10] [--trace 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--workloads")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    secs = args.seconds or spec["run_seconds"]
    batch = {"seconds": secs, "trace": args.trace, "workloads": {}}
    for name in names:
        runs = []
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", name,
                                "--seed", str(s), "--seconds", str(secs),
                                "--trace", str(args.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                sys.exit(f"{name} seed {s} exited {p.returncode}:\n{p.stderr[-2000:]}")
            lines = p.stdout.strip().splitlines()
            runs.append({"seed": s, "wall_s": round(wall, 1), "log": lines[-2],
                         "result": json.loads(lines[-1])})
            print(f"{name} seed {s}: {wall:.0f} s {lines[-1]}", flush=True)
        metrics = {}
        for m in runs[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][m]["value"] for r in runs]
            q1, _, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            metrics[m] = {"values": vals, "median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med if med else None}
        batch["workloads"][name] = {
            "all_correct": all(r["result"]["correct"] for r in runs),
            "metrics": metrics, "runs": runs}
        for m, v in metrics.items():
            print(f"{name} {m}: median {v['median']:.4g} spread {v['spread']:.3f}", flush=True)
    with open(args.out, "w") as f:
        json.dump(batch, f, indent=1)


if __name__ == "__main__":
    main()
