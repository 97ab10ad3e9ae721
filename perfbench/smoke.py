#!/usr/bin/env python3
"""The benchmark's own test: a seconds-long run of every workload.

For each workload in BENCHMARK.json, runs perfbench/run.py with
--smoke 1 (reduced work on the smallest inputs), untraced and traced,
and asserts that:
  - the last line is the result object with exactly the keys
    correct/attempted/failed/metrics, and the outputs checked correct;
  - every end_to_end (untraced) or per_layer (traced) metric is there,
    with its unit, and nothing else;
  - in the traced run, job busy + driver gap and build + exec each add
    up to the op wall time.

Usage: python3 perfbench/smoke.py   (from the repository root)
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}"
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w["name"], trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] is True and res["failed"] == 0, res
            assert isinstance(res["attempted"], int) and res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = res["metrics"]
            assert set(got) == set(want), set(got) ^ set(want)
            for name, unit in want.items():
                assert got[name]["unit"] == unit, (name, got[name])
                assert isinstance(got[name]["value"], (int, float)), (name, got[name])
            if trace:
                v = {k: m["value"] for k, m in got.items()}
                wall = v["ops.wall_s"]
                busy_gap = v["spark.scheduler.job_busy_s"] + v["spark.scheduler.driver_gap_s"]
                build_exec = v["operators.build_s"] + v["operators.exec_s"]
                assert wall > 0, v
                assert abs(busy_gap - wall) <= 1e-6 * wall, (busy_gap, wall)
                assert abs(build_exec - wall) <= 1e-6 * wall, (build_exec, wall)
            print(f"ok {w['name']} trace={trace}: {len(got)} metrics")


if __name__ == "__main__":
    main()
