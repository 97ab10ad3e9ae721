#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke 1]

Builds graft and the benchmark (perfbench/build.py), runs the workload in
one JVM on local[<cpus>] over the repository's seed-42 test tables
(copied into perfbench/data/), checks the outputs (query keys with
tools/check.py against their DuckDB oracle, control-plane invariants in
the JVM), and prints as its last line {"correct", "attempted", "failed",
"metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end ones, with --trace 1 its
per_layer ones. --smoke 1 runs a seconds-long reduced workload on the
smallest inputs (used by perfbench/smoke.py).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
DATA = os.path.join(HERE, "data")
DATA_SF = {"loops": "0.01", "control_plane": "0.01"}
SMOKE_SF = "0.001"
CHECK = os.path.join(ROOT, "tools", "check.py")
RUN_LIMIT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def oracle_compare(oracle):
    """Runs tools/check.py over the checked keys' output; a line that is
    not OK (mismatch, float drift, error, failed query) is a failure."""
    res = subprocess.run([sys.executable, CHECK, oracle["data"], oracle["out"]],
                         cwd=ROOT, env=dict(os.environ, GRAFT_ORACLE_CACHE="0"),
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                         timeout=RUN_LIMIT_S)
    verdicts = {}
    for ln in res.stdout.splitlines():
        parts = ln.split()
        if len(parts) > 1 and parts[0] in ("OK", "MISMATCH", "FLOAT-DRIFT", "ERROR", "SPARK-FAILED"):
            verdicts[parts[1].rstrip(":")] = ln
    ok = {k for k, ln in verdicts.items() if ln.startswith("OK ")}
    bad = [verdicts.get(k, f"{k}: no verdict from tools/check.py")
           for k in oracle["keys"] if k not in ok]
    if res.returncode != 0 and not bad:
        bad.append(f"tools/check.py exited {res.returncode}: {res.stdout.strip()[-200:]}")
    return bad, len(ok)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--smoke", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the repository root")
    spec = json.load(open(spec_path))
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    data = os.path.join(DATA, "sf" + (SMOKE_SF if args.smoke else DATA_SF[args.workload]))
    for need in (data, CHECK):
        if not os.path.exists(need):
            die(f"{os.path.relpath(need, ROOT)} not found")
    os.makedirs(WORK, exist_ok=True)
    os.makedirs(build.BUILD_DIR, exist_ok=True)
    classes, jars = build.build()

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, LC_ALL="C.UTF-8", SPARK_LOCAL_DIRS=tmp)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false",
            "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--smoke", str(args.smoke), "--cores", str(cpus()),
              "--data", data, "--out", run_dir,
              "--launch-ms", str(int(time.time() * 1000))])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"the JVM ran past {RUN_LIMIT_S} s; log: {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        tail = open(log_path).read()[-3000:]
        die(f"the JVM exited with {code}:\n{tail}")
    res = json.load(open(os.path.join(run_dir, "result.json")))

    failures = list(res["failures"])
    bad, n_checked = oracle_compare(res["oracle"])
    failures += bad
    for f in failures:
        sys.stderr.write(f"perfbench: FAILED {f}\n")

    got = res["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None:
            die(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if args.trace:
        keep = os.path.join(WORK, "traces")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(os.path.join(run_dir, "spans.json"),
                    os.path.join(keep, f"{args.workload}-seed{args.seed}-spans.json"))
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"perfbench: workload={args.workload} seed={args.seed} rounds={res['rounds']} "
          f"setup_s={res['setup_samples_s']} pass_s={res['pass_samples_s']} "
          f"op_samples={res['op_samples']} oracle_ok={n_checked}/{len(res['oracle']['keys'])} "
          f"schedule={res['schedule']}")
    attempted = int(res["attempted"]) + len(res["oracle"]["keys"])
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": min(len(failures), attempted), "metrics": metrics}))


if __name__ == "__main__":
    main()
