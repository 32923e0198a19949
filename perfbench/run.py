"""Benchmark of the graft query engine: one workload per run.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

A run builds the program from source (perfbench/build.py), then starts
fresh JVMs on local[nproc] with Bench's session settings, each with its
own empty java.io.tmpdir (so the artifact store, scan layouts and scratch
dirs start empty) that is removed afterwards:
  - SETUPS - 1 set-up-only JVMs, then
  - the measuring JVM. One client runs the workload's keys in a closed
    loop, one query at a time. Pass 0 is cold; warm passes follow until
    S seconds have passed. Each pass runs the keys in a permutation drawn
    from the seed. Every count() is checked against the oracle row count
    in expected_rows.json; a mismatch or exception is a failure.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer split
(spans around build/plan/exec/drain plus a SparkListener). The last
stdout line is one JSON object; a full record of the run, and the spans,
go to .bench_build/results/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import build
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(build.BUILD, "results")
DATA = os.path.join(HERE, "data", "sf0.1")
SETUPS = 2           # set-ups per run (one set-up-only JVM + the measuring JVM)
MIN_WARM = 4         # warm passes per run, at least
XMX = "3g"
CORES = len(os.sched_getaffinity(0))  # nproc
JVM_TIMEOUT_S = 150  # whole run must end within 180 s
# The end-to-end metrics a run reports in its JSON line. The table also
# prints failed_frac (always 0 when the run is correct; the JSON line has
# failed/attempted), query_p90_s (needs 100 warm samples) and heap_peak_mb
# (on corpus_kernels it jumps by ~17 MB between runs, too unsteady to gate).
E2E = ["setup_s", "cold_pass_s", "warm_pass_s", "query_p50_s"]


def load(name):
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


def jvm(classes, run_dir, harness_args, deadline):
    """Run one harness JVM in its own fresh tmpdir; return its results."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    cmd = build.java(classes, tmp, XMX, "perfbench.Harness", [
        "--launched-ns", str(time.time_ns()), "--cores", str(CORES), "--data", DATA,
        "--out", out] + harness_args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: harness JVM failed ({code})")
    with open(out) as fh:
        return json.load(fh)


def leaked_entries(since, *dirs):
    """graft_* entries created during the run outside the JVMs' tmpdirs."""
    return sorted(os.path.join(d, n) for d in dirs for n in os.listdir(d)
                  if n.startswith("graft_") and os.path.getmtime(os.path.join(d, n)) >= since)


def commit():
    """HEAD of the checkout, when it is a git work tree (never a parent's)."""
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return "unknown"
    return subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                          text=True, timeout=10).stdout.strip() or "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.time()
    workloads = load("workloads.json")
    if args.workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}")
    if not os.path.isdir(DATA):
        raise SystemExit(f"perfbench: no data at {DATA}")
    keys = workloads[args.workload]["keys"]
    expected = load("expected_rows.json")["rows"]
    classes, source_stamp = build.build()
    deadline = time.monotonic() + JVM_TIMEOUT_S

    os.makedirs(RESULTS, exist_ok=True)
    run_root = tempfile.mkdtemp(prefix="run-", dir=build.BUILD)
    run_id = os.path.basename(run_root)
    try:
        setups = []
        for i in range(SETUPS - 1):
            run_dir = os.path.join(run_root, f"setup{i}")
            os.makedirs(run_dir)
            setups.append(jvm(classes, run_dir, ["--mode", "setup"], deadline)["setup_s"])
        run_dir = os.path.join(run_root, "run")
        os.makedirs(run_dir)
        with open(os.path.join(run_dir, "expected.tsv"), "w") as fh:
            fh.writelines(f"{k}\t{expected[k]}\n" for k in keys)
        spans = os.path.join(RESULTS, f"{run_id}.spans.jsonl")
        res = jvm(classes, run_dir, [
            "--mode", "run", "--keys", ",".join(keys), "--expected",
            os.path.join(run_dir, "expected.tsv"), "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--min-warm", str(MIN_WARM),
            "--trace", str(args.trace), "--spans", spans, "--run-id", run_id,
            "--workload", args.workload], deadline)
        setups.append(res["setup_s"])
        leaks = leaked_entries(started, build.ROOT, *(os.path.join(run_root, d) for d in os.listdir(run_root)))
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    passes = res["passes"]
    executions = [dict(s, **{"pass": p["pass"]}) for p in passes for s in p["samples"]]
    failures = [s for s in executions if not s["ok"]]
    e2e = stats.end_to_end(setups, passes)
    metrics = stats.per_layer(passes, res["calib_s"], res["env"]["cores"]) if args.trace else e2e
    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "keys": keys, "commit": commit(), "source_stamp": source_stamp,
        "env": dict(res["env"], xmx=XMX, nproc=CORES), "setups_s": setups,
        "calib_s": res["calib_s"], "leaked_graft_entries": leaks, "failures": failures,
        "metrics": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in metrics.items()},
        "end_to_end": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in e2e.items()},
        "passes": passes,
    }
    with open(os.path.join(RESULTS, f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    print(f"# workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"cores {res['env']['cores']}  -Xmx{XMX}  Spark {res['env']['spark_version']}  "
          f"commit {record['commit'][:12]}  passes 1 cold + {len(passes) - 1} warm")
    if not args.trace and "query_p90_s" not in metrics:
        print(f"# query_p90_s omitted: {e2e['query_p50_s'][2]} warm samples, "
              "fewer than 10 beyond the 90th percentile")
    for name, (value, unit, n) in metrics.items():
        print(f"{name:34s} {value:14.6f} {unit:6s} n={n}")
    print(f"# leaked graft_* entries outside the run's tmpdirs: {len(leaks)}")
    for f in failures:
        print(f"# FAILED pass {f['pass']} {f['key']}: {f['error']}")
    names = list(metrics) if args.trace else E2E
    print(json.dumps({
        "correct": not failures and not leaks,
        "attempted": len(executions),
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in names},
    }))


if __name__ == "__main__":
    main()
