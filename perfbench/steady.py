"""Steadiness runner: repeats run.py over seeds and summarizes each metric.

  python3 perfbench/steady.py --workloads fixpoint,hh_interactive --seeds 1-10 [--trace 0|1|both]

For every workload and metric it prints the median, quartiles and spread
((q3 - q1) / median) over the runs, next to the metric's bound from
BENCHMARK.json. With --trace both it runs each seed untraced and traced
and prints the tracing overhead: traced over untraced warm_pass_s.
"""
import argparse
import json
import os
import subprocess
import sys

import build
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=build.ROOT, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    status = "ok" if result["correct"] else "INCORRECT"
    print(f"  {workload} seed {seed} trace {trace}: {status} "
          f"{result['failed']}/{result['attempted']} failed", flush=True)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", choices=["0", "1", "both"], default="0")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    modes = [0, 1] if args.trace == "both" else [int(args.trace)]
    report = {}
    for w in args.workloads.split(","):
        values = {}
        for seed in seeds(args.seeds):
            for mode in modes:
                for name, m in run(w, seed, args.seconds, mode)["metrics"].items():
                    values.setdefault(name, (m["unit"], []))[1].append(m["value"])
        report[w] = {name: dict(stats.summary(vs), unit=unit) for name, (unit, vs) in values.items()}
        print(f"{w}: {'metric':30s} {'unit':6s} {'n':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'spread':>7s} {'bound':>6s}")
        for name, s in report[w].items():
            bound = f"{bounds[name]:6.2f}" if name in bounds else ""
            print(f"{w}: {name:30s} {s['unit']:6s} {s['n']:3d} {s['median']:12.5f} {s['q1']:12.5f} "
                  f"{s['q3']:12.5f} {s['spread']:7.3f} {bound}")
        if args.trace == "both":
            overhead = report[w]["trace.warm_pass_s"]["median"] / report[w]["warm_pass_s"]["median"] - 1
            print(f"{w}: tracing overhead on warm_pass_s: {overhead:+.1%}")
    os.makedirs(build.BUILD, exist_ok=True)
    with open(os.path.join(build.BUILD, "steady.json"), "w") as fh:
        json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
