#!/usr/bin/env python3
"""Tracing overhead of one workload, from the checkout root:

    python3 perfbench/overhead.py --workload analytics-floor --pairs 3

Alternates untraced and traced runs of perfbench/run.py (seeds 1..pairs,
each seed once per mode) and prints the median `suite_s` of the untraced
runs (the base), the median `trace.suite_s` of the traced runs, and
their ratio. Work a traced run does after its pass (the listener's
layer probes, the llm-pipeline's heavy memo builds) is outside both.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one(workload, seed, trace):
    seconds = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"]
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"run.py failed for seed {seed} trace {trace}")
    return json.loads(r.stdout.strip().splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=3)
    args = ap.parse_args()
    base, traced = [], []
    for seed in range(1, args.pairs + 1):
        base.append(one(args.workload, seed, 0)["suite_s"]["value"])
        traced.append(one(args.workload, seed, 1)["trace.suite_s"]["value"])
    b, t = statistics.median(base), statistics.median(traced)
    print(json.dumps({"workload": args.workload, "pairs": args.pairs,
                      "base_suite_s": b, "traced_suite_s": t, "overhead_ratio": t / b,
                      "base_runs": base, "traced_runs": traced}))


if __name__ == "__main__":
    main()
