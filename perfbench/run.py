#!/usr/bin/env python3
"""graft benchmark: one run of one workload, from the checkout root.

    python3 perfbench/run.py --workload listener --seed 1 --seconds 15 --trace 0

Builds graft and the harness if needed (perfbench/build.py), sets up the
driver JVM three times (the median is `setup_s`), runs the workload's
pass once in one of them, checks its outputs, deletes the run's sink and
checkpoint directories, and prints every metric with its unit. The last
stdout line is one JSON object: correct, attempted, failed, metrics.
With --trace 1 the metrics are the per-layer ones, and spans plus a
per-key cost card stay in .bench_build/traces/.

Environment: GRAFT_BENCH_DATA is the read-only sf0.1 table directory
(default: the one TESTDATA.md lists).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ("listener", "analytics-floor", "llm-pipeline")
SETUPS = 3


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def launch(cmd, log_path, timeout):
    """Runs one JVM; returns (seconds until it reported set-up done, rc)."""
    t0 = time.monotonic()
    setup = None
    with open(log_path, "ab") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=ROOT)
        watchdog = threading.Timer(max(1.0, timeout), p.kill)
        watchdog.start()
        try:
            for line in p.stdout:
                if setup is None and line.startswith(b"@@setup_done"):
                    setup = time.monotonic() - t0
            rc = p.wait()
        finally:
            watchdog.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    return setup, rc


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    if not os.path.isfile(SPEC):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(SPEC))
    data = build.data_dir()
    if not os.path.isfile(os.path.join(data, "lineitem.parquet")):
        fail(f"no sf0.1 tables at {data} (set GRAFT_BENCH_DATA)")
    n = cores()
    try:
        classpath, cds, source_key = build.build(data, n)
    except build.BuildFailed as e:
        fail(str(e))

    run_dir = os.path.join(build.OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log = os.path.join(run_dir, "jvm.log")
    argv = ["--workload", args.workload, "--seed", str(args.seed), "--trace", str(args.trace),
            "--cores", str(n), "--data", data, "--out", run_dir]
    expected = os.path.join(HERE, "expected", f"{args.workload}.json")
    if os.path.isfile(expected):
        argv += ["--expected", expected]
    deadline = time.monotonic() + 170
    try:
        # a traced run reports no setup_s, so it sets up only once
        setups = []
        count = 1 if args.trace else SETUPS
        for i in range(count):
            mode = "run" if i == count // 2 else "setup"
            left = deadline - time.monotonic()
            tmp = os.path.join(run_dir, "tmp")
            os.makedirs(tmp, exist_ok=True)
            cmd = build.java_cmd(classpath, tmp, cds) + argv + ["--mode", mode]
            setup, rc = launch(cmd, log, left)
            if rc != 0 or setup is None:
                with open(log, errors="replace") as fh:
                    sys.stderr.write(fh.read()[-3000:])
                fail(f"JVM ({mode}) exited with {rc}")
            setups.append(setup)
        with open(os.path.join(run_dir, "result.json")) as fh:
            res = json.load(fh)
        if args.trace:
            keep = os.path.join(build.OUT, "traces", f"{args.workload}-{args.seed}")
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            for f in ("spans.jsonl", "keys.jsonl", "progress.jsonl", "result.json"):
                if os.path.isfile(os.path.join(run_dir, f)):
                    shutil.copy(os.path.join(run_dir, f), keep)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = dict(res["e2e"], setup_s=statistics.median(setups))
    attempted, failed = res["attempted"], res["failed"]
    stamp = dict(res["stamp"], git_head=git_head(), source_key=source_key,
                 setups_s=setups, run_seconds=args.seconds)
    print(f"# graft perfbench  workload={args.workload} seed={args.seed} "
          f"trace={args.trace} cores={n}")
    print("# stamp " + json.dumps(stamp, sort_keys=True))
    for f in res["failures"]:
        print(f"# FAILED {f}")
    e2e["info.failed_share"] = failed / attempted
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k in sorted(e2e):
        print(f"{k:40s} {e2e[k]:14.4f} {units.get(k, '')}")
    if args.trace:
        for k in sorted(res["per_layer"]):
            print(f"{k:40s} {res['per_layer'][k]:14.4f} {units.get(k, '')}")
        wanted = spec["per_layer"]
        values = res["per_layer"]
    else:
        wanted = spec["end_to_end"]
        values = e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
