#!/usr/bin/env python3
"""Re-derives a key workload's expected digests, from the checkout root:

    python3 perfbench/calibrate.py --workload analytics-floor [--keys q_a,q_b]

Runs each key once (the llm-pipeline's pass memos first), dumps its
output as parquet and records its digest, then checks the dumps with the
DuckDB oracle rule of tools/compare.py. perfbench/expected/<workload>.json
gets, per key: the digest when the key passes the oracle or is a
documented OMIT (no oracle SQL), else "oracle-mismatch" — a failure
every run reports until the key is fixed. Keys default to the ones
already in the expected file.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("analytics-floor", "llm-pipeline"))
    ap.add_argument("--keys")
    args = ap.parse_args()
    data = build.data_dir()
    path = os.path.join(HERE, "expected", f"{args.workload}.json")
    keys = args.keys.split(",") if args.keys else sorted(json.load(open(path)))
    n = run.cores()
    classpath, cds, _ = build.build(data, n)
    work = os.path.join(build.OUT, "calibrate", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    dump = os.path.join(work, "dump")
    cmd = build.java_cmd(classpath, os.path.join(work, "tmp"), cds) + [
        "--workload", args.workload, "--data", data, "--out", work, "--cores", str(n),
        "--mode", "calibrate", "--keys", ",".join(keys), "--dump", dump]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       cwd=build.ROOT)
    if r.returncode != 0:
        sys.exit(f"calibration JVM exited with {r.returncode}")
    recs = {}
    for line in r.stdout.splitlines():
        if line.startswith("@@calibrate "):
            rec = json.loads(line[len("@@calibrate "):])
            recs[rec["key"]] = rec
    oracled = [k for k in keys if recs.get(k, {}).get("oracled")]
    cmp = subprocess.run([sys.executable, os.path.join(build.ROOT, "tools", "compare.py"), data, dump]
                         + oracled, stdout=subprocess.PIPE, text=True, cwd=build.ROOT)
    passed = set(re.findall(r"^PASS\s+(\S+)", cmp.stdout, re.M))
    expected = {}
    for k in keys:
        rec = recs.get(k, {})
        if "digest" not in rec:
            expected[k] = "error: " + rec.get("error", "not run")
        elif rec["oracled"] and k not in passed:
            expected[k] = "oracle-mismatch"
        else:
            expected[k] = rec["digest"]
        print(f"{k:32s} {rec.get('secs', 0):7.2f}s  {expected[k]}")
    with open(path, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
