#!/usr/bin/env python3
"""Self-test of the benchmark's output checks, from the checkout root:

    python3 perfbench/selftest.py

Runs the harness in `selftest` mode: an analytics-floor pass over two
keys with one expected digest corrupted must flag exactly that key, and
the listener check must flag a sink holding one duplicated row while
passing the intact rows. Exits 0 when every check holds.
"""
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main():
    data = build.data_dir()
    n = run.cores()
    classpath, cds, _ = build.build(data, n)
    work = os.path.join(build.OUT, "runs", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cmd = build.java_cmd(classpath, os.path.join(work, "tmp"), cds) + [
            "--workload", "analytics-floor", "--data", data, "--out", work,
            "--cores", str(n), "--mode", "selftest",
            "--expected", os.path.join(HERE, "expected", "analytics-floor.json")]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           cwd=build.ROOT, timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln[len("@@selftest "):] for ln in r.stdout.splitlines() if ln.startswith("@@selftest")]
    print("\n".join(lines))
    if r.returncode != 0 or len(lines) != 4 or any(not ln.startswith("ok") for ln in lines):
        sys.stderr.write(r.stderr[-3000:])
        print("selftest FAILED")
        sys.exit(1)
    print("selftest passed")


if __name__ == "__main__":
    main()
