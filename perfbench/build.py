#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (src/main/scala)
and the benchmark harness (perfbench/src) with the Scala compiler that
ships in Spark's jars into jars under `.bench_build/` at the checkout
root, then records a class-data-sharing archive of the driver JVM's
set-up (JDK AppCDS), which roughly halves JVM and session start-up.

Each output is keyed by a hash of its sources, so a rebuild happens only
when a source changed. Usage: python3 perfbench/build.py [<sf0.1 dir>]
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


class BuildFailed(Exception):
    pass


def declared(path, pattern):
    """A setting the repository declares for itself, or None."""
    try:
        with open(os.path.join(ROOT, path)) as fh:
            m = re.search(pattern, fh.read(), re.M)
        return m.group(1) if m else None
    except OSError:
        return None


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else \
        declared("build.sbt", r'unmanagedBase := file\("([^"]+)"\)') or "jars"
    if not os.path.isfile(os.path.join(jars, "scala-compiler-2.13.17.jar")):
        raise BuildFailed(f"no Spark jars with scala-compiler 2.13.17 under {jars}")
    return jars


def data_dir():
    """GRAFT_BENCH_DATA, else the sf0.1 table directory TESTDATA.md lists."""
    d = os.environ.get("GRAFT_BENCH_DATA") or \
        declared("TESTDATA.md", r"^\|\s*0\.1\s*\|\s*`([^`]+)`")
    return (d or "sf0.1").rstrip("/")


def sources(tree):
    found = []
    for d, _, files in os.walk(tree):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def tree_hash(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def scalac(files, classpath, dest_jar, jars):
    """Compiles `files` into the jar `dest_jar` (written atomically)."""
    tmp = dest_jar + ".classes"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildFailed("scalac failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(dest_jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(tmp)):
            for f in sorted(fs):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, tmp))
    shutil.rmtree(tmp)
    os.replace(dest_jar + ".tmp", dest_jar)


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


# The module opens are the ones spark-submit adds on JDK 17. No perf-data
# file: the JVM would write it under the system temp directory.
JVM_FLAGS = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Xmx4g", "-Xss8m", "-XX:-UsePerfData", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]


def java_cmd(classpath, tmpdir, cds_flag):
    """The driver JVM's command line, up to and including the main class."""
    return ["java", *JVM_FLAGS, cds_flag, f"-Djava.io.tmpdir={tmpdir}", "-cp", classpath,
            "graft.perfbench.Main"]


def record_archive(classpath, archive, data, cores):
    """One set-up-only JVM run that dumps the classes it loaded."""
    work = archive + ".work"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(classpath, os.path.join(work, "tmp"), f"-XX:ArchiveClassesAtExit={archive}.tmp")
    cmd += ["--workload", "listener", "--data", data, "--out", work, "--cores", str(cores),
            "--mode", "setup"]
    r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
                       cwd=ROOT, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.isfile(archive + ".tmp"):
        raise BuildFailed("recording the class-data archive failed:\n" + r.stderr[-3000:])
    os.replace(archive + ".tmp", archive)


def build(data, cores):
    """Returns (run classpath, CDS flag, source key), building what changed."""
    jars = spark_jars()
    graft_src = os.path.join(ROOT, "src", "main", "scala")
    graft_files = sources(graft_src)
    if not graft_files:
        raise BuildFailed("no graft sources under src/main/scala")
    bench_files = sources(os.path.join(HERE, "src"))
    if not bench_files:
        raise BuildFailed("no benchmark sources under perfbench/src")
    os.makedirs(OUT, exist_ok=True)
    graft_key = tree_hash(graft_files)
    bench_key = tree_hash(bench_files, graft_key)
    graft_jar = os.path.join(OUT, f"graft-{graft_key}.jar")
    bench_jar = os.path.join(OUT, f"bench-{bench_key}.jar")
    archive = os.path.join(OUT, f"cds-{tree_hash([], bench_key + ' '.join(JVM_FLAGS))}.jsa")
    jar_cp = os.path.join(jars, "*")
    if not os.path.isfile(graft_jar):
        print(f"[build] compiling {len(graft_files)} graft sources", file=sys.stderr)
        scalac(graft_files, jar_cp, graft_jar, jars)
    if not os.path.isfile(bench_jar):
        print(f"[build] compiling {len(bench_files)} benchmark sources", file=sys.stderr)
        scalac(bench_files, graft_jar + os.pathsep + jar_cp, bench_jar, jars)
    classpath = os.pathsep.join([bench_jar, graft_jar, jar_cp])
    if not os.path.isfile(archive):
        print("[build] recording the class-data archive", file=sys.stderr)
        record_archive(classpath, archive, data, cores)
    keep = {os.path.basename(p) for p in (graft_jar, bench_jar, archive)}
    for f in os.listdir(OUT):
        if f.split("-")[0] in ("graft", "bench", "cds") and f not in keep:
            path = os.path.join(OUT, f)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    return classpath, f"-XX:SharedArchiveFile={archive}", graft_key


if __name__ == "__main__":
    try:
        data = sys.argv[1] if len(sys.argv) > 1 else data_dir()
        print(build(data, len(os.sched_getaffinity(0)))[0])
    except BuildFailed as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
