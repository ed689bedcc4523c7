#!/usr/bin/env python3
"""Benchmark of the medallion run, its one-partition recompute and a fixed
query mix (see perfbench/README.md).

Run from the root of a checkout:

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 5 --trace 0

The first run compiles the library (src/main/scala) and the benchmark
(perfbench/src) with the Scala compiler that ships in Spark's jars, into a
jar under .bench_build/perfbench; later runs reuse it while the sources are
unchanged. The first run after a build also writes a class-data-sharing
archive of the classes it loaded, which later runs map instead of loading
and verifying those classes again: it shortens JVM start, not the timed ops.
Run data lives under .bench_work and is removed after each run; traces and
count reports stay in .bench_work/reports.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("medallion", "query_mix")
# JVM time limit: set-up and the minimum op counts take up to about 150 s on
# a contended 4-core host; medallion measures for --seconds twice.
FIXED_TIMEOUT_S = 150
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars}; set SPARK_HOME")
    return jars


def build(jars):
    """Compile library + benchmark once per source state; returns the build dir,
    which holds perfbench.jar."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no library sources at src/main/scala/graft: run from the root of a checkout")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(BUILD, stamp)
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", os.path.join(tmp, "perfbench.jar"), "-classpath", os.path.join(jars, "*")] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed")
    for old in os.listdir(BUILD):
        if old != os.path.basename(tmp):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    jsa = os.path.join(classes, "classes.jsa")
    # -Xshare:auto: a missing or stale archive only costs start-up time
    cds = [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [f"-XX:ArchiveClassesAtExit={jsa}.tmp"]
    run = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr", "-Xlog:cds*=off:stderr"] + cds + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(run, 'hadoop')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(run, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run, 'warehouse')}",
        f"-Dderby.system.home={run}",
        "-cp", os.path.join(classes, "perfbench.jar") + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--root", ROOT, "--work", os.path.join(run, "data"),
        "--reports", os.path.join(WORK, "reports")])
    timeout = FIXED_TIMEOUT_S + 2 * a.seconds
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=run, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run, ignore_errors=True)
        fail(f"run exceeded {timeout:.0f} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(run, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        if os.path.exists(jsa + ".tmp"):
            os.remove(jsa + ".tmp")
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with {proc.returncode} and no result")
    if os.path.exists(jsa + ".tmp"):
        os.rename(jsa + ".tmp", jsa)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
