#!/usr/bin/env python3
"""graft's end-to-end benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the harness
(perfbench/build.sbt compiles graft's own sources with the benchmark) with
sbt, then starts perfbench.Prime once to archive the classes runs load
(class-data sharing), which every run maps instead of loading them from
the jars; later runs reuse both until a source file changes. Each run is
one JVM running one workload; its last stdout line is the JSON result.
Scratch data, Spark's local directories, the class archive and the span
trees of traced runs go under .perfbench/ in the checkout.
"""
import argparse
import os
import shutil
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
WORK = os.path.join(ROOT, ".perfbench")
CLASSPATH = os.path.join(BENCH, "target", "perfbench-classpath.txt")
ARCHIVE = os.path.join(WORK, "classes.jsa")
WORKLOADS = ("etl_incremental", "dedup_corpus", "stream_gate")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit (as the root build.sbt sets for `run`).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
                os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile with sbt when the recorded classpath is missing or stale."""
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)  # archived from the jars about to be replaced
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    sys.stderr.write("[perfbench] built in %.1f s\n" % (time.time() - t0))
    return cp


def java_cmd(cp, main_class):
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (local, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cmd = ["java", "-Xmx" + HEAP, "-XX:+UseG1GC",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + local,
           "-Dspark.sql.warehouse.dir=" + os.path.join(WORK, "warehouse"),
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    if main_class == "perfbench.Prime":
        cmd.append("-XX:ArchiveClassesAtExit=" + ARCHIVE)
    elif os.path.isfile(ARCHIVE):
        cmd.append("-XX:SharedArchiveFile=" + ARCHIVE)
    return cmd + ["-cp", cp, main_class]


def env():
    e = dict(os.environ)
    e.pop("SPARK_GRAFT_SHUFFLE", None)  # the harness session's own partition count
    return e


def prime(cp):
    """Archive the classes runs share, once per build."""
    if os.path.isfile(ARCHIVE):
        return
    t0 = time.time()
    proc = subprocess.run(java_cmd(cp, "perfbench.Prime") + [os.path.join(WORK, "prime")],
                          env=env(), cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=RUN_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.isfile(ARCHIVE):
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit("perfbench: class archive failed")
    sys.stderr.write("[perfbench] classes archived in %.1f s\n" % (time.time() - t0))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(GRAFT_SRC):
        sys.exit("perfbench: run from the root of a graft checkout (no src/main/scala/graft here)")
    cp = build()
    prime(cp)

    cmd = java_cmd(cp, "perfbench.Main") + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", os.path.join(WORK, "work")]
    proc = subprocess.Popen(cmd, env=env(), stdout=subprocess.PIPE, text=True, cwd=ROOT)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    last = ""
    try:
        for line in proc.stdout:
            if line.strip():
                last = line.strip()
            if not line.startswith("{"):
                sys.stdout.write(line)
        proc.wait()
    finally:
        timed_out = not watchdog.is_alive() and proc.returncode != 0
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if timed_out:
        sys.exit("perfbench: run exceeded %d s" % RUN_TIMEOUT_S)
    if not last.startswith("{"):
        sys.exit("perfbench: no result (exit %d)" % proc.returncode)
    print(last, flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
