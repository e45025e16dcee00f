#!/usr/bin/env python3
"""graft's benchmark: one command, one workload, one result line.

    python3 benchmark/run.py --workload extract_cold --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (into benchmark/target); later runs reuse the
build while the sources are unchanged. Each run starts one JVM with a Spark
session at local[<cores>], generates its inputs from --seed, measures for
--seconds seconds, checks every output against an answer key and prints, as
the last line of standard output, a JSON object with the keys correct,
attempted, failed and metrics. --trace 0 gives the end-to-end metrics,
--trace 1 the per-layer ones. Workloads and metrics are described in
benchmark/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
import query_tables  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("extract_cold", "extract_resume")
QUERY_SF = 0.001
JVM_DEADLINE_S = 170
# a fixed-size heap, touched at start: neither peak resident memory nor the
# timed runs depend on when the collector grows the heap or first faults
# its pages in
JVM_OPTS = ["-Xms2560m", "-Xmx2560m", "-XX:+AlwaysPreTouch", "-Dspark.ui.enabled=false"] + [
    a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"[bench] {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not files:
        fail("no engine sources under src/main/scala: run from a full checkout")
    files += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return files + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")]


def build():
    """Compiles engine and benchmark once per source state; returns the classpath."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    classes = os.path.join(HERE, "target/scala-2.13/classes")
    stamp = os.path.join(HERE, "target/bench-sources.sha256")
    if not (os.path.exists(stamp) and open(stamp).read() == digest.hexdigest()):
        r = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile"],
                           cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
        if r.returncode != 0:
            fail(f"build failed with code {r.returncode}")
        with open(stamp, "w") as fh:
            fh.write(digest.hexdigest())
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME is not set; the benchmark runs against its jars")
    return f"{classes}:{spark_home}/jars/*"


def run_jvm(classpath, args, work):
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
           "graftbench.Main", *args]
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True, bufsize=1)
    timer = threading.Timer(JVM_DEADLINE_S, proc.kill)
    timer.start()
    result = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("RESULT\t"):
                result = line.split("\t", 1)[1]
            else:
                print(line, file=sys.stderr)
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
    if code != 0 or result is None:
        fail(f"benchmark JVM exited with code {code}")
    return json.loads(result)


def main():
    # a terminated harness unwinds, so the JVM it started is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--trace-dir", os.path.join(HERE, ".work", "traces")]
    try:
        if a.trace:
            # the query layer's tables; the directory name carries the scale
            # factor the queries size their generated corpora from
            query_dir = os.path.join(work, "data", f"sf{QUERY_SF}")
            query_tables.write_tables(query_dir, QUERY_SF, a.seed)
            args += ["--query-sf", query_dir]
        result = run_jvm(classpath, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
