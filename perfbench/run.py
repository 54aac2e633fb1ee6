#!/usr/bin/env python3
"""Runs one perfbench workload and prints its result as the last stdout line.

Usage (from the repository root):

    python3 perfbench/run.py --workload tpch_mix --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source with sbt on first use (and
again whenever a source or build file changes), then starts one JVM that
runs the workload; see perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "classpath.stamp")
WORKLOADS = ["tpch_mix", "corpus_batch"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the root build.sbt list)
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


def sources_digest():
    """Digest of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(ROOT, "build.sbt"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=BENCH, env=env,
                          stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} next to the benchmark: run it from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    build()

    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()
    work = os.path.join(TARGET, f"work-{os.getpid()}")
    cmd = ["java", "-Xms1g", "-Xmx3g", "-XX:+UseParallelGC",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", classpath, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(out)
        fail(f"run failed (exit {proc.returncode})")
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
