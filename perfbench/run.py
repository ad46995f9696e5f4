#!/usr/bin/env python3
"""Benchmark entry point (see perfbench/README.md).

    python3 perfbench/run.py --workload knn-gt --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source if needed (build.py),
runs one workload in one JVM, and prints two lines on stdout: a diagnostic
JSON object (host noise, digest, failures), then the result object
{"correct", "attempted", "failed", "metrics"} as the last line. Everything
it writes stays under .bench_build/ in the repository root, and the work
directory of the run is removed at the end.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["knn-gt", "graph-iter", "corpus-dedup"]
JVM_TIMEOUT_S = 170
# a fixed heap and young generation: the peak RSS then follows the data the
# run keeps alive, not the collector's heap-growth decisions
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn768m"]

# the JDK module opens Spark needs when started outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-reference", action="store_true",
                    help="perturb one reference value: the run must report a failure")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    try:
        classpath = build.ensure()
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2

    name = "selftest" if args.selftest else args.workload
    work = os.path.join(build.OUT, "work", "%s-%d" % (name, os.getpid()))
    out = os.path.join(work, "result.txt")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    scale = 0.1 if args.selftest else 1.0
    cmd = ["java"] + HEAP + ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--cores", str(cores()),
            "--work", work, "--out", out, "--scale", repr(scale)]
    if args.selftest:
        cmd += ["--selftest"]
    else:
        cmd += ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.corrupt_reference:
            cmd += ["--corrupt-reference"]
    try:
        started = time.time()
        done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=JVM_TIMEOUT_S * (3 if args.selftest else 1))
        print("perfbench: jvm exited %d after %.1f s" % (done.returncode, time.time() - started),
              file=sys.stderr)
        lines = open(out).read().splitlines() if os.path.exists(out) else []
        for line in lines:
            print(line)
        if args.selftest:
            return done.returncode
        return 0 if done.returncode == 0 and lines else 1
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded %d s" % JVM_TIMEOUT_S, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
