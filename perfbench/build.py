#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(src/main/scala of the repository) together with the benchmark's own
(perfbench/src) in one scalac run, against the Spark distribution's jars,
into .bench_build/perfbench/classes at the repository root.

The Scala compiler is the scala-compiler jar that ships with Spark, so no
build tool and no dependency download is needed. A content stamp skips the
compile when no source or resource has changed.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")

SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
RESOURCE_DIRS = [os.path.join(ROOT, "src", "main", "resources"), os.path.join(BENCH, "resources")]


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory of the Spark distribution: $SPARK_HOME/jars, or
    the one next to the spark-submit found on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars") if home else ""
        if jars and os.path.isdir(jars) and any(
                f.startswith("scala-compiler") for f in os.listdir(jars)):
            return jars
    raise BuildError("no Spark distribution with a scala-compiler jar found "
                     "(set SPARK_HOME)")


def files_under(dirs, suffix=""):
    out = []
    for d in dirs:
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def stamp(sources, resources, jars):
    h = hashlib.sha256()
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for f in sources + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure():
    """Compile if needed; return the runtime classpath."""
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise BuildError("program sources not found: %s" % SOURCE_DIRS[0])
    jars = spark_jars()
    sources = files_under(SOURCE_DIRS, ".scala")
    resources = files_under(RESOURCE_DIRS)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    want = stamp(sources, resources, jars)
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classpath

    os.makedirs(OUT, exist_ok=True)
    fresh = os.path.join(OUT, "classes.new")
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", fresh, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print("perfbench: compiling %d sources" % len(sources), file=sys.stderr)
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise BuildError("scalac failed with exit code %d" % done.returncode)
    for d in RESOURCE_DIRS:
        if os.path.isdir(d):
            shutil.copytree(d, fresh, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classpath


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
