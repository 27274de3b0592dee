#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the engine sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/src`) into `.bench_build/classes`
with the Scala 2.13 compiler that ships in the Spark distribution, so a
plain checkout builds without sbt and without network access. The
classpath is the Spark distribution's `jars/` directory: `$SPARK_HOME`
when set, else the first `spark-submit` on `PATH` that belongs to a
distribution.

A stamp over the compiler inputs makes a rebuild happen only when a
source changes. Usage: `python3 perfbench/build.py` (prints the class
directory); `run.py` calls `ensure_built()` itself.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")


class BuildError(RuntimeError):
    pass


def spark_jars():
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise BuildError("no Spark distribution found (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not any(p.endswith("graft/SparkEntry.scala") for p in engine):
        raise BuildError("engine sources not found under src/main/scala")
    own = sorted(glob.glob(os.path.join(BENCH_DIR, "src/*.scala")))
    return engine + own


def stamp_of(srcs, jars):
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(jars.encode())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Compile if the sources changed since the last build; return
    (class directory, Spark jars directory, source digest)."""
    jars = spark_jars()
    srcs = sources()
    digest = stamp_of(srcs, jars)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return CLASSES, jars, digest
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[build] compiling {len(srcs)} sources", file=log, flush=True)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp]
    r = subprocess.run(cmd + srcs, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    return CLASSES, jars, digest


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        sys.exit(f"[build] {e}")
