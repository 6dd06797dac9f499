#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark's JVM side (perfbench/src) into .bench_build/classes with the Scala
2.13 compiler that ships among Spark's jars. The build is skipped when no
source changed since the last one.

Usage: python3 perfbench/build.py        (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """Directory of the Spark 2.13 jars the library compiles and runs against."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in os.environ.get("PATH", "").split(os.pathsep):  # <spark home>/bin/spark-submit
        if d and os.path.isfile(os.path.join(d, "spark-submit")):
            cands.append(os.path.join(os.path.dirname(os.path.realpath(d)), "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_2.13-*.jar")) and \
                glob.glob(os.path.join(c, "scala-compiler-2.13.*.jar")):
            return c
    raise RuntimeError("no Spark 2.13 jars with a Scala compiler found; set SPARK_HOME or put spark-submit on PATH")


def java():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise RuntimeError("no java on PATH; set JAVA_HOME")
    return found


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    if not lib:
        raise RuntimeError("no library sources under src/main/scala: run from the repository root")
    return lib + bench


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compile when the sources changed; returns the classpath to run with."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update(spark_jars().encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, "BUILD_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", tmp, "-cp", jars, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise RuntimeError(f"compilation failed (exit {r.returncode})")
    with open(os.path.join(tmp, "BUILD_STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return classpath()


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    print(build())
