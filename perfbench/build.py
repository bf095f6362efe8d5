#!/usr/bin/env python3
"""Build the benchmark: compile the program (src/main/scala) together with
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in Spark's jars directory. No sbt, no network.

The classes land in perfbench/.build/classes-<hash>, where <hash> covers
every source file, so an unchanged tree is not rebuilt and a changed one
always is. Run directly to build ahead of time: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")
BUILD = os.path.join(BENCH, ".build")


def spark_jars():
    """The jars of a Spark install: $SPARK_HOME/jars, else the first one
    found next to a spark-submit on the PATH."""
    homes = [os.environ.get("SPARK_HOME")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes += [os.path.dirname(d), os.path.dirname(os.path.dirname(os.path.realpath(submit)))]
    for h in homes:
        jars = os.path.join(h or "", "jars")
        if h and os.path.isdir(jars) and any(f.startswith("spark-core") for f in os.listdir(jars)):
            return jars
    return ""


def sources():
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def check_checkout():
    """Fail unless the program's sources are next to the benchmark."""
    if not os.path.isdir(PROGRAM_SRC):
        sys.exit(f"perfbench: no program sources at {os.path.relpath(PROGRAM_SRC, ROOT)}; "
                 "run from a full checkout")
    if not os.path.isdir(spark_jars()):
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")


def build():
    """Compile if needed; return the classes directory."""
    check_checkout()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compilation failed")
    os.rename(tmp, classes)
    return classes


def classpath(classes):
    return os.pathsep.join([classes, PROGRAM_RESOURCES, os.path.join(spark_jars(), "*")])


if __name__ == "__main__":
    print(build())
