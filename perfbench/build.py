#!/usr/bin/env python3
"""Builds the engine and the benchmark's JVM side from source.

The engine's sources (src/main/scala) and the benchmark's (perfbench/src)
compile in one scalac run against the jars of the Spark distribution
named by SPARK_HOME (or found next to spark-submit on PATH); the Scala
compiler ships among those jars. Classes land in perfbench/.build and are
reused while a digest of every source file still matches.

    python3 perfbench/build.py
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
ENGINE_SOURCES = os.path.join("src", "main", "scala")
BENCH_SOURCES = os.path.join("perfbench", "src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        sys.exit("perfbench: no Spark distribution found; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.isfile(exe):
        sys.exit("perfbench: no java found; set JAVA_HOME")
    return exe


def sources():
    if not os.path.isdir(os.path.join(ROOT, ENGINE_SOURCES)):
        sys.exit(f"perfbench: engine sources not found under {ENGINE_SOURCES}")
    found = []
    for top in (ENGINE_SOURCES, BENCH_SOURCES):
        for dirpath, _, names in os.walk(os.path.join(ROOT, top)):
            found += [os.path.relpath(os.path.join(dirpath, n), ROOT)
                      for n in names if n.endswith(".scala")]
    return sorted(found)


def digest(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Returns (classes dir, Spark jars dir), compiling first if stale."""
    jars = spark_jars()
    files = sources()
    want = digest(files, jars)
    stamp = os.path.join(BUILD, "stamp")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        if os.path.exists(stamp) and open(stamp).read() == want:
            return CLASSES, jars
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
        cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", CLASSES, "@" + argfile]
        if subprocess.run(cmd, cwd=ROOT).returncode != 0:
            sys.exit("perfbench: build failed")
        with open(stamp, "w") as fh:
            fh.write(want)
    return CLASSES, jars


if __name__ == "__main__":
    print(ensure_built()[0])
