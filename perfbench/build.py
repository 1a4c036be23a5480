#!/usr/bin/env python3
"""Builds the benchmark: compiles the library sources (src/main/scala) and
the benchmark sources (perfbench/src, perfbench/test) with the Scala
compiler that ships among Spark's jars, into one class directory.

The class directory is keyed by a hash of every source file, so a run
reuses an earlier build of the same sources and rebuilds after any change.

    python3 perfbench/build.py          # prints the class directory

Run from the repository root. Build outputs go under $CARGO_TARGET_DIR
(default .bench_build)/perfbench.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
LIB_SRC = os.path.join("src", "main", "scala")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_root():
    return os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the first `jars`
    directory beside a spark-submit on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("no Spark jars found; set SPARK_HOME")


def sources():
    if not os.path.isdir(LIB_SRC):
        fail(f"no library sources at {LIB_SRC}; run from the repository root")
    dirs = [LIB_SRC, os.path.join(BENCH_DIR, "src"), os.path.join(BENCH_DIR, "test")]
    files = []
    for d in dirs:
        for root, _, names in os.walk(d):
            files += [os.path.join(root, n) for n in names if n.endswith(".scala")]
    if not any(f.startswith(LIB_SRC) for f in files):
        fail(f"no .scala files under {LIB_SRC}")
    return sorted(files)


def ensure_built():
    """Returns (class directory, Spark jar directory), compiling if needed."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    root = build_root()
    classes = os.path.join(root, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".built")):
        return classes, jars
    os.makedirs(root, exist_ok=True)
    for old in os.listdir(root):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    os.makedirs(classes)
    print(f"perfbench: compiling {len(files)} sources into {classes}", file=sys.stderr)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + files
    try:
        r = subprocess.run(cmd, timeout=840)
    except subprocess.TimeoutExpired:
        fail("compilation timed out")
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        fail(f"compilation failed (exit {r.returncode})")
    open(os.path.join(classes, ".built"), "w").close()
    return classes, jars


if __name__ == "__main__":
    print(ensure_built()[0])
