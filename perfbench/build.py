#!/usr/bin/env python3
"""Build the benchmark: compile the library sources (src/main/scala) and the
benchmark sources (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into a directory keyed by a hash of every source.

    python3 perfbench/build.py          # prints the classpath it built

Outputs go to $CARGO_TARGET_DIR when set, else .bench_build at the root of
the checkout. A build is published by renaming a finished scratch directory,
so an interrupted build is never reused.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """The jars of a Spark distribution that ships a Scala compiler:
    $SPARK_HOME, else the first distribution whose bin/ is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.abspath(p)) for p in os.environ.get("PATH", "").split(os.pathsep) if p]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    raise SystemExit("perfbench: no Spark distribution with a Scala compiler under SPARK_HOME or PATH")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_key(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files):
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", classpath] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build():
    """Return the runtime classpath, compiling first if this source set has
    no finished build yet."""
    if not os.path.isdir(LIB_SRC):
        raise FileNotFoundError(f"no library sources at {LIB_SRC}")
    lib, bench = sources(LIB_SRC), sources(BENCH_SRC)
    jars = spark_jars()
    out = os.path.join(build_dir(), "classes-" + source_key(lib + bench))
    cp = lambda d: os.pathsep.join([os.path.join(d, "lib"), os.path.join(d, "bench"), LIB_RES, jars])
    if os.path.isdir(out):
        return cp(out)
    os.makedirs(build_dir(), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".building-", dir=build_dir())
    try:
        print(f"perfbench: compiling {len(lib)} library and {len(bench)} benchmark sources", file=sys.stderr)
        os.makedirs(os.path.join(tmp, "lib")); os.makedirs(os.path.join(tmp, "bench"))
        scalac(jars, jars, os.path.join(tmp, "lib"), lib)
        scalac(jars, os.pathsep.join([os.path.join(tmp, "lib"), jars]), os.path.join(tmp, "bench"), bench)
        try:
            os.rename(tmp, out)
        except OSError:
            if not os.path.isdir(out):  # not a concurrent build that won the rename
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return cp(out)


if __name__ == "__main__":
    print(build())
