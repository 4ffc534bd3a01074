#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the library sources (src/main/scala) together with the
benchmark driver (perfbench/src) into one class directory with the Scala
compiler that ships in the Spark distribution's jars, so no build tool
has to resolve anything. Output lives under .bench_build/, keyed by a
hash of every source file: an unchanged tree reuses the previous build.

Usage (from the repository root):  python3 perfbench/build.py
Prints the run-time classpath as its last line.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
LIB_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")
SCALAC_OPTS = ["-nowarn", "-encoding", "UTF-8"]


def fail(msg):
    print(f"[build] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        fail("no Spark distribution with a Scala compiler found "
             "(set SPARK_HOME)")
    return os.path.join(home, "jars")


def sources():
    if not os.path.isdir(LIB_SRC):
        fail(f"{LIB_SRC} not found: run from the root of a graft checkout")
    files = []
    for root in (LIB_SRC, BENCH_SRC):
        for dirpath, _, names in os.walk(root):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    if not files:
        fail("no Scala sources found")
    return sorted(files)


def build():
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for item in SCALAC_OPTS + [jars]:
        digest.update(item.encode())
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(BUILD_DIR, "classes-" + digest.hexdigest()[:16])
    done = os.path.join(out, ".complete")
    classpath = os.path.abspath(out) + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(done):
        return classpath
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    print(f"[build] compiling {len(files)} sources into {out}", file=sys.stderr)
    argfile = os.path.join(BUILD_DIR, "scalac-sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", *SCALAC_OPTS, "-d", out,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("scalac failed")
    open(done, "w").close()
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return classpath


if __name__ == "__main__":
    print(build())
