#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's main
sources and the benchmark's own Scala sources with the Scala compiler
that ships in Spark's jars directory, into .bench_build/classes.

Usage: python3 perfbench/build.py   (from the root of a checkout)

The build is skipped when a stamp of every source file's path and
content matches the last build's. Spark's jars are found through
SPARK_HOME, else through the root build.sbt's unmanagedBase.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
SOURCES = ["src/main/scala", "perfbench/src"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("build: no Spark jars (set SPARK_HOME)")
    return m.group(1)


def sources():
    out = []
    for root in SOURCES:
        if not os.path.isdir(root):
            sys.exit(f"build: missing source directory {root}")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath():
    """Classpath of a built checkout, for running."""
    return os.pathsep.join([os.path.abspath(f"{BUILD}/classes"),
                            os.path.abspath("src/main/resources"),
                            os.path.join(spark_jars(), "*")])


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = f"{BUILD}/classes.stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    out = f"{BUILD}/classes"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = os.path.join(spark_jars(), "*")
    with open(f"{BUILD}/sources.txt", "w") as f:
        f.write("\n".join(srcs) + "\n")
    r = subprocess.run(
        ["java", "-Xss16m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", out, "-classpath", jars, f"@{BUILD}/sources.txt"],
        stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    build()
