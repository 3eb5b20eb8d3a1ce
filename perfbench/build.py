#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/src) with scalac into .bench_build.

The Spark distribution's jars are the only dependency (they carry the
Scala compiler too): the directory the repository's build.sbt names as
`unmanagedBase`, or SPARK_JARS when set. A build is reused while every
source file is unchanged.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(REPO, ".bench_build")
PROGRAM_SRC = os.path.join(REPO, "src", "main", "scala")
PROGRAM_RES = os.path.join(REPO, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


class BuildError(Exception):
    pass


def spark_jars():
    d = os.environ.get("SPARK_JARS")
    if not d:
        sbt = os.path.join(REPO, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read()) if os.path.exists(sbt) else None
        if not m:
            raise BuildError("no Spark jars: set SPARK_JARS or unmanagedBase")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {d} (set SPARK_JARS)")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found at {PROGRAM_SRC}")
    files = []
    for root in (PROGRAM_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath (list of entries)."""
    jars = spark_jars()
    files = sources()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp = os.path.join(BUILD_DIR, "classes.sha256")
    want = digest(files)
    have = open(stamp).read().strip() if os.path.exists(stamp) else ""
    if want != have:
        subprocess.run(["rm", "-rf", classes], check=True)
        os.makedirs(classes)
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-classpath",
               ":".join(jars), "-d", classes] + files
        r = subprocess.run(cmd, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        with open(stamp, "w") as fh:
            fh.write(want + "\n")
    return [classes, PROGRAM_RES] + jars


if __name__ == "__main__":
    try:
        print(":".join(build()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
