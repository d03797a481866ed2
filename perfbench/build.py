#!/usr/bin/env python3
"""Build file of the sync benchmark.

Compiles the engine sources (src/main/scala) together with the benchmark's
own sources (perfbench/src) into perfbench/.build/classes with the Scala
compiler that ships in the Spark distribution. The build is skipped when a
fingerprint of every source file, the Spark jar set and the JDK is
unchanged. Run it directly to build:

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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars
    directory beside the first bin/ on PATH that has one."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise BuildError("Spark jars not found; set SPARK_HOME to a Spark 4 distribution")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def fingerprint(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    h.update(java.stderr.encode())
    return h.hexdigest()


def build(log=sys.stderr):
    """Return (classes dir, Spark jars dir), compiling first if needed."""
    jars = spark_jars()
    files = sources()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = fingerprint(files, jars)
        if os.path.isfile(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
            return CLASSES, jars
        print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
        tmp = CLASSES + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
        done = subprocess.run(cmd, stdout=log, stderr=log)
        if done.returncode != 0:
            raise BuildError(f"scalac failed with exit code {done.returncode}")
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(tmp, CLASSES)
        with open(STAMP, "w") as fh:
            fh.write(stamp)
        return CLASSES, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
