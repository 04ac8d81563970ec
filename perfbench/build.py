"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) using the Scala compiler that ships in the
Spark distribution's jars directory, into perfbench/target/classes. The
build is skipped while a stamp holding the hash of every source file still
matches, so only the first run in a checkout pays for it.

    python3 perfbench/build.py        # build (or confirm up to date)
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src")]


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory of $SPARK_HOME, else of the first Spark
    distribution on PATH that ships the Scala 2.13 compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isfile(
                os.path.join(jars, "scala-compiler-2.13.17.jar")):
            return jars
    raise BuildError("no Spark distribution with the Scala 2.13 compiler")


def sources():
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {d}")
    files = sorted(
        os.path.join(dp, f)
        for d in SOURCE_DIRS for dp, _, fs in os.walk(d)
        for f in fs if f.endswith(".scala"))
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        raise BuildError("no program sources to build")
    return files


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Return (classes dir, Spark jars dir), compiling first if stale."""
    jars = spark_jars()
    files = sources()
    want = fingerprint(files)
    if os.path.isfile(STAMP) and open(STAMP).read().strip() == want:
        return CLASSES, jars
    staging = CLASSES + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(TARGET, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-classpath", cp, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    res = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    if res.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError(f"scalac exited with {res.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return CLASSES, jars


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
