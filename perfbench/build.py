#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (``src/main/scala`` of the checkout) together
with the benchmark's own sources (``perfbench/src``) into
``perfbench/.build/classes`` with the Scala compiler that ships in Spark's
``jars`` directory; nothing is downloaded. A stamp over every input file
makes a second call a no-op until a source changes.

    python3 perfbench/build.py          # build if stale, print the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the ``spark-submit`` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise BuildError(f"engine sources missing under {ENGINE_SRC}")
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(jars.encode())
    with open(__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def classpath(jars):
    return CLASSES + os.pathsep + os.path.join(jars, "*")


def build(log=sys.stderr):
    """Compile if stale; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    stamp = stamp_of(srcs, jars)
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return classpath(jars)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", CLASSES, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath(jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
