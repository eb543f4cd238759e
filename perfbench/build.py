#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the graft library (``src/main/scala`` at the checkout root) and
the benchmark sources (``perfbench/src``) into one class directory with
the Scala compiler that ships in Spark's own jar directory, so no build
tool and no dependency download is involved. The output is one jar under
``.bench_build/`` at the checkout root, reused while a stamp over every
source file still matches. A rebuild drops the class-data-sharing archive
``run.py`` keeps next to the jar, since it is only valid for one jar.

Usage (from the checkout root): ``python3 perfbench/build.py``
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
JAR = os.path.join(BUILD, "graftbench.jar")
CDS = os.path.join(BUILD, "classes.jsa")
STAMP = os.path.join(BUILD, "stamp")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
COMPILE_TIMEOUT_S = 840


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark installation found (set SPARK_HOME)")
    if not any(n.startswith("scala-compiler") for n in os.listdir(jars)):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def sources():
    if not os.path.isdir(LIB_SRC):
        raise BuildError(f"library sources missing: {LIB_SRC}")
    out = []
    for top in (LIB_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def stamp_of(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(jars):
    return JAR + os.pathsep + os.path.join(jars, "*")


def write_jar(classes, jar):
    """Packs a class directory into a jar (class-data sharing needs jars)."""
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, classes))
    os.replace(tmp, jar)


def build(log=sys.stderr):
    """Compile if the sources changed; return the run classpath."""
    jars = spark_jars()
    files = sources()
    want = stamp_of(files, jars)
    if os.path.isfile(STAMP) and open(STAMP).read() == want \
            and os.path.isfile(JAR):
        return classpath(jars)
    t0 = time.time()
    staging = os.path.join(BUILD, "classes")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    tmp = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-cp", os.path.join(jars, "*"),
           "@" + argfile]
    print(f"[build] compiling {len(files)} sources", file=log, flush=True)
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError("compile timed out")
    if r.returncode != 0:
        print(r.stdout[-20000:], file=log)
        raise BuildError(f"scalac exited with {r.returncode}")
    for stale in (CDS, STAMP):
        if os.path.exists(stale):
            os.remove(stale)
    write_jar(staging, JAR)
    shutil.rmtree(staging, ignore_errors=True)
    with open(STAMP, "w") as fh:
        fh.write(want)
    print(f"[build] compiled in {time.time() - t0:.1f}s", file=log,
          flush=True)
    return classpath(jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] error: {e}", file=sys.stderr)
        sys.exit(2)
