#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main/scala) together
with the benchmark's own sources (perfbench/src) into one class directory.

The compiler is the Scala 2.13 compiler that ships among Spark's jars, run
in one plain JVM (no sbt), so a fresh checkout builds in well under a minute
and writes nothing outside its build directory.

    python3 perfbench/build.py            # build into .bench_build/
    python3 perfbench/build.py --print    # build, then print the classpath

The build is skipped when a stamp over every source file's content matches
the last successful build.
"""
import hashlib
import os
import shutil
import subprocess
import sys

PROGRAM_SRC = os.path.join("src", "main", "scala")
PROGRAM_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")
BUILD_DIR = ".bench_build"


def spark_jars():
    """Directory of Spark's jars: $SPARK_HOME/jars, else the install that
    owns spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark install found (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for root in (PROGRAM_SRC, BENCH_SRC):
        if not os.path.isdir(root):
            raise SystemExit(f"perfbench: missing source tree {root}/ "
                             "(run from the root of a graft checkout)")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(s.startswith(PROGRAM_SRC) for s in out):
        raise SystemExit(f"perfbench: no Scala sources under {PROGRAM_SRC}/")
    return sorted(out)


def resources():
    out = []
    for d, _, files in os.walk(PROGRAM_RES):
        out += [os.path.join(d, f) for f in files]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([os.path.abspath(os.path.join(BUILD_DIR, "classes")),
                            os.path.join(spark_jars(), "*")])


def build():
    srcs, res = sources(), resources()
    want = stamp(srcs + res)
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    classes = os.path.join(BUILD_DIR, "classes")
    if os.path.isfile(stamp_file) and os.path.isdir(classes):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return
    os.makedirs(BUILD_DIR, exist_ok=True)
    staging = os.path.join(BUILD_DIR, "classes.tmp")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    args_file = os.path.join(BUILD_DIR, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-d", staging, "-cp", jars, "@" + args_file]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    rc = subprocess.call(cmd, stdout=sys.stderr)
    if rc != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed (exit {rc})")
    for f in res:
        dst = os.path.join(staging, os.path.relpath(f, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")


if __name__ == "__main__":
    build()
    if "--print" in sys.argv[1:]:
        print(classpath())
