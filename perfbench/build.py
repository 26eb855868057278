#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/scala`) into `perfbench/.build/classes`, with the
Scala compiler and Spark jars of the Spark distribution (`$SPARK_HOME`, or
the one whose `spark-submit` is on the PATH). No dependency resolution, no
build server. The
output is reused while a hash of every source file is unchanged.

Usage: python3 perfbench/build.py     (run.py calls it before every run)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")


class CompileError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise CompileError(f"no Spark distribution at {jars} (set SPARK_HOME)")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise CompileError(f"engine sources not found under {engine}")
    found = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return found


def stamp_of(srcs, jars):
    h = hashlib.sha256()
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def ensure(log=sys.stderr):
    """Compile unless the classes match the current sources; returns the
    sources' hash. A compile drops what earlier builds' runs left in
    `.build` (the serve workload's warehouse)."""
    jars = spark_jars()
    srcs = sources()
    stamp = stamp_of(srcs, jars)
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    shutil.rmtree(BUILD, ignore_errors=True)
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13.*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise CompileError(f"no Scala 2.13 compiler jars in {jars}")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g",
           "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    done = subprocess.run(cmd, stdout=log, stderr=log)
    if done.returncode != 0:
        raise CompileError("compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return stamp


if __name__ == "__main__":
    try:
        ensure()
    except CompileError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
