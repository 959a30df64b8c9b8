#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (`src/main/scala` at the repository root) together
with the benchmark's own Scala sources (`perfbench/src`) into
`.bench_build/classes`, using the Scala compiler jar that ships in the Spark
distribution's `jars/` directory, so the build needs no network and no sbt.
A stamp of every input file's path, size and mtime is stored beside the
classes; an unchanged tree is not recompiled.

    python3 perfbench/build.py          # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")


class BuildError(Exception):
    pass


def spark_jars_dir():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    `jars/` beside the `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return os.path.join(home, "jars")


def runtime_classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars_dir(), "*")


def _sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources missing: {ENGINE_SRC}")
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def _stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        st = os.stat(f)
        h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def _compiler_jar(jars, name):
    found = sorted(glob.glob(os.path.join(jars, f"{name}-2.13.*.jar")))
    if not found:
        raise BuildError(f"{name} 2.13 jar not found in {jars}")
    return found[-1]


def build(log=sys.stderr):
    """Compile if any input changed; returns the runtime classpath."""
    files = _sources()
    stamp = _stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return runtime_classpath()
    jars = spark_jars_dir()
    tool_cp = os.pathsep.join(_compiler_jar(jars, n)
                              for n in ("scala-compiler", "scala-library", "scala-reflect"))
    lib_cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[build] compiling {len(files)} Scala files", file=log, flush=True)
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", tool_cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", CLASSES, "-classpath", lib_cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return runtime_classpath()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
