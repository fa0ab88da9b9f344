#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) using the Scala compiler shipped with the
Spark distribution, into `.bench_build/classes`.  The build is skipped when
a stamp of every source file and the jar list is unchanged.

    python3 perfbench/build.py        # build if stale, print the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """The jars the engine builds against: $SPARK_HOME/jars, else the
    directory the repository's build.sbt names as `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    sys.exit("[perfbench] no Spark jars: set SPARK_HOME")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"[perfbench] engine sources not found under {ENGINE_SRC}; "
                 "run from the repository root")
    files = []
    for d in (ENGINE_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def ensure_built():
    """Compile if stale; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "classes.stamp")
    classpath = f"{classes}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jar_list = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    args_file = os.path.join(BUILD_DIR, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", jar_list, f"@{args_file}"])
    if r.returncode != 0:
        sys.exit("[perfbench] compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(ensure_built())
