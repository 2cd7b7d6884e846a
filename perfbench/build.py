#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution, into .bench_build/classes.

Run from the root of a checkout:  python3 perfbench/build.py

The build is skipped when the sources are unchanged since the last build
(a digest of every source file is kept next to the classes).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
PROGRAM_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")
RESOURCES = os.path.join("src", "main", "resources")


class BuildError(Exception):
    pass


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def classpath_jars():
    return os.path.join(spark_jars(), "*")


def compiler_classpath():
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(spark_jars(), f"{name}-2.13.*.jar")))
        if not found:
            raise BuildError(f"{name} jar not found under {spark_jars()}")
        jars.append(found[-1])
    return os.pathsep.join(jars)


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"no program sources at {PROGRAM_SRC}: run from the root of a checkout")
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files):
    h = hashlib.sha256(compiler_classpath().encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(timeout=840):
    """Compile when needed; return the runtime classpath."""
    files = sources()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp = os.path.join(BUILD_DIR, "classes.sha256")
    want = digest(files)
    have = open(stamp).read().strip() if os.path.exists(stamp) else None
    if have != want or not os.path.isdir(classes):
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD_DIR, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler_classpath(),
               "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
               "-classpath", classpath_jars(), "@" + argfile]
        print(f"[build] compiling {len(files)} sources", file=sys.stderr)
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                               text=True, timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BuildError("compiler timed out")
        if r.returncode != 0:
            raise BuildError("compilation failed:\n" + r.stdout[-4000:])
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp, "w") as fh:
            fh.write(want + "\n")
    return os.pathsep.join([classes, RESOURCES, classpath_jars()])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
