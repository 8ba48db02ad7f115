#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's JVM side (`perfbench/src`) into
`<build dir>/classes`, using the Scala compiler that ships with the Spark
distribution (`$SPARK_HOME/jars`). No sbt, no dependency resolution: the
classpath is exactly the Spark jars.

The build is skipped when a stamp of every source file, the compiler
and the JDK matches the last successful build.

Usage: python3 perfbench/build.py [buildDir]   (default: $CARGO_TARGET_DIR
or .bench_build, relative to the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"build: no scala-compiler jar under {jars!r} (set SPARK_HOME)")
    return jars


def sources():
    srcs = []
    for base in ("src/main/scala", "perfbench/src"):
        srcs += sorted(glob.glob(os.path.join(ROOT, base, "**", "*.scala"), recursive=True))
    if not any("/src/main/scala/" in s for s in srcs):
        sys.exit(f"build: no program sources under {ROOT}/src/main/scala")
    return srcs


def stamp(srcs, jars):
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    h.update(subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                            capture_output=True).stderr)
    return h.hexdigest()


def build(out=None):
    """Returns the classpath to run the benchmark's JVM side with."""
    out = out or build_dir()
    jars = spark_jars()
    srcs = sources()
    classes = os.path.join(out, "classes")
    st = stamp(srcs, jars)
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == st:
        return f"{classes}:{jars}/*"
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    print(f"[build] compiling {len(srcs)} sources into {classes}", file=sys.stderr)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}", "-Xss8m", "-Xmx2g",
         "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", tmp] + srcs,
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"build: scalac failed with code {r.returncode}")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(st)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"[build] done in {time.time() - t0:.1f} s", file=sys.stderr)
    return f"{classes}:{jars}/*"


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else None))
