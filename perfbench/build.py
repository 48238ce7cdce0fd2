#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources and the
benchmark driver (perfbench/driver) from the checkout with the Scala
compiler that ships in the Spark distribution ($SPARK_HOME/jars, else the
first bin/ directory on PATH that sits next to a jars/ directory), into
<build_dir>/classes.

A stamp holding a hash of every source file skips the compile when nothing
changed. No sbt, so nothing is written outside the checkout.

Usage: python3 perfbench/build.py [build_dir]   (default: $CARGO_TARGET_DIR
or .bench_build)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SOURCES = ["src/main/scala", "perfbench/driver"]


def spark_jars():
    """The Spark distribution's jars/ directory."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")


def sources():
    files = []
    for root in SOURCES:
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(build_dir):
    """Compile if needed; returns the classes directory."""
    if not os.path.isdir("src/main/scala"):
        sys.exit("perfbench: no src/main/scala here; run from the repository root")
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = ":".join(sorted(
        j for name in ("compiler", "library", "reflect")
        for j in glob.glob(os.path.join(jars, f"scala-{name}-2.13.*.jar"))))
    args_file = os.path.join(build_dir, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", compiler,
         "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
         "-d", classes, "@" + args_file],
        check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1
                else os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
