#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark client (graftbench/src) into one class directory with the
Scala compiler that ships in Spark's jars.

The output is keyed by a digest of every source file, so an unchanged tree
is not rebuilt. Usage: python3 graftbench/build.py [BUILD_DIR]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the one beside a
    spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        d = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    sys.exit("build: no Spark jars with a Scala compiler (set SPARK_HOME)")


def sources():
    found = []
    for root in (os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "src")):
        found += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
        found += glob.glob(os.path.join(root, "**", "*.java"), recursive=True)
    return sorted(found)


def default_build_dir():
    target = os.environ.get("CARGO_TARGET_DIR")
    return os.path.join(os.path.abspath(target), "graftbench") if target else os.path.join(HERE, "target")


def build(build_dir=None):
    """Compile if the sources changed; return the class directory."""
    build_dir = build_dir or default_build_dir()
    srcs = sources()
    if not any(s.startswith(os.path.join(REPO, "src")) for s in srcs):
        sys.exit("build: graft's sources (src/main/scala) are not in this tree")
    jars = spark_jars()
    digest = hashlib.sha256(jars.encode())
    for s in srcs:
        digest.update(os.path.relpath(s, REPO).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    os.makedirs(build_dir, exist_ok=True)
    staging = classes + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", staging, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        sys.exit("build: compilation failed")
    resources = os.path.join(REPO, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, staging, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else None))
