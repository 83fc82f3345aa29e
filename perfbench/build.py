#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler that ships
in Spark's jars, into .bench_build/ at the root of the checkout.

A stamp of the source hash makes a rebuild happen only when a source
changed. Usage: python3 perfbench/build.py   (from the checkout root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
SCALAC_OPTS = ["-deprecation", "-nowarn"]


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME, else the one whose
    spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"build: no Spark jars with a Scala compiler under {jars!r} (set SPARK_HOME)")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        sys.exit(f"build: engine sources not found at {engine}")
    files = []
    for d in (engine, os.path.join(BENCH, "src")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Returns (classes dir, source sha256); compiles only if needed."""
    jars = spark_jars()
    files = sources()
    digest = source_hash(files)
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", *SCALAC_OPTS,
           "-d", classes, "-classpath", cp, *files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        sys.exit("build: scalac failed")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes, digest


if __name__ == "__main__":
    print(build()[0])
