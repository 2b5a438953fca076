#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the harness (`perfbench/scala`) with the Scala compiler that ships with
Spark, into `.bench_build/classes` under the current directory.

Run from the repository root: `python3 perfbench/build.py`. A rebuild is
skipped while the source digest matches the one stored with the classes.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
SOURCES = ("src/main/scala", "perfbench/scala")
RESOURCES = "src/main/resources"


def spark_jars():
    """`$SPARK_HOME/jars`, or the jars beside `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"no Spark jars under {jars}; set SPARK_HOME")
    return jars


def sources():
    files = []
    for root in SOURCES:
        if not os.path.isdir(root):
            raise SystemExit(f"missing {root}: run from the repository root")
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath():
    return os.pathsep.join([os.path.join(BUILD, "classes"), RESOURCES,
                            os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    files = sources()
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(RESOURCES, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(f.encode())
            h.update(open(f, "rb").read())
    digest = h.hexdigest()
    out = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss16m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", jars] + files
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"scalac failed with exit code {r.returncode}")
    with open(stamp, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    build()
