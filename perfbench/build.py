#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources (src/main)
together with the benchmark's (perfbench/src) against Spark's jars
($SPARK_HOME/jars, the jars build.sbt compiles against), into
.bench_build/classes-<hash of the sources>. A build whose sources are
unchanged is reused.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark installation whose
    bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    homes += [os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
              if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    return ""


SPARK_JARS = spark_jars()
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def sources():
    found = []
    for d in SOURCE_DIRS:
        for base, _, names in os.walk(d):
            found += [os.path.join(base, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(found)


def build():
    """Returns the classes directory, compiling first when needed."""
    files = sources()
    program = [f for f in files if f.startswith(SOURCE_DIRS[0] + os.sep)]
    if not program:
        raise SystemExit(f"perfbench: no program sources under {SOURCE_DIRS[0]}")
    if not SPARK_JARS:
        raise SystemExit("perfbench: no Spark jars; set SPARK_HOME")
    h = hashlib.sha256()
    for f in files + ([os.path.join(b, n) for b, _, ns in os.walk(RESOURCES) for n in sorted(ns)]):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(SPARK_JARS, "*")
    argfile = os.path.join(out, ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp, "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, out, dirs_exist_ok=True)
    open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
