#!/usr/bin/env python3
"""Builds the benchmark: compiles the program's sources (src/main/scala) and
the harness (perfbench/src) with the Scala compiler that ships in Spark's
jars directory, into .bench_build/perfbench/classes.

Run from the repository root:  python3 perfbench/build.py
A build is skipped when the sources are unchanged since the last one.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

PROGRAM_SRC = os.path.join("src", "main", "scala")
HARNESS_SRC = os.path.join("perfbench", "src")
OUT = os.path.join(".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory, from SPARK_HOME or the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("Spark jars with a Scala compiler not found; set SPARK_HOME")
    return jars


def sources():
    files = []
    for top in (PROGRAM_SRC, HARNESS_SRC):
        files += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure():
    """Returns the classes directory, compiling first if it is stale."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise BuildError("program sources not found under %s; run from the repository root" % PROGRAM_SRC)
    jars = spark_jars()
    files = sources()
    want = stamp(files)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=840)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + res.stdout.decode(errors="replace")[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        sys.exit("build: %s" % e)
