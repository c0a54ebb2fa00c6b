#!/usr/bin/env python3
"""Compile the program and the benchmark's own Scala code.

Usage: python3 perfbench/build.py      (prints the classpath)

The program's sources (src/main/scala) and the benchmark's
(perfbench/src) are compiled in one scalac call, with the compiler that
ships among the Spark jars and against those same jars (the jars
build.sbt names as its unmanaged base), into .bench_build/classes at the
root of the checkout. A stamp over every source file and jar name skips
the compile when nothing changed. build.sbt is not read or touched and
sbt is not started.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars() -> Path:
    """The Spark distribution's jars: $SPARK_HOME/jars, else the
    directory of the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("build: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not jars.is_dir():
        sys.exit(f"build: no jars directory under {home}")
    return jars


def sources() -> list:
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    if not any(p.is_relative_to(SOURCE_DIRS[0]) for p in files):
        sys.exit(f"build: no program sources under {SOURCE_DIRS[0]}")
    return files


def source_stamp(files, jars: Path) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode() + b"\0")
    return h.hexdigest()


def build() -> str:
    """Compile if stale; return the classpath to run with."""
    jars = spark_jars()
    files = sources()
    stamp = source_stamp(files, jars)
    classpath = f"{CLASSES}{os.pathsep}{jars}/*"
    stamp_file = CLASSES / "STAMP"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classpath
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = [str(j) for j in sorted(jars.glob("scala-*.jar"))
                if j.name.split("-")[1] in ("compiler", "reflect", "library")]
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*",
           "-d", str(tmp)] + [str(p) for p in files]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-20000:])
        sys.exit(f"build: scalac failed with code {done.returncode}")
    (tmp / "STAMP").write_text(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return classpath


if __name__ == "__main__":
    print(build())
