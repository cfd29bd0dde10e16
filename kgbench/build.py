#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine sources (src/main/scala) together with the benchmark's
own sources (kgbench/src) into .bench_build/classes, using the Scala compiler
and the Spark jars of the local Spark install ($SPARK_HOME/jars, or the
install that holds the spark-submit on PATH). Nothing is downloaded. A stamp
over every source file and jar name skips the compile when nothing changed.

    python3 kgbench/build.py          # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "kgbench" / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"
COMPILE_TIMEOUT_S = 800


def spark_jars():
    """Jars of $SPARK_HOME, else of the first Spark install whose bin/ is on
    PATH (pip's pyspark wrappers have no jars/ beside them and are skipped)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").exists()]
    for home in filter(None, homes):
        jars = sorted((Path(home) / "jars").glob("*.jar"))
        if any(j.name.startswith("spark-core_") for j in jars):
            return jars
    raise SystemExit("kgbench build: no Spark install found; set SPARK_HOME")


def sources():
    missing = [d for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise SystemExit("kgbench build: missing source directories: "
                         + ", ".join(str(d.relative_to(ROOT)) for d in missing))
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def stamp(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    return h.hexdigest()


def classpath(classes, jars):
    return os.pathsep.join([str(classes), str(RESOURCES)] + [str(j) for j in jars])


def build():
    """Compiles when the sources changed; returns the runtime classpath."""
    srcs = sources()
    jars = spark_jars()
    classes = BUILD / "classes"
    stamp_file = BUILD / "classes.stamp"
    want = stamp(srcs, jars)
    if stamp_file.is_file() and stamp_file.read_text() == want and classes.is_dir():
        return classpath(classes, jars)
    compiler = [j for j in jars if j.name.startswith(("scala-compiler-", "scala-library-",
                                                       "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit("kgbench build: scala-compiler/library/reflect jars not found")
    tmp = BUILD / "classes.partial"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args_file = BUILD / "scalac.args"
    args_file.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}",
           "-cp", os.pathsep.join(str(j) for j in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", os.pathsep.join(str(j) for j in jars), f"@{args_file}"]
    print("kgbench build: compiling %d sources" % len(srcs), file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=COMPILE_TIMEOUT_S)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return classpath(classes, jars)


if __name__ == "__main__":
    BUILD.mkdir(exist_ok=True)
    print(build())
