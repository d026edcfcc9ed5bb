#!/usr/bin/env python3
"""Builds the benchmark: the library sources under src/main/scala and the
benchmark's own sources under perfbench/src, compiled together by the
Scala compiler that ships with the Spark distribution (the same jars the
library's sbt build compiles against).

Classes go to .bench_build/perfbench/classes-<digest of the sources>, so
a changed source triggers a rebuild and an unchanged one reuses the last
build. Usage: python3 perfbench/build.py  (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
LIBRARY_SOURCES = os.path.join(ROOT, "src", "main", "scala")
BENCH_SOURCES = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME/jars, else the first
    jars directory beside a spark-submit on PATH that holds the Scala
    compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(j.startswith("scala-compiler") for j in os.listdir(jars)):
            return jars
    raise BuildError("no Spark distribution with the Scala compiler found; set SPARK_HOME")


def scala_sources(top):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def ensure():
    """Returns the classes directory, compiling first if it is stale."""
    library = scala_sources(LIBRARY_SOURCES)
    bench = scala_sources(BENCH_SOURCES)
    if not library:
        raise BuildError(f"no library sources under {LIBRARY_SOURCES}")
    if not bench:
        raise BuildError(f"no benchmark sources under {BENCH_SOURCES}")
    jars = spark_jars()
    digest = hashlib.sha256()
    for path in library + bench:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    digest.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, "BUILD_OK")):
        return out

    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    classpath = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", classpath] + library + bench
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=ROOT).returncode
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BuildError(f"scalac exited with {rc}; see {log}")
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
