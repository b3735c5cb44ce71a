#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the harness (benchmark/scala) with the Scala compiler that ships in the
Spark jar directory, without sbt.

Output is <build>/<stamp>/engine.jar, where <build> is $CARGO_TARGET_DIR
or .bench_build under the checkout root and <stamp> a digest of every
source file, so a jar is compiled once per source tree and two source
trees can share one build directory. run.py records the class-data
archive (archive(jar)) of each jar once, beside it.

Usage: python3 benchmark/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_JARS = "/opt/spark/jars"


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def jars():
    js = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not js:
        raise SystemExit(f"no Spark jars under {SPARK_JARS}")
    return js


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(ROOT, "benchmark/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit(f"no engine sources under {ROOT}/src/main/scala")
    return engine + harness


def stamp(srcs, js):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in js:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def java_base(tmp):
    return ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def archive(jar):
    """JVM class-data archive of the Spark and engine classes the
    workloads load, for the given engine jar."""
    return os.path.join(os.path.dirname(jar), "app.jsa")


def build(log=sys.stderr):
    """Compile if needed; return the engine jar."""
    srcs, js = sources(), jars()
    b = os.path.join(build_dir(), stamp(srcs, js)[:16])
    jar = os.path.join(b, "engine.jar")
    if os.path.exists(jar):
        return jar
    staging = os.path.join(b, "classes.tmp")
    tmp = os.path.join(build_dir(), "tmp")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(b, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = ":".join(js)
    print(f"[build] compiling {len(srcs)} Scala files", file=log, flush=True)
    r = subprocess.run(java_base(tmp) + ["-Xss8m", "-Xmx3g", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", staging,
                        "-classpath", cp, "@" + argfile],
                       stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"[build] scalac failed with exit code {r.returncode}")
    # the class-data archive only takes classes from jars, so ship a jar
    shutil.make_archive(jar + ".tmp", "zip", staging)
    # a class-data archive records the jar's mtime: never replace a jar
    if os.path.exists(jar):
        os.remove(jar + ".tmp.zip")
    else:
        os.replace(jar + ".tmp.zip", jar)
    shutil.rmtree(staging)
    return jar


if __name__ == "__main__":
    print(build())
