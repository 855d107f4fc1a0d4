#!/usr/bin/env python3
"""Build the benchmark: compile the engine's sources (src/main/scala of the
checkout) together with the benchmark's own sources (bench_lifecycle/src)
with the Scala compiler that ships in the Spark distribution ($SPARK_HOME),
into bench_lifecycle/target/classes. Run from the root of a checkout:

    python3 bench_lifecycle/build.py

A stamp over every source file's content makes a rebuild a no-op when
nothing changed. Exits non-zero when the engine sources are missing or
the compile fails.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "classes.stamp")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars
    bundled with an installed pyspark."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for jars in candidates:
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise SystemExit("build: no Spark distribution found (set SPARK_HOME)")


def sources():
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath():
    """Runtime classpath: compiled classes, then the Spark jars."""
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"build: engine sources not found at {ENGINE_SRC}")
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(",".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(TARGET, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", CLASSES, "@" + argfile]
    print(f"build: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-8000:], file=log)
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
