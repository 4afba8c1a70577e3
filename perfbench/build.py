#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/scala) with the Scala compiler that ships in the
Spark distribution ($SPARK_HOME, else the one whose bin/spark-submit is on
PATH), into .bench_build/classes.

    python3 perfbench/build.py        # from the repository root

A build is skipped when the sources hash to the stamp of the last build.
Exits non-zero when the program sources are missing or do not compile.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("build: no Spark distribution (set SPARK_HOME)")


def sources():
    found = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(timeout=840):
    """Compile if needed; return the classpath to run with."""
    cp = OUT + os.pathsep + os.path.join(spark_jars(), "*")
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise SystemExit(f"build: no program sources at {SOURCE_DIRS[0]}")
    files = sources()
    stamp = digest(files)
    stamp_file = os.path.join(OUT, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = OUT + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(os.path.dirname(OUT), "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", jars, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=timeout)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac exited {r.returncode}")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(OUT, ignore_errors=True)
    os.rename(tmp, OUT)
    return cp


if __name__ == "__main__":
    print(build())
