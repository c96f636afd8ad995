"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
with the Scala compiler that ships in the Spark distribution, into
`.bench_build/classes`. A build is reused while every source file is
unchanged (keyed by a content hash).

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, or else of the
    first distribution whose bin/spark-submit is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("build: no Spark distribution found; set SPARK_HOME")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"build: engine sources {ENGINE_SRC} not found; run from the repository root")
    out = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for root, _, files in os.walk(top):
            out += [os.path.join(root, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build():
    """Returns the classes directory, compiling first when needed."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    key = digest.hexdigest()[:16]
    classes = os.path.join(BUILD_DIR, "classes-" + key)
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    if os.path.isdir(BUILD_DIR):
        for old in os.listdir(BUILD_DIR):
            if old.startswith("classes-"):
                shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", classes] + srcs
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise SystemExit(f"build: scalac exited {res.returncode}")
    open(os.path.join(classes, ".complete"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
