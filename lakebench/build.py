#!/usr/bin/env python3
"""Build file of the lake benchmark: compiles the engine's main sources and
the benchmark's own sources into one class directory with the Scala
compiler that ships with Spark. Rebuilds only when a source changed.

    python3 lakebench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import subprocess
import sys


def spark_home():
    """$SPARK_HOME, else the Spark install of the first spark-submit on PATH
    that ships its jars (a pip-installed pyspark wrapper does not)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("lakebench: set SPARK_HOME or put Spark's spark-submit on PATH")


SPARK_JARS = os.path.join(spark_home(), "jars")
BUILD_DIR = ".bench_build"
SCALA_VERSION = "2.13.17"


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(root, "lakebench/src/**/*.scala"), recursive=True))
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile if needed; return the class directory."""
    files = sources(root)
    if not any("/src/main/scala/" in f for f in files) or not any("/lakebench/src/" in f for f in files):
        raise SystemExit("lakebench: engine or benchmark sources not found under %s" % root)
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(root, BUILD_DIR, "classes.stamp")
    want = stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return out
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    if os.path.exists(out):
        subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    compiler = os.pathsep.join(os.path.join(SPARK_JARS, "scala-%s-%s.jar" % (n, SCALA_VERSION))
                               for n in ("compiler", "library", "reflect"))
    args_file = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", os.path.join(SPARK_JARS, "*"), "@" + args_file]
    print("lakebench: compiling %d sources" % len(files), file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
