#!/usr/bin/env python3
"""Run one workload of the AMT lake benchmark from the repository root.

    python3 lakebench/run.py --workload gold_serve --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark (lakebench/build.py), then runs one JVM
with a local Spark session. Human-readable lines go to stdout first; the
last stdout line is the JSON result. See lakebench/README.md.
"""
import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RUN_TIMEOUT_S = 175


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["gold_serve", "operators"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--students", type=int)
    ap.add_argument("--write-expected", action="store_true",
                    help="rewrite lakebench/expected.json from this seed and size")
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        print("lakebench: run from the repository root (src/main/scala not found)", file=sys.stderr)
        return 2
    classes = build.build(root)
    tmp = os.path.join(root, build.BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms4g", "-Xmx4g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.SPARK_JARS, "*"), "lakebench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", os.path.join(root, build.BUILD_DIR, "work"),
            "--expected", os.path.join(HERE, "expected.json")]
    if a.students:
        cmd += ["--students", str(a.students)]
    if a.write_expected:
        cmd += ["--write-expected"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(root, build.BUILD_DIR, "work", "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("lakebench: run exceeded %d s" % RUN_TIMEOUT_S, file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
