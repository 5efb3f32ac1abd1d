#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the benchmark harness
(`perfbench/src`) into one class directory with the Scala compiler that ships
in Spark's own jar set, so a build needs no sbt, no network and no artifact
outside Spark. The output goes to `$CARGO_TARGET_DIR/perfbench` (default
`.bench_build/perfbench`) under the checkout root. A stamp holding a hash of
every source file skips the compile when nothing changed.

Usage: python3 perfbench/build.py
Prints the class directory on success; exits nonzero when a source tree is
missing or the compile fails.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("build: no Spark installation found (set SPARK_HOME)")
    return home


def spark_jars():
    jars = sorted(glob.glob(os.path.join(spark_home(), "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        sys.exit("build: Spark's jar set carries no scala-compiler jar")
    return jars


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**", "*.scala"),
                               recursive=True))
    if not engine:
        sys.exit("build: no engine sources under src/main/scala")
    if not harness:
        sys.exit("build: no harness sources under perfbench/src")
    return engine + harness


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(spark_jars())
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        sys.exit(f"build: scalac exited with {r.returncode}")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


if __name__ == "__main__":
    print(build())
