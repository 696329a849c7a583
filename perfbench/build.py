#!/usr/bin/env python3
"""Compiles the graft library sources and the benchmark sources into one
class directory with the Scala compiler that ships with Spark.

    python3 perfbench/build.py [out_dir]

The class directory is keyed by a hash of every source file, so a build is
reused until a source changes. Prints the class directory.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """Classpath entry for the Spark install: $SPARK_HOME, else the one
    whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: set SPARK_HOME to a Spark install with a jars/ directory")
    return os.path.join(home, "jars", "*")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def build(out_dir):
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src", "main", "scala")) for s in srcs):
        sys.exit("perfbench: no library sources under src/main/scala; run from a graft checkout")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(out_dir, "classes-" + digest.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("perfbench: compilation failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in os.listdir(out_dir):
        if old.startswith("classes-") and os.path.join(out_dir, old) != tmp:
            shutil.rmtree(os.path.join(out_dir, old), ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    print(build(os.path.abspath(out)))
