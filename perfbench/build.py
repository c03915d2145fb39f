#!/usr/bin/env python3
"""Build file of the shuffle benchmark.

Compiles the repository's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) using the Scala compiler that ships
in $SPARK_HOME/jars, against the Spark jars there. The output directory is
named after a hash of every source file, so an unchanged tree is not
rebuilt.

Usage: python3 perfbench/build.py [BUILD_DIR]   (run from the repo root;
BUILD_DIR defaults to $CARGO_TARGET_DIR, else .bench_build)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "*.jar")):
        sys.exit("perfbench build: no jars under $SPARK_HOME/jars")
    return home


def spark_jars():
    return sorted(glob.glob(os.path.join(spark_home(), "jars", "*.jar")))


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def build(root, out):
    """Return the classes directory for the current sources, compiling if needed."""
    repo = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"),
                           recursive=True))
    if not repo or not own:
        sys.exit("perfbench build: src/main/scala or perfbench/src not found; "
                 "run from the root of a full checkout")
    digest = hashlib.sha256()
    for path in repo + own:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(out, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(repo + own) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + out,
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars), "@" + argfile]
    if subprocess.run(cmd, cwd=root).returncode != 0:
        sys.exit("perfbench build: compilation failed")
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    root = os.getcwd()
    out = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else build_dir(root)
    os.makedirs(out, exist_ok=True)
    print(build(root, out))
