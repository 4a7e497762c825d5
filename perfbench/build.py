#!/usr/bin/env python3
"""Builds the benchmark: compiles the graft sources (src/main/scala) and the
benchmark's own sources (perfbench/src) with the Scala compiler shipped in
Spark's jars into <build>/perfbench.jar. Skips the compile when the sources
have not changed since the last build.

Usage: python3 perfbench/build.py [build_dir]   (default .bench_build)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

SOURCES = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else beside spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources(root):
    files = []
    for d in SOURCES:
        base = os.path.join(root, d)
        if not os.path.isdir(base):
            sys.exit(f"perfbench: missing source directory {d}")
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(root=".", build_dir=".bench_build"):
    """Returns (jar path, source stamp), compiling first if needed."""
    jars = spark_jars()
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    jar = os.path.join(build_dir, "perfbench.jar")
    stamp_file = jar + ".stamp"
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return jar, stamp
    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + files
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if done.returncode != 0:
        sys.exit(f"perfbench: compile failed ({done.returncode})")
    # a jar, not a directory: class data sharing archives only jar classes
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, names in os.walk(classes):
            for n in sorted(names):
                path = os.path.join(dirpath, n)
                z.write(path, os.path.relpath(path, classes))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return jar, stamp


if __name__ == "__main__":
    print(build(build_dir=sys.argv[1] if len(sys.argv) > 1 else ".bench_build")[0])
