#!/usr/bin/env python3
"""Build file of the benchmark: compiles the project (src/main/scala) and the
harness (perfbench/scala) into one class directory with the Scala compiler
that ships among the Spark jars, so no dependency resolution is needed.

Usage: python3 perfbench/build.py   (from the repository root)

The classes land in $CARGO_TARGET_DIR/perfbench/classes when that is set,
else in .bench_build/perfbench/classes. A stamp of the source digest skips
the compile when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "scala")]


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, base, "perfbench")


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the directory the
    sbt build declares as unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        for line in open(sbt):
            if line.strip().startswith("unmanagedBase"):
                path = line.split('file("', 1)[1].split('"', 1)[0]
                if os.path.isdir(path):
                    return path
    raise SystemExit("build: no Spark jars found (set SPARK_HOME)")


def scala_files():
    files = []
    for d in SOURCES:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compile if the sources changed; return the class directory."""
    files = scala_files()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp_val = digest.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == stamp_val:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    tmp = os.path.join(build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(stamp_val)
    return out


if __name__ == "__main__":
    print(build())
