#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala sources into one class directory.

Usage: python3 perfbench/build.py [--out DIR]   (from the repository root)

The Scala compiler and Spark come from the Spark distribution's jars
(`$SPARK_HOME/jars`, else the directory build.sbt's `unmanagedBase`
names, the jars graft's own build uses); nothing is fetched. The
output directory defaults to `$CARGO_TARGET_DIR` or `.bench_build`. A
build is skipped when a stamp of every source file's path and content
matches the previous one.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
        if os.path.isfile(sbt) else None
    if not m:
        raise SystemExit("perfbench build: set SPARK_HOME to a Spark distribution")
    return m.group(1)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("perfbench build: no graft sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))


def ensure(out=None):
    """Compile if the sources changed; return the class directory."""
    out = out or build_dir()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.stamp")
    if os.path.isfile(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench build: Spark jars not found at {jars}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    # cwd = the empty output dir: scalac's default classpath is ".", and the
    # repository root would expose perfbench/scala as a package
    r = subprocess.run(cmd, cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"perfbench build: scalac exited with {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=None)
    print(ensure(ap.parse_args().out))
