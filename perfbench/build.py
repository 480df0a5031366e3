#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (`src/main/scala`) together
with the benchmark's JVM harness (`perfbench/src`) with the Scala compiler
that ships with the Spark distribution's jars, into
`.bench_build/perfbench/classes`.

The build is skipped when a stamp over every source file matches the last
successful build. Usage: python3 perfbench/build.py  (from the repo root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"


def spark_jars(root="."):
    """The jars directory of the Spark distribution at $SPARK_HOME, else
    the one the project's build.sbt names as its unmanagedBase.
    """
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise RuntimeError("SPARK_HOME is not set and build.sbt names no unmanagedBase")
    return m.group(1)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    return main, bench


def build(root):
    """Compile if needed; return the classes directory. Raises on failure."""
    main, bench = sources(root)
    if not main:
        raise RuntimeError("no graft sources under src/main/scala: not a graft checkout")
    out = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars(root)
    compiler = [os.path.join(jars, f"scala-{n}-{SCALA_VERSION}.jar")
                for n in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*")] + main + bench
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except RuntimeError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
