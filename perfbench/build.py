#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala`) together with the benchmark's JVM harness
(`perfbench/scala`) with the Scala compiler that ships in Spark's jar
directory ($SPARK_HOME/jars, the same jars the root build compiles
against), into `.bench_build/perfbench/classes`.

A stamp over every source file's path and bytes makes a second build of
unchanged sources a no-op.

Usage: python3 perfbench/build.py [--root DIR]
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else ""
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("SPARK_HOME must point at a Spark 4 / Scala 2.13 "
                         "distribution whose jars/ holds scala-compiler")
    return jars


def sources(root):
    prog = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(prog, "graft")):
        raise BuildError(f"no program sources under {prog}: run from a "
                         "checkout of the whole repository")
    files = []
    for base in (prog, os.path.join(HERE, "scala")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(root):
    """Compile if needed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp, stamp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, stamp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", default=os.path.dirname(HERE))
    args = ap.parse_args()
    try:
        cp, stamp = build(os.path.abspath(args.root))
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2
    print(f"[perfbench] built {stamp[:12]}: {cp}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
