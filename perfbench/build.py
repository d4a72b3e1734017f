#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program
(`src/main/scala`) and the benchmark's own Scala sources (`perfbench/src`)
with the Scala compiler that ships with the Spark jars.

    python3 perfbench/build.py          # from the repository root

Classes land in `.bench_build/classes/{main,bench}`; each half is rebuilt
only when a hash of its sources changes. The Spark jars are `$SPARK_HOME/jars`,
or else the `unmanagedBase` directory the sbt build compiles against.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"


def spark_classpath():
    if "SPARK_HOME" in os.environ:
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            sys.exit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        sys.exit(f"build: no Spark jars under {jar_dir}")
    return jars


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(name, srcs, classpath, depends=""):
    """Compile `srcs` into .bench_build/classes/<name> unless the stamp
    already matches their hash (and the stamp of what they depend on)."""
    out = os.path.join(BUILD, "classes", name)
    stamp = out + ".stamp"
    want = digest(srcs) + depends
    if os.path.exists(stamp) and open(stamp).read() == want:
        return out, want
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [j for j in classpath if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.pathsep.join(classpath), "-d", out] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        sys.exit(f"build: compiling {name} failed")
    with open(stamp, "w") as f:
        f.write(want)
    return out, want


def build():
    """Returns the runtime classpath (program classes, benchmark classes,
    Spark jars)."""
    main_srcs = sources(os.path.join("src", "main", "scala"))
    if not main_srcs:
        sys.exit("build: no program sources under src/main/scala; run from the repository root")
    jars = spark_classpath()
    main, main_stamp = compile_tree("main", main_srcs, jars)
    bench, _ = compile_tree("bench", sources(os.path.join("perfbench", "src")), [main] + jars, main_stamp)
    return [main, bench] + jars


if __name__ == "__main__":
    print(os.pathsep.join(build()))
