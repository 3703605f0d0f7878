#!/usr/bin/env python3
"""Build graft and the benchmark with scalac from the Spark distribution.

The benchmark is its own package: it compiles graft's main sources
(`../src/main/scala`, unchanged) and then its own `src/*.scala` against
them, using the Scala compiler jar that ships with Spark
(`$SPARK_HOME/jars`, else the jar directory of graft's build.sbt).
Output goes to `out/classes/`; a stamp of the source hashes skips the
build when nothing changed.

Usage: python3 perfbench/build.py     (prints the run classpath)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out", "classes")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory graft's own build.sbt
    compiles against (its `unmanagedBase`)."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: set SPARK_HOME to a Spark 4.1 distribution")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(srcs, classpath, dest):
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit(f"perfbench: no Scala 2.13 compiler jars in {jars}")
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest,
           "-classpath", classpath, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    os.remove(argfile)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit(f"perfbench: scalac failed for {dest}")


def ensure():
    """Compile what is stale; return the run classpath."""
    graft_srcs = sources(GRAFT_SRC)
    if not graft_srcs:
        raise SystemExit(f"perfbench: no graft sources under {GRAFT_SRC}")
    jars = os.path.join(spark_jars(), "*")
    graft_out = os.path.join(OUT, "graft")
    bench_out = os.path.join(OUT, "bench")
    graft_hash = digest(graft_srcs)
    bench_hash = digest(sources(BENCH_SRC)) + graft_hash
    for dest, want, build in (
            (graft_out, graft_hash, lambda: scalac(graft_srcs, jars, graft_out)),
            (bench_out, bench_hash, lambda: scalac(
                sources(BENCH_SRC), os.pathsep.join([graft_out, jars]), bench_out))):
        stamp = dest + ".stamp"
        if os.path.exists(stamp) and open(stamp).read() == want:
            continue
        if os.path.exists(stamp):
            os.remove(stamp)
        build()
        if dest == graft_out and os.path.isdir(GRAFT_RES):
            shutil.copytree(GRAFT_RES, graft_out, dirs_exist_ok=True)
        with open(stamp, "w") as fh:
            fh.write(want)
    return os.pathsep.join([graft_out, bench_out, jars])


if __name__ == "__main__":
    print(ensure())
