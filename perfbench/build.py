#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources together
with the benchmark's own Scala sources into ``.bench_build/classes``,
using the Scala compiler that ships with the Spark distribution.

    python3 perfbench/build.py        # from the repository root

Spark's jar directory is ``$SPARK_HOME/jars``, or else the directory the
program's ``build.sbt`` names as ``unmanagedBase``. A build is skipped
when the sources are unchanged since the last one (a hash stamp).
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src", "main", "scala")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    sys.exit("perfbench: no Spark jar directory (set SPARK_HOME)")


def sources():
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files
                    if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    srcs = sources()
    if not any(p.startswith(SOURCE_DIRS[0]) for p in srcs):
        sys.exit("perfbench: the program's sources are missing")
    digest = stamp(srcs)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return classpath
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        sys.exit("perfbench: no Scala compiler jar in " + jars)
    tmp = f"{CLASSES}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp",
           os.pathsep.join(c[0] for c in compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(digest)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return classpath


if __name__ == "__main__":
    print(build())
