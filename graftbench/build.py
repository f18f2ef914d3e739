#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (src/main/scala) together with
the benchmark's own (graftbench/src) with the Scala compiler that ships in the Spark
distribution, into .bench_build/graftbench/<digest>/classes. A build whose source digest
is already present is reused.

    python3 graftbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "graftbench", "src")]


def spark_jars():
    """The Spark jars to compile and run against: $SPARK_HOME/jars, else the
    `unmanagedBase` directory the repo's own build.sbt compiles graft against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return os.path.join(jars, "*")
    raise SystemExit("no Spark jars found; set SPARK_HOME")


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"missing source directory {os.path.relpath(d, ROOT)}")
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_built():
    """Returns (classes dir, source digest), compiling when needed."""
    files = sources()
    d = digest(files)
    out = os.path.join(ROOT, ".bench_build", "graftbench", d)
    classes = os.path.join(out, "classes")
    done = os.path.join(out, "ok")
    if os.path.exists(done):
        return classes, d
    os.makedirs(classes, exist_ok=True)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit("compilation failed")
    open(done, "w").close()
    return classes, d


if __name__ == "__main__":
    print(ensure_built()[0])
