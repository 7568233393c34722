"""Build file of the benchmark package.

Compiles the program's sources (``src/main/scala`` of the checkout) together
with the benchmark's own Scala sources (``perfbench/src``) into
``perfbench/.build/classes`` with the Scala compiler that ships in the Spark
distribution (``$SPARK_HOME/jars``, default ``/opt/spark``). No dependency is
resolved over the network. The build is skipped when a stamp of every source
file's path, size and mtime matches the previous build.

Run directly to build: ``python3 perfbench/build.py``.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    roots = [os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        st = os.stat(f)
        h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; raise SystemExit with a non-zero code on failure."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        print("perfbench: program sources src/main/scala/graft not found", file=log)
        raise SystemExit(2)
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        print(f"perfbench: compile failed ({r.returncode})", file=log)
        raise SystemExit(3)
    with open(STAMP, "w") as f:
        f.write(want)


if __name__ == "__main__":
    build()
