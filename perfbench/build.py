"""Build file of the benchmark package.

    python3 perfbench/build.py

Compiles the library (``src/main/scala``) and the harness
(``perfbench/harness``) with the Scala compiler that ships in Spark's jars,
into ``.bench_build/classes`` of the checkout it runs in (or
``$CARGO_TARGET_DIR``). It skips the compile when no source changed since
the last build. ``run.py`` calls it before every run.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build():
    """Compile src/main/scala and the harness with scalac; skip when the
    sources are unchanged since the last build."""
    sources = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not sources:
        fail("no src/main/scala here: run from the root of a checkout of the repository")
    if not glob.glob(os.path.join(SPARK_JARS, "spark-core_*.jar")):
        fail("Spark jars not found: set SPARK_HOME to the Spark install build.sbt uses")
    sources += sorted(glob.glob(os.path.join(BENCH, "harness/*.scala")))
    h = hashlib.sha256()
    for s in sources:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(SPARK_JARS, "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
                        "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
