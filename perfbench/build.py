"""Build graft and the benchmark harness into perfbench/.build.

Compiles ``src/main/scala`` of the checkout together with
``perfbench/src`` with the Scala compiler that ships in Spark's jar
directory (see ``spark_jars``), into one class directory. A stamp holding the hash of every
source file makes a second call a no-op while nothing changed. No sbt
process starts, so build tool start-up never lands inside a run.

Usage: python3 perfbench/build.py        (prints the class directory)
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME, else the installation of a
    spark-submit on the PATH, else the jars bundled with pyspark."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.submodule_search_locations:
        homes += list(spec.submodule_search_locations)
    for h in homes:
        if h and glob.glob(os.path.join(h, "jars", "scala-compiler-*.jar")):
            return os.path.join(h, "jars")
    sys.exit("no Spark installation with a Scala compiler jar found; set SPARK_HOME")


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not graft:
        sys.exit(f"no graft sources under {ROOT}/src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return graft + own


def ensure_built():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return CLASSES
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return CLASSES


if __name__ == "__main__":
    print(ensure_built())
