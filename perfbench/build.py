"""Build file of the benchmark: compiles the engine's main sources together
with the benchmark's own sources into `perfbench/.build/<hash>/classes`.

It uses the Scala compiler that ships with Spark's jars ($SPARK_HOME/jars),
so the build needs no network and no build server. The output directory is
named after a hash of every source file, so an edit anywhere rebuilds and
an unchanged tree reuses the last build.

    python3 perfbench/build.py     # prints the class directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, ".build")
SCALA_VERSION = "2.13.17"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
        raise SystemExit("perfbench: no Spark jars with the Scala compiler; set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench: engine sources missing at {os.path.relpath(ENGINE_SRC)}")
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def build():
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(SCALA_VERSION.encode())
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    compiler = os.pathsep.join(
        os.path.join(jars, f"scala-{part}-{SCALA_VERSION}.jar")
        for part in ("compiler", "library", "reflect"))
    # the compiler expands no classpath wildcards: list the jars
    classpath = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
