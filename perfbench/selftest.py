"""The benchmark's own tests: the Scala self-test (generator determinism and
tallies, percentile and self-time arithmetic) and compare.py's verdicts.

    python3 perfbench/selftest.py
"""

import os
import subprocess
import sys

import build

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    classes = build.build()
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    scala = subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData", "-cp", cp, "perfbench.SelfTest"])
    py = subprocess.run([sys.executable, os.path.join(HERE, "test_compare.py")])
    return 1 if scala.returncode or py.returncode else 0


if __name__ == "__main__":
    sys.exit(main())
