"""Archive-verb benchmark: one run of one workload.

    python3 perfbench/run.py --workload livestream --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark from source on first use (see
build.py), then runs one JVM that sets the workload up, measures it for
`--seconds` and prints one JSON result line as the last line of stdout.
Run from the repository root. Everything it writes stays under
perfbench/.build, perfbench/.work and perfbench/.runs.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170
HEAP = "1g"

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# engine's build.sbt, from org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    """Local worker threads: the machine's CPUs, at most 4."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=workloads)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    classes = build.build()
    jars = build.spark_jars()
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    runs = os.path.join(HERE, ".runs")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(runs, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_LOCAL_IP": env.get("SPARK_LOCAL_IP", "127.0.0.1"),
    })
    cmd = ["java"] + [x for pkg in ADD_OPENS for x in ("--add-opens", f"{pkg}=ALL-UNNAMED")] + [
        # a fixed heap: a growing one made peak_rss_mb follow G1's sizing
        # choices (20 % apart between runs); heap use is live_heap_mb.
        # Touched before main, so no set-up or op pays the first-touch page
        # faults of fresh heap (about 400 000 of them otherwise, most
        # during set-up)
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        # C1 only: the JIT settles within the warm-up instead of drifting
        # through the timed window, which is most of the run-to-run spread;
        # a change whose gain needs the C2 compiler is not measured
        "-XX:TieredStopAtLevel=1",
        # no code-cache sweeps: about 40 s into a run the sweeper flushed
        # the compiled code it judged cold (most of it: every op is a
        # Spark job of generated code) and C1 compiled it all again, which
        # made one op in each run up to 2x slower
        "-XX:-UseCodeCacheFlushing",
        "-Dspark.ui.enabled=false",
        "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work,
        "--spans", os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}.spans.jsonl"),
    ]
    try:
        r = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                           text=True, timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {a.workload} exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if r.returncode != 0 or not lines or not lines[-1].startswith("{"):
        print(f"perfbench: {a.workload} exited {r.returncode}", file=sys.stderr)
        if lines:
            print(lines[-1], file=sys.stderr)
        return r.returncode or 4
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
