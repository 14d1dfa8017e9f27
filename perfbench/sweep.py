"""Run the benchmark on several seeds and keep every result line.

    python3 perfbench/sweep.py --out runs/parent --seeds 1-10
    python3 perfbench/sweep.py --out runs/trace --seeds 1 --trace 1

Writes <out>/<workload>.jsonl, one {"seed", "trace", "result"} object per
run, appending, so two calls with the same --out accumulate. The run length
defaults to BENCHMARK.json's run_seconds. compare.py reads these files.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--out", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    os.makedirs(a.out, exist_ok=True)
    failures = 0
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(s),
                   "--seconds", str(a.seconds), "--trace", str(a.trace)]
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                failures += 1
                print(f"{w} seed {s}: exit {r.returncode}", file=sys.stderr)
                continue
            with open(os.path.join(a.out, f"{w}.jsonl"), "a") as f:
                f.write(json.dumps({"seed": s, "trace": a.trace,
                                    "result": json.loads(lines[-1])}) + "\n")
            print(f"{w} seed {s}: done", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
