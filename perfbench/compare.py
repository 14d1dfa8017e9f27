"""Compare two sets of benchmark runs, or check the spread of one set.

    python3 perfbench/compare.py runs/parent runs/change
    python3 perfbench/compare.py runs/parent            # spread only

Each argument is a directory written by sweep.py. For every workload and
every end-to-end metric of BENCHMARK.json it reports each side's median and
quartiles, the spread (quartile distance over the median) and, for two
sets, the share of seed-paired runs each side wins and a verdict:

  improved    the change wins at least 9/10 of the pairs and the medians
              differ by more than the parent's quartile distance
  regressed   the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  the parent's spread is wider than the bound, so "no worse
              than the bound" cannot be told from noise (unless every run
              of the change beats every run of the parent: improved)
  same        none of the above

Exits 1 if any row is regressed (two sets) or any spread but setup_s's
exceeds its bound (one set).
"""

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(directory, workload):
    """seed -> metrics dict of the untraced runs of one workload."""
    path = os.path.join(directory, f"{workload}.jsonl")
    runs = {}
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                if r.get("trace", 0) == 0:
                    runs[r["seed"]] = {k: v["value"] for k, v in r["result"]["metrics"].items()}
    return runs


def summary(values):
    """(median, q1, q3, spread) with Python's default quartile method."""
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def worse_share(parent, change, better):
    """How much worse the change's median is, as a share of the parent's."""
    d = (change - parent) / parent if parent else 0.0
    return d if better == "lower" else -d


def verdict(a, b, better, bound):
    """Verdict for one metric: `a` parent values, `b` change values,
    both paired by position. Returns (verdict, a_wins, b_wins)."""
    wins_a = wins_b = 0
    for x, y in zip(a, b):
        if x == y:
            continue
        if (y < x) == (better == "lower"):
            wins_b += 1
        else:
            wins_a += 1
    n = len(list(zip(a, b)))
    ma, q1a, q3a, spread_a = summary(a)
    mb = statistics.median(b)
    all_better = (max(b) < min(a)) if better == "lower" else (min(b) > max(a))
    if n and wins_b >= 0.9 * n and abs(mb - ma) > (q3a - q1a):
        v = "improved"
    elif worse_share(ma, mb, better) > bound:
        v = "regressed"
    elif spread_a > bound and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return v, wins_a, wins_b


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    dirs = argv[1:]
    bad = 0
    for w in (x["name"] for x in bench["workloads"]):
        sets = [load(d, w) for d in dirs]
        seeds = sorted(set.intersection(*(set(s) for s in sets)))
        if not seeds:
            print(f"{w}: no runs")
            continue
        print(f"{w} ({len(seeds)} paired seeds)")
        for m in bench["end_to_end"]:
            name, better, bound = m["name"], m["better"], m["bound"]
            cols = [[s[seed][name] for seed in seeds] for s in sets]
            parts = []
            for values in cols:
                med, q1, q3, spread = summary(values)
                parts.append(f"{med:12.4g} [{q1:.4g}, {q3:.4g}] spread {spread:6.1%}")
            line = f"  {name:28s} " + " | ".join(parts)
            if len(cols) == 1:
                ok = name == "setup_s" or summary(cols[0])[3] <= bound
                line += f"  bound {bound:.0%} {'ok' if ok else 'TOO WIDE'}"
                bad += not ok
            else:
                v, wa, wb = verdict(cols[0], cols[1], better, bound)
                n = len(seeds)
                line += f"  wins {wa}/{n} vs {wb}/{n}  {v}"
                bad += v == "regressed"
            print(line)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
