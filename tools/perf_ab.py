"""Alternating A/B of the archive-verb benchmark: a parent ref against the working tree.

    python3 tools/perf_ab.py --parent HEAD~1 --seeds 1-10 --out runs
    python3 tools/perf_ab.py --parent-dir ../parent-checkout --seeds 1-3

For each seed it runs `perfbench/sweep.py --seeds <s>`, every workload of
BENCHMARK.json, in the parent tree (into <out>/parent) and in the working
tree (into <out>/change), the parent first on the first seed and the side
that goes first alternating from seed to seed, so the two sides share the
machine's slow and fast spells instead of one side taking all of one.
Then it runs `perfbench/compare.py <out>/parent <out>/change` from the
working tree and exits with its status.

The parent tree is a temporary `git worktree` of --parent, removed at the
end; --parent-dir uses an existing checkout instead. Each tree builds its
own sources (perfbench/build.py), so the first seed of each side also pays
one compile, outside the timed window. Run from the repository root.
"""

import argparse
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def sweep(tree, out, seed):
    cmd = [sys.executable, os.path.join(tree, "perfbench", "sweep.py"),
           "--out", out, "--seeds", str(seed)]
    return subprocess.run(cmd, cwd=tree).returncode


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--parent", default="HEAD~1", help="git ref of the parent side")
    p.add_argument("--parent-dir", help="an existing checkout of the parent side")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out", default="runs")
    a = p.parse_args()

    out = os.path.abspath(a.out)
    worktree = None
    parent = a.parent_dir and os.path.abspath(a.parent_dir)
    if not parent:
        worktree = tempfile.mkdtemp(prefix="perf_ab-parent-")
        subprocess.run(["git", "worktree", "add", "--detach", worktree, a.parent],
                       cwd=ROOT, check=True)
        parent = worktree
    failures = 0
    try:
        for i, s in enumerate(seeds(a.seeds)):
            sides = [(parent, "parent"), (ROOT, "change")]
            for tree, side in sides if i % 2 == 0 else sides[::-1]:
                failures += sweep(tree, os.path.join(out, side), s) != 0
    finally:
        if worktree:
            subprocess.run(["git", "worktree", "remove", "--force", worktree], cwd=ROOT)
    if failures:
        print(f"perf_ab: {failures} sweep call(s) had failed runs", file=sys.stderr)
    r = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "compare.py"),
                        os.path.join(out, "parent"), os.path.join(out, "change")], cwd=ROOT)
    return r.returncode or (1 if failures else 0)


if __name__ == "__main__":
    sys.exit(main())
