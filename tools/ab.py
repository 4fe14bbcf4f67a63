"""Alternating A/B of query timings: a git revision against this checkout.

Usage: python tools/ab.py REV name [name ...] [--sf DIR] [--pairs N]

Checks REV out as a detached `git worktree` in a temporary directory
outside the repository and runs N pairs (default 5). A pair is one run of
`python <tree>/tools/bench_some.py --n 1 [--sf DIR] name ...` in REV's tree
("before") and one in this checkout ("after"), each a fresh process with
its own Spark session; the side that goes first alternates, so drift on
the box lands on both sides. A side's reading is bench_some's run seconds
(plan construction plus noop execution). Per name, one JSON line gives
each side's runs, median, q1, q3 and the pairs it won. The worktree is
removed when the run ends, also when it fails.

REV must contain the measure-based tools/bench_some.py (named_plans and
measure); an older bench_some resolves some names to other plans, so the
two sides would time different queries. The runner compares time only:
show that outputs did not change with check_oracle.py's per-entry digests.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def side_summary(mine: list[float], theirs: list[float]) -> dict:
    """One side's runs, median, quartiles and pairs won against the
    other side's runs (pair i is mine[i] vs theirs[i]; the lower time
    wins and a tie counts for neither)."""
    if len(mine) > 1:
        q1, med, q3 = statistics.quantiles(mine, n=4, method="inclusive")
    else:
        q1 = med = q3 = mine[0]
    return {"runs": mine, "median": round(med, 3), "q1": round(q1, 3),
            "q3": round(q3, 3),
            "won": sum(a < b for a, b in zip(mine, theirs))}


def run_side(tree: Path, args: list[str]) -> dict[str, float]:
    """One fresh bench_some process in `tree`: name -> run seconds."""
    proc = subprocess.run(
        [sys.executable, str(tree / "tools" / "bench_some.py"), "--n", "1",
         *args], cwd=tree, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.exit(f"bench_some failed in {tree}:\n{proc.stderr[-4000:]}")
    out: dict[str, float] = {}
    for line in proc.stdout.splitlines():
        if line.startswith("{"):
            for name, rec in json.loads(line).items():
                out[name] = rec["min"]
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("rev")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", help="data directory (bench_some's default)")
    ap.add_argument("--pairs", type=int, default=5)
    args = ap.parse_args()
    bench_args = (["--sf", args.sf] if args.sf else []) + args.names

    tmp = Path(tempfile.mkdtemp(prefix="melt_ab_"))
    before_tree = tmp / "tree"
    try:
        subprocess.run(["git", "-C", str(ROOT), "worktree", "add",
                        "--detach", str(before_tree), args.rev], check=True)
        trees = {"before": before_tree, "after": ROOT}
        runs: dict[str, dict[str, list[float]]] = {
            side: {n: [] for n in args.names} for side in trees}
        for i in range(args.pairs):
            order = ("before", "after") if i % 2 == 0 else ("after", "before")
            for side in order:
                for name, sec in run_side(trees[side], bench_args).items():
                    runs[side][name].append(sec)
            print(f"pair {i + 1}/{args.pairs} done ({order[0]} first)",
                  file=sys.stderr, flush=True)
        for name in args.names:
            b, a = runs["before"][name], runs["after"][name]
            print(json.dumps({
                "name": name,
                "before": {"rev": args.rev, **side_summary(b, a)},
                "after": {"rev": "checkout", **side_summary(a, b)}}))
    finally:
        subprocess.run(["git", "-C", str(ROOT), "worktree", "remove",
                        "--force", str(before_tree)])
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["git", "-C", str(ROOT), "worktree", "prune"])


if __name__ == "__main__":
    main()
