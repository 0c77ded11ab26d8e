#!/usr/bin/env python3
"""Paired benchmark runs: a parent revision against the working tree.

    python3 tools/bench_pairs.py --workload churn_bql --seeds 31-40 --seconds 30
    python3 tools/bench_pairs.py --workload mixed_1000q --seeds 1,2,3 --seconds 30 --parent HEAD~1

Each seed is one pair: `perfbench/run.py` runs once on the parent and once on
the working tree, unchanged, and the side that runs first alternates from pair
to pair. The parent is `git archive <rev>` unpacked into a temporary
directory outside the repository, new for every call and removed at the
end; the working tree runs in place. Each side builds its own engine on
its first run.

Per metric it prints each side's median and quartiles, the pairs the working
tree won (ties count for neither side; the direction is the metric's `better`
in BENCHMARK.json, lower when it is not listed), and whether the medians differ
by more than the parent's interquartile range. A gain is claimed only when the
working tree wins at least nine tenths of the pairs and the medians differ by
more than that range. It also reports, per side, whether every run was
correct, the operations that failed and the operations attempted.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec):
    """'31-40' or '1,2,5' (or a mix) as a list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return out


def directions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"] for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def quartiles(xs):
    """(q1, median, q3), inclusive method; a single value is its own quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def run(root, a, seed):
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.exit(f"bench_pairs: no result from {root} (seed {seed}, exit {p.returncode})")


def fmt(x):
    return f"{x:.3f}" if abs(x) < 10 else f"{x:.1f}" if abs(x) < 1e4 else f"{x:.0f}"


def report(a, runs):
    better = directions()
    sides = ("parent", "change")
    for side in sides:
        rs = runs[side]
        print(f"{side}: correct {sum(r.get('correct') is True for r in rs)}/{len(rs)}, "
              f"failed {[r.get('failed') for r in rs]}, attempted {[r.get('attempted') for r in rs]}")
    names = [m for m in runs["parent"][0]["metrics"] if all(m in r["metrics"] for r in runs["change"] + runs["parent"])]
    print(f"\n{a.workload}, {len(runs['parent'])} pairs, parent {a.parent}")
    print(f"{'metric':<24} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} {'won':>7}  apart > parent IQR")
    for m in names:
        vals = {s: [r["metrics"][m]["value"] for r in runs[s]] for s in sides}
        lower = better.get(m, "lower") == "lower"
        won = sum((c < p) if lower else (c > p) for p, c in zip(vals["parent"], vals["change"]))
        cells = []
        for s in sides:
            q1, med, q3 = quartiles(vals[s])
            cells.append(f"{fmt(med)} [{fmt(q1)}, {fmt(q3)}]")
        pq1, pmed, pq3 = quartiles(vals["parent"])
        apart = abs(quartiles(vals["change"])[1] - pmed) > (pq3 - pq1)
        print(f"{m:<24} {cells[0]:>30} {cells[1]:>30} {won:>3}/{len(vals['parent']):<3}  {'yes' if apart else 'no'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 31-40 or 1,2,3")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--parent", default="HEAD", help="revision to compare against (default HEAD)")
    a = ap.parse_args()

    parent = tempfile.mkdtemp(prefix="bench_pairs_parent_")
    runs = {"parent": [], "change": []}
    try:
        archive = subprocess.run(["git", "archive", a.parent], cwd=ROOT, stdout=subprocess.PIPE, check=True)
        subprocess.run(["tar", "-x", "-C", parent], input=archive.stdout, check=True)
        for k, seed in enumerate(seeds_of(a.seeds)):
            order = [("parent", parent), ("change", ROOT)]
            for side, root in (order if k % 2 == 0 else order[::-1]):
                r = run(root, a, seed)
                runs[side].append(r)
                print(f"seed {seed} {side}: correct {r.get('correct')} " + " ".join(
                    f"{m}={r['metrics'][m]['value']}" for m in ("batch_ms_p50", "records_per_s", "setup_s", "heap_mb")
                    if m in r.get("metrics", {})), flush=True)
    finally:
        shutil.rmtree(parent, ignore_errors=True)
    report(a, runs)


if __name__ == "__main__":
    main()
