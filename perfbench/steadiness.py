#!/usr/bin/env python3
"""Run each workload repeatedly and report how steady its metrics are.

    python3 perfbench/steadiness.py --runs 10 [--workloads a,b] [--seed0 1] [--json out.json]

Each run uses the next seed. For every end-to-end metric the script prints
the median, the first and third quartiles (Python's
statistics.quantiles(values, n=4)) and the spread (Q3 - Q1) / median next
to the metric's bound in BENCHMARK.json. Each run also reports its CPU steal,
the time the hypervisor gave to other tenants, which explains most slow
outliers. These figures are the evidence the bounds rest on. Exits non-zero
if a run fails or returns a wrong result.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def cpu_steal():
    """(steal, total) jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other tenants in between."""
    if not before or not after or after[1] == before[1]:
        return float("nan")
    return (after[0] - before[0]) / (after[1] - before[1])


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--json", help="also write every run's result here")
    a = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    ok = True
    for w in a.workloads.split(","):
        runs = []
        for i in range(a.runs):
            seed = a.seed0 + i
            t, st = time.time(), cpu_steal()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True)
            wall, steal = time.time() - t, steal_share(st, cpu_steal())
            try:
                res = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                res = None
            if p.returncode != 0 or not res or not res["correct"]:
                ok = False
                print(f"{w} seed {seed}: FAILED (exit {p.returncode})", flush=True)
                continue
            res["seed"], res["wall_s"], res["cpu_steal"] = seed, wall, steal
            runs.append(res)
            print(f"{w} seed {seed}: {wall:.0f} s wall, {100 * steal:.0f}% steal, " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        report[w] = runs
        if len(runs) < 2:
            continue
        print(f"\n{w}: {len(runs)} runs, mean wall {statistics.mean(r['wall_s'] for r in runs):.1f} s")
        print(f"  {'metric':<16}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}{'bound':>8}")
        for m in runs[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            b = bounds.get(m)
            flag = "" if b is None or spread <= b / 3 else ("  > bound/3" if spread <= b else "  > BOUND")
            print(f"  {m:<16}{med:>14.5g}{q1:>14.5g}{q3:>14.5g}{spread:>9.3f}{b if b is not None else '-':>8}{flag}")
        print(flush=True)
    if a.json:
        with open(a.json, "w") as f:
            json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
