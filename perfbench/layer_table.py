#!/usr/bin/env python3
"""Build the per-layer table from one traced and one untraced run per workload.

    python3 perfbench/layer_table.py [--seed 1] [--workloads a,b] [--out perfbench/LAYERS.md]

Each timed step's wall time is split exclusively between layers along the
timeline: at every instant the step is charged to the highest-priority
layer that has a span open, in the order spark job > plan phase > sink
render > control message > runner (processBatch/onTick self time) >
benchmark glue. Jobs overlap each other and the planning of concurrent
collects, so per-span self times alone would count some instants twice;
the exclusive split sums to the step time. The tracing overhead is the
traced run's median step latency minus the untraced run's.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

from steadiness import cpu_steal, steal_share


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACES = os.path.join(ROOT, ".bench_build", "perfbench", "traces")

LAYERS = [  # (layer, module, span-name prefixes), highest priority first
    ("spark execution", "agg.SketchAggregators partials in Spark jobs", ("spark.job",)),
    ("plan", "compile.* + Catalyst analysis/optimization/planning", ("plan.",)),
    ("sink", "streaming.Clip rendering", ("sink.render",)),
    ("control", "bql.Bql / streaming.QueryJson via handleMessage", ("control.handle",)),
    ("runner", "streaming.QueryRunner driver code", ("runner.",)),
    ("benchmark", "the benchmark's own step glue", ("step",)),
]
SHOWN = ["runner.busy_ms", "runner.driver_ms", "plan.executions", "plan.analysis_ms",
         "plan.optimization_ms", "plan.planning_ms", "codegen.compiles", "codegen.compile_ms",
         "spark.jobs", "spark.tasks", "spark.job_wall_ms", "spark.executor_run_ms",
         "spark.executor_cpu_ms", "spark.task_deser_ms", "spark.result_kb",
         "spark.shuffle_write_kb", "control.msgs", "control.handle_us_p50", "sink.clips",
         "sink.kb", "jvm.gc_ms", "gen.lag_ms_max", "gen.backlog_max"]


def layer_of(name):
    for i, (_, _, prefixes) in enumerate(LAYERS):
        if name.startswith(prefixes):
            return i
    return len(LAYERS) - 1


def exclusive_split(trace):
    """Milliseconds per layer over the timed steps, charged exclusively."""
    spans = trace["spans"]
    lo, hi = trace["timed_from_ms"], trace["timed_to_ms"]
    steps = [i for i, s in enumerate(spans) if s[0] == "step" and lo <= s[2] <= hi]
    by_group = {}
    for s in spans:
        by_group.setdefault(s[1], []).append(s)
    total = [0.0] * len(LAYERS)
    for i in steps:
        st, en = spans[i][2], spans[i][3]
        ivs = [(max(s[2], st), min(s[3], en), layer_of(s[0]))
               for s in by_group.get(spans[i][1], []) if s[3] > st and s[2] < en]
        cuts = sorted({st, en} | {x for a, b, _ in ivs for x in (a, b)})
        for a, b in zip(cuts, cuts[1:]):
            mid = (a + b) / 2
            active = [l for x, y, l in ivs if x <= mid < y]
            total[min(active) if active else len(LAYERS) - 1] += b - a
    return total, len(steps)


def run(workload, seed, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(SECONDS), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if p.returncode != 0 or not res["correct"]:
        sys.exit(f"{workload} trace={trace}: run failed")
    return res


def main():
    global SECONDS
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out", default=os.path.join(HERE, "LAYERS.md"))
    a = ap.parse_args()
    SECONDS = bench["run_seconds"]

    out = ["# Layer table of the seed", "",
           f"Generated by `python3 perfbench/layer_table.py --seed {a.seed}`: one traced and "
           f"one untraced {SECONDS} s run per workload, local[{os.cpu_count()}]. "
           "Milliseconds are per timed step. The exclusive split charges each instant of a "
           "step to one layer (priority: " + " > ".join(l[0] for l in LAYERS) + ").", ""]
    for w in a.workloads.split(","):
        st = cpu_steal()
        plain = run(w, a.seed, 0)
        run(w, a.seed, 1)
        steal = steal_share(st, cpu_steal())
        with open(os.path.join(TRACES, f"{w}-seed{a.seed}-trace1.json")) as f:
            trace = json.load(f)
        split, n = exclusive_split(trace)
        step_ms = sum(split)
        traced_p50 = statistics.median(trace["latency_ms"])
        plain_p50 = plain["metrics"]["batch_ms_p50"]["value"]
        dom = max(range(len(LAYERS)), key=lambda i: split[i])
        out += [f"## {w}", "",
                f"{n} timed steps. Dominant layer: **{LAYERS[dom][0]}** "
                f"({100 * split[dom] / step_ms:.0f}% of step time). "
                f"Tracing overhead on batch_ms_p50: {traced_p50 - plain_p50:+.1f} ms "
                f"(traced {traced_p50:.1f} ms, untraced {plain_p50:.1f} ms). "
                f"CPU steal during the two runs: {100 * steal:.0f}%.", "",
                "| layer | module | ms/step | share |", "|---|---|---:|---:|"]
        out += [f"| {name} | {mod} | {split[i] / n:.1f} | {100 * split[i] / step_ms:.1f}% |"
                for i, (name, mod, _) in enumerate(LAYERS)]
        out += ["", "Span self time (duration minus children; concurrent jobs overlap):", "",
                "| span | count/step | self ms/step |", "|---|---:|---:|"]
        out += [f"| {r['span']} | {r['count'] / n:.2f} | {r['self_per_step_ms']:.1f} |"
                for r in trace["layers"]]
        out += ["", "Counters (per step unless named otherwise):", "",
                "| metric | value |", "|---|---:|"]
        out += [f"| {m} | {trace['metrics'][m]['value']:.4g} {trace['metrics'][m]['unit']} |"
                for m in SHOWN]
        out.append("")
        print(f"{w}: dominant {LAYERS[dom][0]}, overhead {traced_p50 - plain_p50:+.1f} ms", flush=True)
    with open(a.out, "w") as f:
        f.write("\n".join(out))


if __name__ == "__main__":
    main()
