#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload mixed_1000q --seed 1 --seconds 15 --trace 0

The first run builds the engine's sources together with the benchmark
program (an sbt project in this directory) and caches the classpath; later
runs reuse it until a source file changes. Each run starts one JVM with a
local[N] Spark session, N = the number of CPUs, and prints its JSON result
as the last line of stdout. The exit code is non-zero when a result
is wrong, the build fails or the run times out.

Everything a run writes stays inside the checkout: build output under
perfbench/target and perfbench/project, run output under .bench_build/perfbench.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# C1 only: C2 keeps recompiling Spark's driver and generated code for
# minutes, so under it step times fell by a quarter across a run and the
# timed phase measured the JIT's progress. C1 settles within the set-up.
JVM_OPTS = [
    "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every input of the build: path, size and mtime."""
    h = hashlib.sha1()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    if not os.path.isdir(ENGINE_SRC):
        fail("engine sources not found at " + os.path.relpath(ENGINE_SRC, ROOT))
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=lf,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out; see " + log)
    lines = [l for l in p.stdout.splitlines() if os.pathsep in l and ".jar" in l]
    with open(log, "a") as lf:
        lf.write(p.stdout)
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    a = ap.parse_args()

    cp = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    for d in ("logs", "traces", "tmp", "spark-local"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    cmd = (["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"),
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--cpus", str(a.cpus),
           "--local-dir", os.path.join(OUT, "spark-local")])
    if a.trace == "1":
        cmd += ["--trace-out", os.path.join(OUT, "traces", tag + ".json")]
    log = os.path.join(OUT, "logs", tag + ".log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf,
                               stdin=subprocess.DEVNULL, text=True, timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run timed out after {RUN_TIMEOUT_S} s; see {log}", 3)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"no result (exit {p.returncode}); see {log}", 4)
    with open(log) as lf:
        for line in lf:
            if line.startswith(("MISMATCH", a.workload + ":", "step ")):
                sys.stderr.write(line)
    print(json.dumps(result))
    sys.exit(p.returncode if p.returncode != 0 else (0 if result.get("correct") else 1))


if __name__ == "__main__":
    main()
