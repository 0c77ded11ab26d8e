#!/usr/bin/env python3
"""Where a runner micro-batch spends its CPU, from a JFR recording.

    python3 tools/jfr_phases.py <recording.jfr>

Groups the driver (main) thread's execution samples under
`QueryRunner.processBatch` into the runner's phases, by the outermost
frame below `processBatch` that names one:

    plan         indexMembers, planShared/planIndexed/planGrouped, the memo
    pass launch  BatchPass.run: the batch select, its RDD, the job submission
    task merge   the tasks' buffers merged per job, and its driver-side folds
    APPLY        each query's merge of its class's state (mergePartial, applyGrouped)
    lifecycle    window emission, expiry and rate limits
    other        anything else under processBatch

and counts the executor threads' samples: all of them, those in task
deserialization (`ObjectInputStream.readObject`), those in RAW's `to_json`
(`StructsToJsonEvaluator`, `JacksonGenerator`) and those in the pass's task
body (`BatchPass$Task.apply`). It prints one row per phase. JFR samples
running threads only, so a driver parked on the Spark job is not counted.

Recording recipe (perfbench's timed phase; the defaults hide the runner):

    sed 's/"method-sampling-java-interval">10 ms</"method-sampling-java-interval">1 ms</' \\
        $JAVA_HOME/lib/jfr/profile.jfc > /tmp/profile-1ms.jfc
    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=1024 \\
      -XX:StartFlightRecording=filename=/tmp/run.jfr,settings=/tmp/profile-1ms.jfc" \\
      python3 perfbench/run.py --workload churn_bql --seed 1 --seconds 30 --trace 0

Build the benchmark first (one run without the variable), or the recording
also covers sbt. The script exports the samples itself with
`jfr print --json --events jdk.ExecutionSample --stack-depth 400`: the
default depth of 5 hides every runner frame. It parses the export one event
at a time, so a long recording needs little memory.
"""
import json
import subprocess
import sys

PHASES = [  # (phase, frame name prefixes), checked outermost frame first
    ("plan", ("graft.streaming.QueryRunner.indexMembers", "graft.streaming.QueryRunner.plan",
              "graft.streaming.QueryRunner.memoJob", "graft.streaming.QueryRunner.analyze",
              "graft.streaming.QueryRunner$JobAggregate", "graft.streaming.QueryRunner$PlanMemo")),
    ("pass launch", ("graft.streaming.BatchPass$.run",)),
    ("task merge", ("graft.streaming.QueryRunner$Planned.apply", "graft.streaming.BatchPass$Job.merge",
                    "graft.streaming.BatchPass$Shared.merge", "graft.streaming.BatchPass$Indexed.merge",
                    "graft.streaming.BatchPass$Grouped.merge", "graft.streaming.QueryRunner.readSlots")),
    ("APPLY", ("graft.streaming.QueryRunner.mergePartial", "graft.streaming.QueryRunner.applyGrouped",
               "graft.streaming.QueryRunner.failQuery")),
    ("lifecycle", ("graft.streaming.QueryRunner.lifecycle",)),
]
BATCH = "graft.streaming.QueryRunner.processBatch"
EXECUTOR = [  # (row, frame name prefixes), any frame of the sample
    ("task deserialization", ("java.io.ObjectInputStream.readObject",)),
    ("to_json", ("org.apache.spark.sql.catalyst.expressions.json.StructsToJsonEvaluator",
                 "org.apache.spark.sql.catalyst.json.JacksonGenerator")),
    ("BatchPass task body", ("graft.streaming.BatchPass$Task.apply",)),
]


def events(path):
    """The recording's execution samples, one decoded event at a time."""
    p = subprocess.Popen(["jfr", "print", "--json", "--events", "jdk.ExecutionSample",
                          "--stack-depth", "400", path], stdout=subprocess.PIPE, text=True)
    dec = json.JSONDecoder()
    buf, started = "", False
    for chunk in iter(lambda: p.stdout.read(1 << 20), ""):
        buf += chunk
        if not started:
            at = buf.find('"events"')
            if at < 0:
                continue
            at = buf.find("[", at)
            if at < 0:
                continue
            buf, started = buf[at + 1:], True
        while True:
            rest = buf.lstrip(" \t\r\n,")
            if not rest.startswith("{"):
                buf = rest
                break
            try:
                ev, end = dec.raw_decode(rest)
            except ValueError:  # the event continues in the next chunk
                buf = rest
                break
            buf = rest[end:]
            yield ev
    if p.wait() != 0:
        sys.exit(f"jfr_phases: jfr print failed on {path}")


def frames(ev):
    """The sample's frames as `pkg.Class.method`, innermost first."""
    st = ev["values"].get("stackTrace") or {}
    out = []
    for f in st.get("frames", []):
        m = f.get("method") or {}
        out.append(f'{(m.get("type") or {}).get("name", "?").replace("/", ".")}.{m.get("name", "?")}')
    return out


def thread(ev):
    t = ev["values"].get("sampledThread") or {}
    return t.get("javaName") or t.get("osName") or ""


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    driver = {name: 0 for name, _ in PHASES}
    driver["other"] = 0
    executor = {name: 0 for name, _ in EXECUTOR}
    executor_all = 0
    for ev in events(sys.argv[1]):
        fs = frames(ev)
        name = thread(ev)
        if name == "main" and BATCH in fs:
            below = reversed(fs[:fs.index(BATCH)])  # outermost first
            phase = next((ph for f in below for ph, pre in PHASES if f.startswith(pre)), "other")
            driver[phase] += 1
        elif name.startswith("Executor task launch worker"):
            executor_all += 1
            for row, pre in EXECUTOR:
                if any(f.startswith(pre) for f in fs):
                    executor[row] += 1
    total = sum(driver.values())
    print(f"{'thread':<9} {'phase':<22} {'samples':>8} {'share':>7}")
    for phase, n in driver.items():
        print(f"{'driver':<9} {phase:<22} {n:>8} {n / max(total, 1):>7.1%}")
    print(f"{'driver':<9} {'processBatch, all':<22} {total:>8}")
    for row, n in executor.items():
        print(f"{'executor':<9} {row:<22} {n:>8} {n / max(executor_all, 1):>7.1%}")
    print(f"{'executor':<9} {'all':<22} {executor_all:>8}")


if __name__ == "__main__":
    main()
