#!/usr/bin/env python3
"""Driver-thread phase shares from a JFR execution-sample dump.

Reads the text that `jfr print --events jdk.ExecutionSample` writes (from a
file argument or stdin) and prints, for the sampled thread (default `main`),
the inclusive share of its samples that fall in each named driver phase and
in each `graft.*` frame. A sample counts toward a phase when any frame of its
stack matches the phase, so the shares overlap and need not sum to 1.

Record and dump (the recording's default stack depth of 64 cuts Spark's deep
planner stacks short, and `jfr print` shows 5 frames unless told otherwise):

    java -XX:FlightRecorderOptions=stackdepth=1024 \\
         -XX:StartFlightRecording=filename=driver.jfr,settings=profile ...
    jfr print --stack-depth 1024 --events jdk.ExecutionSample driver.jfr \\
        > samples.txt
    python3 scripts/driver_profile.py samples.txt [--since S] [--until S]

`--since`/`--until` bound the window in seconds after the first sample of
the dump (any thread), so a benchmark's set-up can be left out.

For an etlbench run's timed phase, take the figures from the run's artifact
(`etlbench/results/<workload>-seed<seed>-trace<t>.json`). The first sample
comes at JVM start, the input generator runs before the session and is
left out of `setup_s`, and the timed phase follows set-up. So pass
`--since <generator_ms / 1000 + setup_s>` and
`--until <generator_ms / 1000 + setup_s + timed_s>`.
"""

import argparse
import datetime
import re
import sys
from collections import Counter

# phase -> frame substrings; a frame matching any of them puts the sample in
# the phase
PHASES = [
    ("analysis", ["org.apache.spark.sql.catalyst.analysis.Analyzer."]),
    ("plan rendering for listeners", [
        "org.apache.spark.sql.execution.QueryExecution.explainString",
        "org.apache.spark.sql.execution.SparkPlanInfo$.fromSparkPlan"]),
    ("cache planning", [
        "org.apache.spark.sql.execution.CacheManager.",
        "org.apache.spark.sql.execution.columnar.InMemoryRelation"]),
    ("AQE re-optimize", [
        "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec.reOptimize"]),
    ("codegen", [
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
        "org.apache.spark.sql.execution.WholeStageCodegenExec.doCodeGen"]),
    ("MergeWriter commit/gc", [
        "graft.sources.MergeWriter$.commitLoop",
        "graft.sources.MergeWriter$.gc(",
        "graft.sources.MergeWriter$.gcGroup(",
        "graft.sources.MergeWriter$.maintainAfterWrite"]),
]

# `jfr print` adds the date only for events not on the current day
TIME = re.compile(r"startTime = (\d+):(\d+):(\d+)(?:\.(\d+))?"
                  r"(?: \((\d+)-(\d+)-(\d+)\))?")
THREAD = re.compile(r'sampledThread = "([^"]*)"')
GRAFT = re.compile(r"^(graft\.[\w.$]+)\(")


def samples(lines):
    """Yields (time, thread, frames) per jdk.ExecutionSample event."""
    t = thread = None
    frames, in_stack = [], False
    for raw in lines:
        line = raw.strip()
        if line.startswith("jdk.ExecutionSample"):
            t = thread = None
            frames, in_stack = [], False
        elif line.startswith("startTime ="):
            m = TIME.search(line)
            if m:
                h, mi, s, frac, y, mo, d = m.groups()
                t = datetime.datetime(int(y or 1970), int(mo or 1), int(d or 1),
                                      int(h), int(mi), int(s),
                                      int((frac or "0").ljust(6, "0")[:6]))
        elif line.startswith("sampledThread ="):
            m = THREAD.search(line)
            thread = m.group(1) if m else None
        elif line.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and line == "]":
            in_stack = False
        elif in_stack and line and line != "...":
            frames.append(line)
        elif line == "}" and t is not None:
            yield t, thread, frames
            t = None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dump", nargs="?", help="jfr print output (default stdin)")
    ap.add_argument("--since", type=float, default=None,
                    help="window start, seconds after the first sample")
    ap.add_argument("--until", type=float, default=None,
                    help="window end, seconds after the first sample")
    ap.add_argument("--thread", default="main", help="sampled thread name")
    ap.add_argument("--top", type=int, default=25,
                    help="graft.* frames to list")
    args = ap.parse_args()

    src = open(args.dump) if args.dump else sys.stdin
    with src:
        events = list(samples(src))
    if not events:
        sys.exit("no jdk.ExecutionSample events in the input")
    t0 = min(t for t, _, _ in events)

    def inside(t):
        off = (t - t0).total_seconds()
        return ((args.since is None or off >= args.since) and
                (args.until is None or off <= args.until))

    picked = [f for t, th, f in events if th == args.thread and inside(t)]
    n = len(picked)
    if n == 0:
        sys.exit(f"no samples of thread {args.thread!r} in the window")
    phase = Counter()
    graft = Counter()
    for frames in picked:
        for name, needles in PHASES:
            if any(any(x in f for x in needles) for f in frames):
                phase[name] += 1
        graft.update({m.group(1) for f in frames for m in [GRAFT.match(f)] if m})

    print(f"thread {args.thread!r}: {n} samples in the window "
          f"({len(events)} in the dump)")
    print("phase (inclusive share of the thread's samples)")
    for name, _ in PHASES:
        print(f"  {phase[name] / n:6.1%}  {phase[name]:6d}  {name}")
    print("graft.* frames (inclusive share)")
    for name, k in graft.most_common(args.top):
        print(f"  {k / n:6.1%}  {k:6d}  {name}")


if __name__ == "__main__":
    main()
