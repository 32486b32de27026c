#!/usr/bin/env python3
"""Per-SQL-execution census of an uncompressed Spark event log.

The log is a file, or a rolling log's directory (`eventlog_v2_*`, what
Spark 4 writes by default), whose `events_<n>_*` files are read in order.
Prints one line per SQL execution, in start order: its id, label (the job
description the engine set, e.g. `graft.touched`, else Spark's call-site
description), wall time, the number of jobs it ran, the number of AQE plan
updates, and the size of its physical-plan description in bytes (the text
Spark renders at start and again at each AQE update). A last line sums the
columns. `--since`/`--until` bound the executions by start time, in seconds
after the first event of the log.

Record a log from an etlbench run on a scratch copy of the repository, so
the benchmark's files stay as they are:

    git archive HEAD | tar -x -C <copy>
    # add to the `jvm` list in <copy>/etlbench/run.py:
    #   "-Dspark.eventLog.enabled=true", "-Dspark.eventLog.compress=false",
    #   "-Dspark.eventLog.dir=<dir>",
    mkdir -p <dir>
    cd <copy> && python3 etlbench/run.py --workload sync --seed 421 \\
        --seconds 15 --trace 0
    python3 scripts/eventlog_census.py <dir>/eventlog_v2_local-*

To look only at the timed phase, take the figures from the run's artifact
(`etlbench/results/<workload>-seed<seed>-trace<t>.json`): the log starts
with the session, about `session_s` into `setup_s`, and the timed phase
follows set-up, so pass `--since <setup_s - session_s>` and
`--until <setup_s - session_s + timed_s>`.
"""

import argparse
import json
import os
import sys

SQL = "org.apache.spark.sql.execution.ui."
START = SQL + "SparkListenerSQLExecutionStart"
END = SQL + "SparkListenerSQLExecutionEnd"
AQE = SQL + "SparkListenerSQLAdaptiveExecutionUpdate"


def census(lines):
    """Returns (first event time in ms, {execution id: record}) for a log."""
    execs = {}
    t0 = None
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        t = ev.get("time", ev.get("Timestamp", ev.get("Submission Time")))
        if t0 is None and isinstance(t, int):
            t0 = t
        if kind == START:
            execs[ev["executionId"]] = {
                "label": ev.get("description") or "",
                "start": ev["time"], "end": None, "jobs": 0, "updates": 0,
                "plan_bytes": len(ev.get("physicalPlanDescription", "")
                                  .encode("utf-8"))}
        elif kind == END and ev["executionId"] in execs:
            execs[ev["executionId"]]["end"] = ev["time"]
        elif kind == AQE and ev["executionId"] in execs:
            execs[ev["executionId"]]["updates"] += 1
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            if eid is not None and int(eid) in execs:
                execs[int(eid)]["jobs"] += 1
    return t0, execs


def log_lines(path):
    """Yields the lines of a log file, or of a rolling log directory's
    event files in index order."""
    if os.path.isdir(path):
        files = sorted((n for n in os.listdir(path) if n.startswith("events_")),
                       key=lambda n: int(n.split("_")[1]))
        paths = [os.path.join(path, n) for n in files]
    else:
        paths = [path]
    for p in paths:
        with open(p, encoding="utf-8") as f:
            yield from f


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log", help="uncompressed Spark event log file or "
                                "rolling log directory")
    ap.add_argument("--since", type=float, default=None,
                    help="first start time kept, s after the log's first event")
    ap.add_argument("--until", type=float, default=None,
                    help="last start time kept, s after the log's first event")
    args = ap.parse_args(argv)
    t0, execs = census(log_lines(args.log))
    t0 = t0 or 0

    def kept(r):
        s = (r["start"] - t0) / 1000.0
        return ((args.since is None or s >= args.since) and
                (args.until is None or s <= args.until))

    rows = [(eid, r) for eid, r in sorted(execs.items(),
                                          key=lambda kv: kv[1]["start"])
            if kept(r)]
    print(f"{'id':>5} {'start_s':>8} {'wall_ms':>8} {'jobs':>5} "
          f"{'aqe_upd':>7} {'plan_bytes':>10}  label")
    tot = {"wall": 0, "jobs": 0, "updates": 0, "plan_bytes": 0}
    for eid, r in rows:
        wall = (r["end"] - r["start"]) if r["end"] is not None else 0
        tot["wall"] += wall
        tot["jobs"] += r["jobs"]
        tot["updates"] += r["updates"]
        tot["plan_bytes"] += r["plan_bytes"]
        label = " ".join(r["label"].split())[:80]
        print(f"{eid:>5} {(r['start'] - t0) / 1000.0:>8.2f} {wall:>8} "
              f"{r['jobs']:>5} {r['updates']:>7} {r['plan_bytes']:>10}  {label}")
    print(f"{'total':>5} {'':>8} {tot['wall']:>8} {tot['jobs']:>5} "
          f"{tot['updates']:>7} {tot['plan_bytes']:>10}  {len(rows)} executions")
    return 0


if __name__ == "__main__":
    sys.exit(main())
