#!/usr/bin/env python3
"""Count the Spark jobs of a run per call site, grouped by span.

    python3 tools/spark_jobs.py <eventlog> [<perfbench stdout>]

<eventlog> is one Spark event log, plain or `.zstd` (read through the `zstd`
binary): a file, or the directory of a rolling log (`eventlog_v2_*`, the
default with Spark 4). With the stdout of a traced perfbench run (`--trace 1`),
each job is charged to the span whose id is its job group (the record
line's `span_log` names them); jobs of spans outside the measured window
(set-up and warm-up) and jobs outside any span are shown apart. Without
it, jobs are grouped by raw job group. Per-span totals are the traced
record's own `spark.jobs` figures; this script adds which call sites make
them up.

A job's call site is the action that submitted it, read off its SQL
execution's stack when it has one (adaptive execution submits shuffle
stages from a pool thread, so those stages' own names point at no
caller): `localCheckpoint at Sink.scala:120 < Sink.scala:80` names the
action, the first frame past Spark's API, and that frame's caller.
Jobs outside an SQL execution are named by their last stage.

Capture a log without changing perfbench:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/tmp/ev" \\
      python3 perfbench/run.py --workload stream_cdc --seed 1202 --seconds 21 \\
      --trace 1 > run.out
    python3 tools/spark_jobs.py /tmp/ev/eventlog_v2_local-* run.out
"""
import collections
import json
import os
import subprocess
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def log_files(path):
    """The file itself, or the `events_<n>_*` files of a rolling
    (`eventlog_v2_*`) log directory in index order."""
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def events(path):
    for part in log_files(path):
        if part.endswith(".zstd"):
            text = subprocess.run(["zstd", "-dcq", part], check=True,
                                  capture_output=True).stdout.decode("utf-8")
        else:
            with open(part, encoding="utf-8") as f:
                text = f.read()
        for line in text.splitlines():
            if line.strip():
                yield json.loads(line)


def span_names(stdout_path):
    """span id -> span name from the record line of a traced run."""
    with open(stdout_path, encoding="utf-8") as f:
        for line in f:
            if line.startswith('{"record"'):
                log = json.loads(line)["record"].get("span_log")
                if log is None:
                    sys.exit(f"{stdout_path}: the record has no span_log "
                             "(run with --trace 1)")
                return {str(s["id"]): s["name"] for s in log}
    sys.exit(f"{stdout_path}: no record line")


def frame(line):
    """`pkg.Class.method(File.scala:12)` -> (method, `File.scala:12`)."""
    head, _, loc = line.partition("(")
    return head.rsplit(".", 1)[-1], loc.rstrip(")")


def call_site(start):
    """An SQL execution's action as Spark's short call site (`method at
    File:line`, the first frame past Spark's API) plus the frame that
    called it; its description (the job group's, when one is set) if the
    stack is missing."""
    stack = [l for l in (start.get("details") or "").splitlines() if l]
    if len(stack) < 2:
        return start.get("description", "")
    site = f"{frame(stack[0])[0]} at {frame(stack[1])[1]}"
    return site + (f" < {frame(stack[2])[1]}" if len(stack) > 2 else "")


def jobs_of(path):
    """(job group, call site) per job, in submission order."""
    actions = {}
    out = []
    for e in events(path):
        kind = e.get("Event")
        if kind == SQL_START:
            actions[str(e["executionId"])] = call_site(e)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            site = actions.get(str(props.get("spark.sql.execution.id")))
            if not site:
                stages = e.get("Stage Infos") or []
                site = stages[-1]["Stage Name"] if stages else "?"
            out.append((props.get("spark.jobGroup.id"), site))
    return out


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit("usage: " + __doc__.strip().splitlines()[2].strip())
    names = span_names(argv[2]) if len(argv) == 3 else None

    def label(group):
        if group in (None, "", "0"):
            return "(no span)"
        if names is None:
            return f"job group {group}"
        return names.get(group, "(outside the measured window)")

    per_site = collections.defaultdict(collections.Counter)
    for group, site in jobs_of(argv[1]):
        per_site[label(group)][site] += 1
    for span, sites in sorted(per_site.items(),
                              key=lambda kv: -sum(kv[1].values())):
        print(f"\n{span}")
        for site, n in sites.most_common():
            print(f"  {n:>5}  {site}")


if __name__ == "__main__":
    main(sys.argv)
