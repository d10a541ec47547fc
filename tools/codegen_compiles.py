#!/usr/bin/env python3
"""Count the Janino compiles of a run and their milliseconds, per span.

    python3 tools/codegen_compiles.py <stderr log> [<perfbench stdout>]

<stderr log> is the stderr of a JVM whose `CodeGenerator` logger is at
INFO, with each line stamped in epoch milliseconds: `codegen_log4j2.properties`
next to this script sets both. Every compile Spark runs logs one
`Code generated in <ms> ms` line; a class served from the codegen cache logs
none. With the stdout of a traced perfbench run (`--trace 1`), each compile
is charged to the innermost span of the record's `span_log` whose
[start_ms, end_ms] holds its timestamp; compiles before the first span are
the set-up and warm-up's, and those between spans are shown apart. Without
it, only the total is printed.

Capture a run without changing perfbench:

    JAVA_TOOL_OPTIONS="-Dlog4j2.configurationFile=$PWD/tools/codegen_log4j2.properties" \\
      python3 perfbench/run.py --workload llm_curation --seed 1202 --seconds 21 \\
      --trace 1 > run.out 2> run.err
    python3 tools/codegen_compiles.py run.err run.out
"""
import collections
import json
import re
import sys

COMPILE = re.compile(r"^(\d{13}) INFO CodeGenerator: Code generated in "
                     r"([0-9.]+) ms")


def compiles(stderr_path):
    """(epoch ms, compile ms) per logged compile, in log order."""
    out = []
    with open(stderr_path, encoding="utf-8", errors="replace") as f:
        for line in f:
            m = COMPILE.match(line)
            if m:
                out.append((int(m.group(1)), float(m.group(2))))
    return out


def span_log(stdout_path):
    """The traced record's span_log: dicts with name, start_ms, end_ms."""
    with open(stdout_path, encoding="utf-8") as f:
        for line in f:
            if line.startswith('{"record"'):
                log = json.loads(line)["record"].get("span_log")
                if log is None:
                    sys.exit(f"{stdout_path}: the record has no span_log "
                             "(run with --trace 1)")
                return log
    sys.exit(f"{stdout_path}: no record line")


def label(t, spans):
    """The name of the innermost span holding epoch ms `t`."""
    holding = [s for s in spans if s["start_ms"] <= t <= s["end_ms"]]
    if holding:
        return min(holding, key=lambda s: s["end_ms"] - s["start_ms"])["name"]
    if not spans or t < min(s["start_ms"] for s in spans):
        return "(before the measured window)"
    return "(between spans)"


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit("usage: " + __doc__.strip().splitlines()[2].strip())
    found = compiles(argv[1])
    if not found:
        sys.exit(f"{argv[1]}: no 'Code generated in' lines (is the "
                 "CodeGenerator logger at INFO?)")
    rows = collections.defaultdict(lambda: [0, 0.0])
    if len(argv) == 3:
        spans = span_log(argv[2])
        for t, ms in found:
            row = rows[label(t, spans)]
            row[0] += 1
            row[1] += ms
        print(f"{'compiles':>9} {'ms':>9}  span")
        for name, (n, ms) in sorted(rows.items(), key=lambda kv: -kv[1][0]):
            print(f"{n:>9} {ms:>9.1f}  {name}")
    print(f"{len(found):>9} {sum(ms for _, ms in found):>9.1f}  total")


if __name__ == "__main__":
    main(sys.argv)
