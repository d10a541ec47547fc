#!/usr/bin/env python3
"""Interleaved same-host A/B of two checkouts on one perfbench workload.

    python3 tools/perfbench_ab.py <parent_dir> <change_dir> \\
        --workload stream_cdc --pairs 10 --seed-base 15001 [--seconds 21] \\
        [--out ab.json]

Each directory is a full checkout (its own perfbench/run.py builds its own
sources). Pair i runs both sides untraced (`--trace 0`) with seed
seed-base + i; the side that runs first alternates from pair to pair, so a
drift of the host over the session does not favour one side. The run
length defaults to `run_seconds` in BENCHMARK.json.

For every end-to-end metric in BENCHMARK.json it prints each side's median
[p25-p75], the relative change of the medians and the pairs the change won
(ties count for neither side). A change median worse than the parent's by
more than the metric's bound is flagged OUT OF BOUND. A metric is marked
CLAIMABLE when the change won at least nine tenths of the pairs and its
median is better than the parent's by more than the parent's interquartile
range.

Exit status: 1 when any run failed, was incorrect or had failed operations;
otherwise 2 when a metric is out of bound; otherwise 0.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def load_benchmark(dirs):
    for d in dirs:
        p = os.path.join(d, "BENCHMARK.json")
        if os.path.exists(p):
            with open(p) as fh:
                return json.load(fh)
    sys.exit("perfbench_ab: no BENCHMARK.json in either directory")


def run_once(side_dir, workload, seed, seconds):
    """One untraced run; returns the result object, or None on a crash."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=side_dir, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def value(result, metric):
    v = result["metrics"].get(metric)
    return v.get("value") if isinstance(v, dict) else v


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def fmt(x):
    return f"{x:.4g}" if abs(x) < 1000 else f"{x:.0f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out", help="write every run's result object here")
    a = ap.parse_args()
    bench = load_benchmark([a.change_dir, a.parent_dir])
    seconds = a.seconds or bench["run_seconds"]
    sides = {"parent": a.parent_dir, "change": a.change_dir}
    runs = {"parent": [], "change": []}
    bad = []
    for i in range(a.pairs):
        seed = a.seed_base + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run_once(sides[side], a.workload, seed, seconds)
            runs[side].append(r)
            if r is None:
                bad.append(f"{side} seed {seed}: run failed")
            elif not r.get("correct") or r.get("failed", 0):
                bad.append(f"{side} seed {seed}: correct={r.get('correct')} "
                           f"failed={r.get('failed')}/{r.get('attempted')}")
            print(f"[pair {i + 1}/{a.pairs} seed {seed}] {side} done",
                  file=sys.stderr, flush=True)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "seed_base": a.seed_base,
                       "seconds": seconds, "runs": runs}, fh, indent=1)

    ok = [i for i in range(a.pairs)
          if runs["parent"][i] is not None and runs["change"][i] is not None]
    print(f"{a.workload}: {len(ok)} complete pairs of {a.pairs}, "
          f"seeds {a.seed_base}-{a.seed_base + a.pairs - 1}, {seconds} s runs")
    print(f"{'metric':16s} {'parent':>24s} {'change':>24s} {'delta':>8s} "
          f"{'wins':>6s}  verdict")
    spread = lambda m, lo, hi: f"{fmt(m)} [{fmt(lo)}-{fmt(hi)}]"
    out_of_bound = False
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(value(runs["parent"][i], name), value(runs["change"][i], name))
                 for i in ok]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            continue
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        pm, cm = statistics.median(ps), statistics.median(cs)
        (p25, p75), (c25, c75) = quartiles(ps), quartiles(cs)
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        delta = (cm - pm) / pm if pm else 0.0
        worse = delta if lower else -delta
        verdict = []
        if worse > m["bound"]:
            verdict.append(f"OUT OF BOUND (> {m['bound']:.0%})")
            out_of_bound = True
        gain = pm - cm if lower else cm - pm
        if wins >= 0.9 * len(pairs) and gain > p75 - p25:
            verdict.append("CLAIMABLE")
        print(f"{name:16s} {spread(pm, p25, p75):>24s} "
              f"{spread(cm, c25, c75):>24s} {delta:+8.1%} "
              f"{wins:>3d}/{len(pairs):<2d}  {' '.join(verdict)}")
    for b in bad:
        print(f"FAILED RUN: {b}")
    sys.exit(1 if bad else 2 if out_of_bound else 0)


if __name__ == "__main__":
    main()
