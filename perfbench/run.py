#!/usr/bin/env python3
"""Build the engine with the benchmark and run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds (sbt, offline) the
engine sources under src/main/scala together with perfbench/src into
perfbench/target and caches the classpath, keyed by a digest of every
source and build file; later runs reuse it. Each run gets its own
directory under perfbench/.work (warehouse, Spark scratch, JVM temp),
deleted when the run ends. Untraced results are kept in perfbench/.results
so a traced run of the same workload and seed can report the tracing
overhead (traced minus untraced end-to-end).

The last line of stdout is the result object; everything else about the
run is in the line before it (the record).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# A fixed heap and young generation: with adaptive sizing the collector's
# early sizing decisions differed from JVM to JVM and split otherwise
# identical runs into a fast and a slow group (~15% apart).
HEAP = "3g"
YOUNG = "1g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    tops = [ENGINE_SRC, os.path.join(BENCH, "src"),
            os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark install found (set SPARK_HOME)")
    return home


def build():
    """Compile once per source digest; return the runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(BENCH, "target", "perfbench-build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    log("building engine + benchmark (sbt) ...")
    t = time.time()
    cp_file = os.path.join(BENCH, "target", "perfbench-classpath.txt")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        sys.exit(f"perfbench: build failed (sbt exit {proc.returncode})")
    with open(cp_file) as fh:
        classpath = fh.read().strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    log(f"built in {time.time() - t:.0f} s")
    return classpath


def java_cmd(classpath, run_dir, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
             f"-Djava.io.tmpdir={run_dir}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", classpath, main] + args)


def run_jvm(cmd, run_dir):
    """Run the JVM in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s and was killed")
        return 1, ""
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"perfbench: engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
                 "run from a checkout of the repository")

    classpath = build()
    tag = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(BENCH, ".work", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if a.selftest:
            code, out = run_jvm(java_cmd(classpath, run_dir, "graft.perfbench.SelfTest",
                                         ["--root", run_dir]), run_dir)
            sys.stdout.write(out)
            sys.exit(code)
        code, out = run_jvm(java_cmd(classpath, run_dir, "graft.perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--root", run_dir]), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or len(lines) < 2:
        sys.stdout.write(out)
        sys.exit(code or 1)
    record, result = lines[-2], lines[-1]
    print("\n".join(lines[:-1]))
    overhead = tracing_overhead(a, json.loads(record)["record"])
    if overhead is not None:
        print(json.dumps({"tracing_overhead": overhead}))
    print(result)


def tracing_overhead(a, record):
    """Keep untraced end-to-end numbers; diff a traced run against them."""
    results = os.path.join(BENCH, ".results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, f"{a.workload}-s{a.seed}-{a.seconds}s.json")
    e2e = {k: v["value"] for k, v in record["end_to_end"].items()}
    if not a.trace:
        with open(path, "w") as fh:
            json.dump(e2e, fh)
        return None
    if not os.path.exists(path):
        return {"note": "no untraced run of this workload/seed/length to compare"}
    with open(path) as fh:
        base = json.load(fh)
    return {k: {"traced": v, "untraced": base[k], "delta": v - base[k],
                "share": (v - base[k]) / base[k] if base[k] else None}
            for k, v in e2e.items() if k in base}


if __name__ == "__main__":
    main()
