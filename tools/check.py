#!/usr/bin/env python3
"""Local correctness harness mimicking the driver's DuckDB oracle compare.

Usage: python3 tools/check.py [sfDir] [outDir] [--no-run]
  1. runs `sbt runMain graft.Verify <sfDir> <outDir>` (unless --no-run)
  2. for each query: loads <outDir>/<name> parquet, runs the oracle SQL in
     DuckDB against the same sfDir tables, compares schema + sorted rows.

Driver-side tooling only (python/duckdb/pyarrow are NOT library deps).
"""
import json, subprocess, sys, glob, os

import duckdb
import pandas as pd

# the checkout this script lives in: sbt runs there, and output defaults
# under its target/
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# positional arguments are the ones that are not flags, wherever the
# flags appear
POS = [a for a in sys.argv[1:] if not a.startswith("--")]
SF_DIR = POS[0] if len(POS) > 0 else "/root/testdata/sf0.01"
OUT_DIR = (POS[1] if len(POS) > 1
           else os.path.join(ROOT, "target", "verify_out"))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def run_verify():
    cmd = ["sbt", "-batch", f'runMain graft.Verify {SF_DIR} {OUT_DIR}']
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    for line in r.stdout.splitlines():
        if "[verify]" in line or "error" in line.lower():
            print(line)
    for line in r.stderr.splitlines():
        if "[verify]" in line:
            print(line)
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-3000:])
        sys.exit(1)

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True,
                        key=lambda s: s.astype(str))
    return df

def main():
    if "--no-run" not in sys.argv:
        run_verify()
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{OUT_DIR}/oracle_sql.json"))
    results = sorted(d for d in os.listdir(OUT_DIR)
                     if os.path.isdir(f"{OUT_DIR}/{d}"))
    n_pass = n_fail = 0
    # a declared query with no output dir is a FAILURE, not a skip
    qpath = f"{OUT_DIR}/queries.json"
    if os.path.exists(qpath):
        declared = set(json.load(open(qpath)))
        for missing in sorted(declared - set(results)):
            print(f"FAIL {missing}: declared in SparkEntry.queries but "
                  f"produced no output (threw in Verify?)")
            n_fail += 1
    for name in results:
        files = glob.glob(f"{OUT_DIR}/{name}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracles:
            print(f"  [rows-only] {name}: {len(got)} rows")
            continue
        want = con.execute(oracles[name]).fetchdf()
        g, w = norm(got), norm(want)
        ok = True
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}")
            ok = False
        elif len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} vs {len(w)}")
            ok = False
        else:
            for c in g.columns:
                gv, wv = g[c], w[c]
                if str(gv.dtype) != str(wv.dtype):
                    print(f"  WARN {name}.{c}: dtype {gv.dtype} vs {wv.dtype}")
                eq = (gv.astype(str).values == wv.astype(str).values)
                if not eq.all():
                    i = (~eq).argmax()
                    print(f"FAIL {name}.{c}: first mismatch row {i}: "
                          f"{gv.iloc[i]!r} vs {wv.iloc[i]!r} "
                          f"({(~eq).sum()}/{len(eq)} differ)")
                    ok = False
                    break
        if ok:
            n_pass += 1
            print(f"  PASS {name} ({len(g)} rows)")
        else:
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail, "
          f"{len(results) - n_pass - n_fail} rows-only ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
