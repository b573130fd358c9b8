#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (dev tooling only — the
shipped library is pure Scala). Runs each oracle SQL in DuckDB against the
parquet testdata and compares with the parquet Verify dumped.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]
(Run `sbt "runMain graft.Verify <sfDir> <outDir>"` first.)
"""
import sys, os, json, glob, time
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df):
    df = df[sorted(df.columns)]
    # normalize dtypes for value compare
    return df

def compare(name, got, want):
    problems = []
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns differ: spark={sorted(got.columns)} oracle={sorted(want.columns)}"]
    got, want = canon(got), canon(want)
    if len(got) != len(want):
        return [f"row count: spark={len(got)} oracle={len(want)}"]
    for c in got.columns:
        g, w = got[c], want[c]
        gk, wk = g.dtype.kind, w.dtype.kind
        if gk != wk:
            problems.append(f"dtype[{c}]: spark={g.dtype} oracle={w.dtype}")
            continue
        if gk == "f":
            gv, wv = g.to_numpy(), w.to_numpy()
            both_nan = np.isnan(gv) & np.isnan(wv)
            # BIT-level compare on top of value compare: the driver hashes
            # bytes, so -0.0 (DuckDB round) vs +0.0 (Spark round) is a real
            # failure even though the values compare equal.
            bitneq = (gv.astype(np.float64).view(np.int64)
                      != wv.astype(np.float64).view(np.int64)) & ~both_nan
            neq = (~both_nan & (gv != wv)) | bitneq
            if neq.any():
                i = int(np.argmax(neq))
                problems.append(f"value[{c}] row {i}: spark={gv[i]!r} oracle={wv[i]!r} "
                                f"(n={int(neq.sum())}, maxdiff={np.nanmax(np.abs(gv-wv))})")
        else:
            neq = ~((g.isna() & w.isna()) | (g == w))
            if neq.any():
                i = int(np.argmax(neq.to_numpy()))
                problems.append(f"value[{c}] row {i}: spark={g.iloc[i]!r} oracle={w.iloc[i]!r} (n={int(neq.sum())})")
    return problems

def main():
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i:i + 2]
    # skip list: --skip q1,q2 for known-long oracles run separately
    skip = set()
    if "--skip" in argv:
        i = argv.index("--skip")
        skip = set(argv[i + 1].split(","))
        del argv[i:i + 2]
    sf_dir, out_dir = argv[0], argv[1]
    only = set(argv[2:])
    report = {}
    con = duckdb.connect()
    # politeness knob for big-SF runs: bound DuckDB's thread pool so a
    # heavy oracle doesn't monopolize the machine (default: all cores)
    if os.environ.get("CHECK_THREADS"):
        con.execute(f"SET threads = {int(os.environ['CHECK_THREADS'])}")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # ScaleData writes directory-style parquet
            p = f"{p}/*.parquet"
        if glob.glob(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    fails, rows_only = 0, []
    names = sorted(glob.glob(f"{out_dir}/*/"))
    for d in names:
        name = os.path.basename(d.rstrip("/"))
        if (only and name not in only) or name in skip:
            continue
        files = glob.glob(f"{d}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            fails += 1
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')").df()
        if name not in oracle:
            rows_only.append(f"{name} ({len(got)} rows)")
            continue
        t0 = time.monotonic()
        try:
            want = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            fails += 1
            continue
        oracle_s = round(time.monotonic() - t0, 3)
        problems = compare(name, got, want)
        report[name] = {"ok": not problems, "spark_rows": len(got),
                        "oracle_rows": len(want), "problems": problems[:6],
                        "oracle_s": oracle_s}
        if problems:
            fails += 1
            print(f"FAIL {name}:")
            for p in problems[:6]:
                print(f"   {p}")
        else:
            print(f"ok   {name} ({len(got)} rows)")
    if rows_only:
        print("rows-only (no oracle):", ", ".join(rows_only))
    missing = (set(oracle) if not only else set(oracle) & only) - skip \
        - {os.path.basename(d.rstrip('/')) for d in names}
    if missing:
        print("oracle without output:", sorted(missing))
        fails += 1
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf": os.path.basename(sf_dir.rstrip("/")),
                       "result": "FAIL" if fails else "PASS",
                       "queries": report}, f, indent=1, sort_keys=True)
    print("RESULT:", "FAIL" if fails else "PASS", f"({fails} failing)")
    sys.exit(1 if fails else 0)

if __name__ == "__main__":
    main()
