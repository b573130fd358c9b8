"""DuckDB oracle check of the results a run wrote.

Each judged row's parquet output is compared with its `SparkEntry.oracleSql`
twin run in DuckDB over the same generated inputs, in the manner of
tools/check.py: same columns, same row count, and every value equal in
order, doubles compared bit for bit (-0.0 and +0.0 differ).
"""
import glob

import duckdb
import numpy as np

from gen import TABLES


def compare(got, want):
    """Returns the first problem found, or None when the frames agree."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns: spark={sorted(got.columns)} oracle={sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows: spark={len(got)} oracle={len(want)}"
    for c in sorted(got.columns):
        g, w = got[c], want[c]
        if g.dtype.kind != w.dtype.kind:
            return f"dtype[{c}]: spark={g.dtype} oracle={w.dtype}"
        if g.dtype.kind == "f":
            gv = g.to_numpy().astype(np.float64)
            wv = w.to_numpy().astype(np.float64)
            nan = np.isnan(gv) & np.isnan(wv)
            neq = (gv.view(np.int64) != wv.view(np.int64)) & ~nan
        else:
            neq = (~((g.isna() & w.isna()) | (g == w))).to_numpy()
        if neq.any():
            i = int(np.argmax(neq))
            return (f"value[{c}] row {i}: spark={g.iloc[i]!r} "
                    f"oracle={w.iloc[i]!r} ({int(neq.sum())} differ)")
    return None


def check(inputs, results, rows, oracle_sql):
    """Checks each row in `rows`; returns {row: (ok, result rows, note)}.
    A row without an oracle twin passes on a non-empty result."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inputs}/{t}.parquet')")
    out = {}
    for name in rows:
        files = sorted(glob.glob(f"{results}/{name}/*.parquet"))
        if not files:
            out[name] = (False, 0, "no output")
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')").df()
        if name not in oracle_sql:
            out[name] = (len(got) > 0, len(got), "rows-only")
            continue
        try:
            want = con.execute(oracle_sql[name]).df()
        except Exception as e:  # an oracle that cannot run is a failure
            out[name] = (False, len(got), f"oracle error: {e}")
            continue
        problem = compare(got, want)
        out[name] = (problem is None, len(got), problem or "")
    con.close()
    return out
