"""Seeded input generator for the benchmark.

Builds a copy of one testdata scale-factor directory with DuckDB, following
graft.tools.ScaleData's referential-integrity scheme for its one replica:
every key shifts by a slot drawn from the seed times its table's key span,
and each foreign key by the same slot times the referenced table's span, so
every join matches as in the source. The same seed gives byte-identical
inputs.

Each table is written as one parquet file with one row group, the layout of
the source testdata.
"""
import json
import os
import random

import duckdb
import pyarrow.parquet as pq

DIMENSIONS = ["region", "nation"]
# table -> (key columns and the key space whose span shifts them)
KEYS = {
    "customer": [("c_custkey", "customer")],
    "supplier": [("s_suppkey", "supplier")],
    "part": [("p_partkey", "part")],
    "orders": [("o_orderkey", "orders"), ("o_custkey", "customer")],
    "lineitem": [("l_orderkey", "orders"), ("l_partkey", "part"),
                 ("l_suppkey", "supplier")],
    "events": [("event_id", "events"), ("user_id", "users")],
    "documents": [("doc_id", "documents")],
    "embeddings": [("vec_id", "embeddings")],
}
# key space -> (table, column) whose max + 1 is its span
SPAN_OF = {"customer": ("customer", "c_custkey"),
           "supplier": ("supplier", "s_suppkey"),
           "part": ("part", "p_partkey"), "orders": ("orders", "o_orderkey"),
           "events": ("events", "event_id"), "users": ("events", "user_id"),
           "documents": ("documents", "doc_id"),
           "embeddings": ("embeddings", "vec_id")}
TABLES = DIMENSIONS + list(KEYS)
SLOTS = 8


def generate(src, out, seed):
    """Writes `<out>/<table>.parquet` for every table; returns per-table
    {"rows": n, "bytes": b}."""
    slot = random.Random(seed).randrange(SLOTS)
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW src_{t} AS SELECT * FROM "
                    f"read_parquet('{src}/{t}.parquet')")
    span = {k: con.execute(f"SELECT max({c}) + 1 FROM src_{t}").fetchone()[0]
            for k, (t, c) in SPAN_OF.items()}
    info = {}
    for t in TABLES:
        schema = pq.read_schema(f"{src}/{t}.parquet").remove_metadata()
        expr = {f.name: f.name for f in schema}
        for c, ref in KEYS.get(t, []):
            expr[c] = f"{c} + {slot * span[ref]}"
        sel = ", ".join(f"{e} AS {c}" for c, e in expr.items())
        tbl = con.execute(f"SELECT {sel} FROM src_{t}").arrow().cast(schema)
        path = f"{out}/{t}.parquet"
        pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows),
                       compression="snappy")
        info[t] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    con.close()
    with open(f"{out}/_inputs.json", "w") as f:
        json.dump({"seed": seed, "slot": slot, "source": src, "tables": info},
                  f, indent=1, sort_keys=True)
    return info
