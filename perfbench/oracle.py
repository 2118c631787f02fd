"""DuckDB oracle compare for the benchmark's output checks.

Each dumped query result (`<check_dir>/<name>/*.parquet`) is compared
with `SparkEntry.oracleSql(<name>)` run by DuckDB over the same input
tables, by the project's self-check rule: columns sorted by name, rows
sorted over all columns, then the md5 of the CSV rendering.

    python3 perfbench/oracle.py <check_dir> <data_dir>
"""
import hashlib
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _digest(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return len(df), hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


def compare(check_dir, data_dir):
    """Return {query: None if it matches, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            glob = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{glob}'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for name, sql in sorted(oracle.items()):
        try:
            if not sql:
                raise ValueError("no oracle SQL")
            got = con.execute(
                f"SELECT * FROM '{os.path.join(check_dir, name)}/*.parquet'").df()
            want = con.execute(sql).df()
            if sorted(got.columns) != sorted(want.columns):
                out[name] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
                continue
            g, w = _digest(got), _digest(want)
            out[name] = None if g == w else f"rows/hash {g} != oracle {w}"
        except Exception as e:  # a crash is a mismatch, reported by name
            out[name] = f"{type(e).__name__}: {e}"[:300]
    con.close()
    return out


if __name__ == "__main__":
    res = compare(sys.argv[1], sys.argv[2])
    for k, v in res.items():
        print(("PASS " if v is None else "FAIL ") + k + ("" if v is None else ": " + v))
    sys.exit(1 if any(v is not None for v in res.values()) else 0)
