#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (Spark output), runs the matching
SQL from oracle_sql.json in DuckDB against the sf parquet tables, and
compares row count, schema (column names) and values (columns sorted by
name; rows compared in order first, then order-insensitively; values
compared via str(), which for floats means shortest-roundtrip repr —
bit-identical values compare equal, and NaNs of any payload compare equal).
"""
import json, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def norm(df):
    # columns sorted by name; row order is handled at compare time
    return df.reindex(sorted(df.columns), axis=1)

def register_tables(con, sf_dir):
    """One view per table. A table is <sf>/<t>.parquet: a single file, or
    a directory of part files (the multi-file layout Tables reads)."""
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

def main(sf_dir, out_dir):
    con = duckdb.connect()
    register_tables(con, sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        spark_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        got = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        try:
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}"); n_fail += 1; continue
        got, want = norm(got), norm(want)
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1; continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}"); n_fail += 1; continue
        # value compare: stringify everything deterministically
        def canon(df):
            return [tuple(str(v) for v in row) for row in df.itertuples(index=False)]
        g, w = canon(got), canon(want)
        if g == w:
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
        elif sorted(g) == sorted(w):
            print(f"PASS* {name} ({len(got)} rows, order differs)"); n_pass += 1
        else:
            # diff sorted rows so the printed pairs are genuinely the
            # mismatched ones, not unrelated rows zipped by position
            diffs = [(a, b) for a, b in zip(sorted(g), sorted(w))
                     if a != b][:3]
            print(f"FAIL {name}: values differ, e.g. {diffs}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
