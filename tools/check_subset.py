#!/usr/bin/env python3
"""Spot-check a subset of queries against the DuckDB oracle at a larger
scale factor than the driver's gate (full all-pairs dedup oracles are too
slow in DuckDB at sf0.1; the scale-sensitive blocked operators are not).

Usage: python3 tools/check_subset.py <sfDir> <verifyOutDir> [name ...]
"""
import json, glob, sys
import duckdb, pandas as pd
from check import register_tables

DEFAULT = ["d3_simhash_hamming", "d5_embedding_neardup", "v2_ann_bucketed",
           "j3_band_self_join", "a1_dup_exam_groups", "k3_merge_upsert",
           "p4_derived_skip", "x3_reconcile_counts", "d9_semantic_dedup",
           "d13_substring_spans", "v7_hybrid_rrf", "s5_incremental_agg"]


def main(sf_dir, out_dir, names):
    con = duckdb.connect()
    register_tables(con, sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    fails = 0
    for name in names or DEFAULT:
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files])
        want = con.execute(oracle[name]).df()
        got = got.reindex(sorted(got.columns), axis=1)
        want = want.reindex(sorted(want.columns), axis=1)
        g = sorted(tuple(str(v) for v in r)
                   for r in got.itertuples(index=False))
        w = sorted(tuple(str(v) for v in r)
                   for r in want.itertuples(index=False))
        ok = g == w
        fails += 0 if ok else 1
        print(name, "PASS" if ok else "FAIL", len(g), len(w))
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
