#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_correctness.py <sfDir> <verifyOutDir>

Loads each <name>.parquet written by graft.Verify, runs the matching
oracle SQL from oracle_sql.json in DuckDB over the same testdata
parquet tables, and compares row count, column names (sorted), and
values (rows sorted, columns sorted by name). Every query that
failed.json lists (it threw during the dump) is a FAIL too, with or
without an oracle.
"""
import json
import math
import os
import sys

import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    # driver testdata tables are single files; GenScale / Spark-written
    # tables are directories of part files
    p = f"{sf_dir}/{t}.parquet"
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

with open(f"{out_dir}/oracle_sql.json") as f:
    oracles = json.load(f)

def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)

failed_path = f"{out_dir}/failed.json"
threw = []
if os.path.exists(failed_path):
    with open(failed_path) as f:
        threw = json.load(f)

fails = 0
checked = 0
for name in threw:
    print(f"FAIL {name}: the query threw during the dump")
    fails += 1
    checked += 1
for name, sql in sorted(oracles.items()):
    if name in threw:
        continue
    checked += 1
    try:
        got = duckdb.sql(
            f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        want = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: {e}")
        fails += 1
        continue
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        print(f"FAIL {name}: columns {gc} != {wc}")
        fails += 1
        continue
    g = [tuple(canon(v) for v in r) for r in got[gc].itertuples(index=False)]
    w = [tuple(canon(v) for v in r) for r in want[wc].itertuples(index=False)]
    if len(g) != len(w):
        print(f"FAIL {name}: rows {len(g)} != {len(w)}")
        fails += 1
        continue
    if sorted(g) != sorted(w):
        bad = [(a, b) for a, b in zip(sorted(g), sorted(w)) if a != b][:3]
        print(f"FAIL {name}: value mismatch, e.g. {bad}")
        fails += 1
        continue
    print(f"OK   {name} ({len(g)} rows)")

print(f"\n{checked - fails}/{checked} queries match")
if checked == 0:
    # e.g. wrong outDir or a Verify run that wrote nothing: a 0/0
    # "pass" would be vacuous
    print("ERROR: no query outputs found to check", file=sys.stderr)
    sys.exit(2)
sys.exit(1 if fails else 0)
