#!/usr/bin/env python3
"""sf1 chain-at-a-time oracle for the COMPOSITE audits (round 15).

The one-WITH replays of d22 (four dedup chains), m15 (m9 chain +
caption extraction) and g10 (pair self-join + 3 LP rounds) exceed
DuckDB's temp disk at sf1 on this box. This runner executes the SAME
replay blocks chain by chain — each chain's decision table is
materialized to parquet (`COPY ... TO`), bounding peak temp usage to
one chain — then runs only the final rollup over the materialized
chains and compares it to the engine's own Verify output with the
exact check_correctness.py compare (row count, sorted column names,
sorted canonical values).

Usage:
  sbt "Test/runMain graft.tools.DumpSf1ChainPlan /tmp/chain_plan.json <sf1Dir>"
  sbt "runMain graft.Verify <sf1Dir> <outDir> d22_dedup_audit,m15_caption_consolidation,g10_modularity"
  python3 tools/sf1_chain_oracle.py <sf1Dir> <outDir> /tmp/chain_plan.json [report.json]
"""
import json
import math
import os
import sys
import tempfile
import time

import duckdb

sf_dir, out_dir, plan_path = sys.argv[1], sys.argv[2], sys.argv[3]
report_path = sys.argv[4] if len(sys.argv) > 4 else None

with open(plan_path) as f:
    plan = json.load(f)


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def connect():
    con = duckdb.connect()
    # chain results are compared as SORTED row sets, so the writer
    # need not preserve order — dropping it cuts COPY buffering
    con.sql("SET preserve_insertion_order = false")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


report = {}
fails = 0
tmp = tempfile.mkdtemp(prefix="graft_sf1_chains_")
for name, chains in sorted(plan.items()):
    chain_paths = {}
    t0 = time.time()
    ok = True
    err = None
    want = None
    cname = None
    try:
        for cname, sql in chains:
            for k, p in chain_paths.items():
                sql = sql.replace(f"__CHAIN_{k}__", f"read_parquet('{p}')")
            # one fresh connection per chain: temp spill is freed with
            # the connection, so peak disk is a single chain's
            con = connect()
            t1 = time.time()
            if cname == "rollup":
                want = con.sql(sql).df()
            else:
                p = f"{tmp}/{name}__{cname}.parquet"
                con.sql(f"COPY ({sql}) TO '{p}' (FORMAT PARQUET)")
                chain_paths[cname] = p
            con.close()
            print(f"  chain {name}/{cname}: {round(time.time() - t1, 1)}s",
                  flush=True)
    except Exception as e:  # noqa: BLE001 - report, don't crash the sweep
        ok = False
        err = f"chain '{cname}': {str(e)[:300]}"
    dur = round(time.time() - t0, 1)
    if not ok:
        print(f"FAIL {name}: {err}")
        report[name] = {"match": False, "err": err, "sec": dur}
        fails += 1
        continue
    got = duckdb.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        print(f"FAIL {name}: columns {gc} != {wc}")
        report[name] = {"match": False, "err": f"columns {gc} != {wc}",
                        "sec": dur}
        fails += 1
        continue
    g = sorted(tuple(canon(v) for v in r)
               for r in got[gc].itertuples(index=False))
    w = sorted(tuple(canon(v) for v in r)
               for r in want[wc].itertuples(index=False))
    if len(g) != len(w):
        # report the count delta first: zip() below truncates to the
        # shorter list, so a pure row-count mismatch would otherwise
        # print an empty example list
        print(f"FAIL {name}: row count {len(g)} != {len(w)}")
        report[name] = {"match": False,
                        "err": f"rows {len(g)} != {len(w)}", "sec": dur}
        fails += 1
        continue
    if g != w:
        bad = [(a, b) for a, b in zip(g, w) if a != b][:3]
        print(f"FAIL {name}: value mismatch, e.g. {bad}")
        report[name] = {"match": False, "err": f"values {bad}", "sec": dur}
        fails += 1
        continue
    print(f"OK   {name} ({len(g)} rows, {dur}s)")
    report[name] = {"match": True, "rows": len(g), "sec": dur}

if report_path:
    with open(report_path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
print(f"\n{len(plan) - fails}/{len(plan)} composite oracles match")
sys.exit(1 if fails else 0)
