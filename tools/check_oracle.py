#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py /tmp/verify_out /root/testdata/sf0.01

For each <name>/ parquet dir in the verify output, runs oracle_sql.json[name]
in DuckDB (tables registered as views over the sf dir) and compares:
column names (sorted), dtypes loosely, row count, and values cell-by-cell
(exact for non-floats, tolerance 1e-9 relative for floats). A result dir
with no oracle entry fails, and so does a run that checks no query.
"""
import sys, json, glob, os
import duckdb
import pandas as pd
import numpy as np

out_dir, sf_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fail = 0
for name in sorted(os.listdir(out_dir)):
    if os.path.isdir(f"{out_dir}/{name}") and name not in oracle:
        print(f"FAIL {name}: no oracle entry")
        fail += 1
for name, sql in sorted(oracle.items()):
    res_dir = f"{out_dir}/{name}"
    files = glob.glob(f"{res_dir}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output")
        fail += 1
        continue
    got = pd.read_parquet(res_dir)
    try:
        exp = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error {e}")
        fail += 1
        continue
    g, e = got.reindex(sorted(got.columns), axis=1), exp.reindex(sorted(exp.columns), axis=1)
    if list(g.columns) != list(e.columns):
        print(f"FAIL {name}: columns {list(g.columns)} vs {list(e.columns)}")
        fail += 1
        continue
    if len(g) != len(e):
        print(f"FAIL {name}: rows {len(g)} vs {len(e)}")
        fail += 1
        continue
    bad = []
    for c in g.columns:
        gv, ev = g[c].values, e[c].values
        if np.issubdtype(g[c].dtype, np.floating) or np.issubdtype(e[c].dtype, np.floating):
            gv = g[c].astype(float).values
            ev = e[c].astype(float).values
            mask = ~(np.isclose(gv, ev, rtol=1e-9, atol=1e-12) |
                     (pd.isna(gv) & pd.isna(ev)))
        else:
            mask = ~((pd.Series(gv).astype(str) == pd.Series(ev).astype(str)).values)
        if mask.any():
            i = int(np.argmax(mask))
            bad.append(f"{c}[{i}]: {gv[i]!r} vs {ev[i]!r} ({int(mask.sum())} cells)")
    if bad:
        print(f"FAIL {name}: " + "; ".join(bad[:3]))
        fail += 1
    else:
        print(f"OK   {name}: {len(g)} rows x {len(g.columns)} cols")
print(f"checked {len(oracle)} queries")
if not oracle:
    print("FAIL: no queries checked")
    fail += 1
print("RESULT:", "FAIL" if fail else "ALL OK")
sys.exit(1 if fail else 0)
