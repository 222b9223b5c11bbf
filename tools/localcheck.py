#!/usr/bin/env python3
"""Dev-loop twin of the driver's correctness gate: compare each
Verify-dumped parquet against its DuckDB oracle on the same testdata.
Usage: localcheck.py <sfDir> <verifyOutDir> [key ...]
The summary counts only the keys compared (all oracle keys, or those
named), how many passed and how many had no Verify output.
Exit 1 if any compared key fails.
"""
import duckdb, glob, json, sys
import pandas as pd

sfdir, out = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fails, missing, compared = [], [], 0
for name in sorted(oracle):
    if only and name not in only: continue
    compared += 1
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        print(f"MISSING  {name} (no verify output)")
        fails.append(name); missing.append(name); continue
    try:
        exp = con.sql(oracle[name]).df()
        act = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
    except Exception as e:
        print(f"ERROR    {name}: {str(e)[:200]}"); fails.append(name); continue
    ec, ac = sorted(exp.columns), sorted(act.columns)
    if ec != ac:
        print(f"SCHEMA   {name}: oracle {ec} vs spark {ac}"); fails.append(name); continue
    e2 = exp[ec].sort_values(by=ec).reset_index(drop=True)
    a2 = act[ec].sort_values(by=ec).reset_index(drop=True)
    if len(e2) != len(a2):
        print(f"ROWS     {name}: oracle {len(e2)} vs spark {len(a2)}"); fails.append(name); continue
    try:
        ok = e2.astype(str).equals(a2.astype(str))
    except Exception:
        ok = False
    if not ok:
        diff = (e2.astype(str) != a2.astype(str))
        cols = [c for c in ec if diff[c].any()]
        i = diff.any(axis=1).idxmax()
        print(f"VALUES   {name}: cols {cols}; first diff row {i}:")
        print("  oracle:", e2.iloc[i].to_dict())
        print("  spark :", a2.iloc[i].to_dict())
        fails.append(name); continue
    print(f"PASS     {name} ({len(e2)} rows)")
unknown = sorted(only - set(oracle))
if unknown:
    print(f"\nno oracle for: {unknown}")
print(f"\n{compared - len(fails)}/{compared} pass, {len(missing)} missing "
      f"(of {len(oracle)} oracle keys); fails: {fails}")
sys.exit(1 if fails else 0)
