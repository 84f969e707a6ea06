#!/usr/bin/env python3
"""Driver-style DuckDB oracle compare for builder iteration.

Usage: python3 tools/compare_oracle.py <sf_dir> <verify_out_dir> [query ...]

Reads <verify_out_dir>/oracle_sql.json (written by graft.Verify), runs each
oracle SQL against DuckDB with the parquet tables of <sf_dir> registered as
views, and compares against the Spark result parquet in
<verify_out_dir>/<query>/ — columns sorted by name, rows sorted, floats
compared to 1e-9.
"""
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

def load(sf_dir, out_dir, names):
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in ["lineitem", "customer", "orders", "events", "documents",
              "embeddings", "part", "supplier", "nation", "region"]:
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    failures = []
    for name in sorted(names or oracle.keys()):
        if name not in oracle:
            print(f"{name}: NO ORACLE SQL"); failures.append(name); continue
        try:
            spark_df = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"{name}: spark result missing ({e})"); failures.append(name)
            continue
        try:
            ora = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"{name}: oracle SQL failed ({e})"); failures.append(name)
            continue
        s = spark_df[sorted(spark_df.columns)]
        o = ora[sorted(ora.columns)]
        if list(s.columns) != list(o.columns):
            print(f"{name}: COLUMN MISMATCH {list(s.columns)} vs {list(o.columns)}")
            failures.append(name); continue
        if len(s) != len(o):
            print(f"{name}: ROW COUNT {len(s)} vs {len(o)}")
            failures.append(name); continue
        s2 = s.sort_values(by=list(s.columns), kind="mergesort").reset_index(drop=True)
        o2 = o.sort_values(by=list(o.columns), kind="mergesort").reset_index(drop=True)
        ok = True
        for c in s.columns:
            sv, ov = s2[c], o2[c]
            if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
                a = pd.to_numeric(sv, errors="coerce").to_numpy(dtype=float)
                b = pd.to_numeric(ov, errors="coerce").to_numpy(dtype=float)
                bad = ~(np.isclose(a, b, rtol=0, atol=1e-9) |
                        (pd.isna(a) & pd.isna(b)))
                if bad.any():
                    i = int(bad.argmax())
                    print(f"{name}: col {c} differs at row {i}: {a[i]} vs {b[i]}")
                    ok = False; break
            else:
                if not sv.astype(str).equals(ov.astype(str)):
                    neq = sv.astype(str) != ov.astype(str)
                    i = int(neq.to_numpy().argmax())
                    print(f"{name}: col {c} differs at row {i}: "
                          f"{sv.iloc[i]!r} vs {ov.iloc[i]!r}")
                    ok = False; break
        if ok:
            print(f"{name}: OK ({len(s)} rows)")
        else:
            failures.append(name)
    return failures

if __name__ == "__main__":
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    failures = load(sf_dir, out_dir, names)
    if failures:
        print(f"FAILED: {failures}")
        sys.exit(1)
    print("ALL OK")
