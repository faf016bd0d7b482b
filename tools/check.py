#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
given SF, then run each oracle SQL in DuckDB over the same parquet tables
and compare row-by-row (columns sorted by name, rows sorted by all columns).

Usage: python3 tools/check.py [sfdir] [outdir] [--skip-verify] [query...]
"""
import json, math, subprocess, sys
from pathlib import Path

import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("-") else "/tmp/verify_out"
SKIP = "--skip-verify" in sys.argv
ONLY = [a for a in sys.argv[3:] if not a.startswith("-")]
# the checkout this script belongs to: a worktree's copy checks its own build
REPO = Path(__file__).resolve().parents[1]

if not SKIP:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT} {" ".join(ONLY)}'.strip()],
        cwd=REPO, capture_output=True, text=True, timeout=1800)
    for line in r.stdout.splitlines():
        if "[verify]" in line or "error" in line.lower():
            print(line)
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-2000:]); sys.exit(1)

oracle = json.loads(Path(f"{OUT}/oracle_sql.json").read_text())

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

# Mirror the driver's gate: canonicalize through PANDAS (dtype-sensitive).
# DuckDB SUM(int)/list_sum comes back HUGEINT -> pandas float64, while Spark
# writes int64: that is a dtype mismatch the old fetchall() compare missed.
# Array/struct output columns make sort_values throw, exactly like the
# driver's err rows — both classes must fail HERE before the driver sees them.
def canon_df(rel):
    df = rel.df()
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)

passed = failed = nocheck = 0
for name in sorted(oracle):
    if ONLY and name not in ONLY: continue
    pq = Path(OUT) / name
    if not pq.exists():
        print(f"FAIL  {name}: spark output missing"); failed += 1; continue
    try:
        s_df = canon_df(con.sql(f"SELECT * FROM '{pq}/*.parquet'"))
        d_df = canon_df(con.sql(oracle[name]))
    except Exception as e:
        print(f"FAIL  {name}: {str(e)[:200]}"); failed += 1; continue
    if list(s_df.columns) != list(d_df.columns):
        print(f"FAIL  {name}: columns {list(s_df.columns)} != {list(d_df.columns)}"); failed += 1; continue
    if len(s_df) != len(d_df):
        print(f"FAIL  {name}: rows {len(s_df)} != {len(d_df)}"); failed += 1; continue
    if list(map(str, s_df.dtypes)) != list(map(str, d_df.dtypes)):
        print(f"FAIL  {name}: dtypes spark={list(map(str, s_df.dtypes))} duck={list(map(str, d_df.dtypes))}")
        failed += 1; continue
    if not s_df.equals(d_df):
        neq = (s_df != d_df) & ~(s_df.isna() & d_df.isna())
        bad_rows = neq.any(axis=1)
        i = int(bad_rows.idxmax()) if bad_rows.any() else 0
        print(f"FAIL  {name}: {int(bad_rows.sum())}/{len(s_df)} rows differ; "
              f"first row {i}: spark={s_df.iloc[i].to_dict()} duck={d_df.iloc[i].to_dict()}")
        failed += 1
    else:
        print(f"ok    {name} ({len(s_df)} rows)"); passed += 1

# queries without oracle: rows-only check
for pq in sorted(Path(OUT).iterdir()):
    if pq.is_dir() and pq.name not in oracle and (not ONLY or pq.name in ONLY):
        try:
            n = con.sql(f"SELECT count(*) FROM '{pq}/*.parquet'").fetchone()[0]
            print(f"rows  {pq.name}: {n} rows (no oracle)")
            nocheck += 1
        except Exception as e:
            print(f"FAIL  {pq.name}: unreadable {str(e)[:100]}"); failed += 1

print(f"\n{passed} ok, {failed} FAIL, {nocheck} rows-only")
sys.exit(1 if failed else 0)
