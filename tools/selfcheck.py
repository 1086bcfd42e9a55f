#!/usr/bin/env python3
"""DuckDB compare for graft.Verify's dump: for each query result parquet,
run the matching oracle SQL in DuckDB over the same sf dir and compare
values (columns sorted by name, rows sorted by all columns).

    python3 tools/selfcheck.py <sf_dir> <out_dir>

Prints one OK/FAIL line per oracle, one ROWS line per result without an
oracle, then "ALL GREEN" or the failure count; exits 1 on any failure.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    # Spark-written tables are DIRECTORIES of part files; the harness
    # testdata tables are single files
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

fails = 0
oks = 0
for name in sorted(oracle):
    res_path = f"{out_dir}/{name}"
    if not os.path.isdir(res_path):
        print(f"FAIL {name}: no result parquet"); fails += 1; continue
    try:
        got = canon(con.execute(f"SELECT * FROM '{res_path}/*.parquet'").df())
        want = canon(con.execute(oracle[name]).df())
    except Exception as e:
        print(f"FAIL {name}: {e}"); fails += 1; continue
    if list(got.columns) != list(want.columns):
        print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}"); fails += 1; continue
    if len(got) != len(want):
        print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); fails += 1; continue
    # DuckDB HUGEINT sums surface as float64 ("1772.0") and would not
    # match Spark's int64 ("1772") in a value hash. Treat float-vs-int
    # dtype as failure (int32 vs int64 is fine).
    kindmix = [c for c in got.columns
               if {got[c].dtype.kind, want[c].dtype.kind} == {"f", "i"}]
    if kindmix:
        print(f"FAIL {name}: float-vs-int dtype {kindmix} "
              f"(CAST the oracle aggregate AS BIGINT)"); fails += 1; continue
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        print(f"OK   {name} ({len(got)} rows)"); oks += 1
    except AssertionError as e:
        print(f"FAIL {name}: value mismatch\n{str(e)[:500]}"); fails += 1

# queries without oracle → rows-only
for d in sorted(glob.glob(f"{out_dir}/*/")):
    name = os.path.basename(d.rstrip("/"))
    if name not in oracle:
        n = con.execute(f"SELECT count(*) FROM '{d}/*.parquet'").fetchone()[0]
        print(f"ROWS {name}: {n} rows (no oracle)")

print(f"\n{oks} OK, {'ALL GREEN' if fails == 0 else f'{fails} FAILURES'}")
sys.exit(1 if fails else 0)
