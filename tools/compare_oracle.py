#!/usr/bin/env python3
"""Replicate the driver's DuckDB oracle compare against a Verify output dir.

Usage: python3 tools/compare_oracle.py <sfDir> <voutDir>

For each oracle_sql.json entry: register every <sfDir>/*.parquet as a view,
run the SQL in DuckDB, load the query's Spark parquet output, sort columns by
name + sort rows, compare (floats to ~1e-9). Prints one line per query.
An oracle entry with no output dir under <voutDir> (a query that failed or
was not run) counts as bad. Exit status 1 if anything is bad.

DuckDB runs under a fixed memory cap (MEMORY_LIMIT) rather than its default
of 80% of host RAM: an oracle that outgrows the cap reports
ORACLE_SQL_ERROR and the remaining entries still run.
"""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

MEMORY_LIMIT = "2GB"

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def main(sf_dir: str, vout: str) -> int:
    oracle = json.load(open(os.path.join(vout, "oracle_sql.json")))
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT})
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    bad = 0
    for qname in sorted(os.listdir(vout)):
        qdir = os.path.join(vout, qname)
        if not os.path.isdir(qdir):
            continue
        if qname == "stage":
            # Mimic the driver's stage sweep: every subdir must be readable
            # as a parquet dataset (round 3 regressed here — a .vt text dump
            # under stage made the driver's pyarrow read_table fail while
            # this replica silently skipped the dir).
            import pyarrow.parquet as pq
            try:
                subs = sorted(os.listdir(qdir))
                for sub in subs:
                    pq.read_table(os.path.join(qdir, sub))
                print(f"stage: OK ({len(subs)} parquet-readable stage tables)")
            except Exception as e:
                print(f"stage: STAGE_READ_ERROR {e}")
                bad += 1
            continue
        parts = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
        if not parts:
            print(f"{qname}: NO_SPARK_OUTPUT (empty dir)")
            bad += 1
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in parts],
                             ignore_index=True)
        if qname not in oracle:
            print(f"{qname}: no_oracle (spark_rows={len(spark_df)})")
            continue
        try:
            duck_df = con.execute(oracle[qname]).df()
        except Exception as e:
            print(f"{qname}: ORACLE_SQL_ERROR {e}")
            bad += 1
            continue
        a, b = norm(spark_df), norm(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"{qname}: SCHEMA_MISMATCH spark={list(a.columns)} duck={list(b.columns)}")
            bad += 1
            continue
        if len(a) != len(b):
            print(f"{qname}: ROWS_MISMATCH spark={len(a)} duck={len(b)}")
            bad += 1
            continue
        ok = True
        for c in a.columns:
            av, bv = a[c], b[c]
            if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
                af = av.astype(float).to_numpy()
                bf = bv.astype(float).to_numpy()
                m = ~(np.isclose(af, bf, rtol=0, atol=1e-9) |
                      (np.isnan(af) & np.isnan(bf)))
            else:
                m = (av.astype(str).to_numpy() != bv.astype(str).to_numpy())
            if m.any():
                i = int(np.argmax(m))
                print(f"{qname}: VALUE_MISMATCH col={c} row={i} "
                      f"spark={av.iloc[i]!r} duck={bv.iloc[i]!r}")
                ok = False
                bad += 1
                break
        if ok:
            print(f"{qname}: OK rows={len(a)}")
    for qname in sorted(oracle):
        if not os.path.isdir(os.path.join(vout, qname)):
            print(f"{qname}: NO_OUTPUT_DIR")
            bad += 1
    return bad

if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1], sys.argv[2]) else 0)
