#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py <sfDir> <outDir>
Reads each <outDir>/<name> parquet dir written by graft.Verify, runs the
matching SQL from oracle_sql.json in DuckDB (tables = parquet files in
sfDir), canonicalizes (columns sorted by name, rows sorted, floats
rounded) and reports MATCH/MISMATCH per query.
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        if np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(4)
        if np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    # graft.Verify records why a query failed; older dumps lack the file
    errors_path = f"{out_dir}/_errors.json"
    errors = json.load(open(errors_path)) if os.path.exists(errors_path) else {}
    n_ok = n_bad = 0
    for name in sorted(oracles):
        sql = oracles[name]
        pdir = f"{out_dir}/{name}"
        if not os.path.isdir(pdir):
            reason = f" ({errors[name]})" if name in errors else ""
            print(f"FAIL  {name}: no spark output dir{reason}"); n_bad += 1; continue
        try:
            spark_df = canon(pd.concat(
                [pd.read_parquet(f) for f in glob.glob(f"{pdir}/*.parquet")],
                ignore_index=True))
            duck_df = canon(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL  {name}: {e}"); n_bad += 1; continue
        if list(spark_df.columns) != list(duck_df.columns):
            print(f"MISMATCH {name}: cols spark={list(spark_df.columns)} duck={list(duck_df.columns)}")
            n_bad += 1; continue
        if len(spark_df) != len(duck_df):
            print(f"MISMATCH {name}: rows spark={len(spark_df)} duck={len(duck_df)}")
            n_bad += 1; continue
        # Driver-strict hash: pd.util.hash_pandas_object treats int32==int64
        # but float64!=int64, which is exactly the driver's sensitivity —
        # it catches DuckDB HUGEINT->float64 vs Spark BIGINT->int64 drift
        # (the round-1 q11-q47 failures) without flagging benign width
        # differences like row_number's int32 rk.
        s_hash = pd.util.hash_pandas_object(spark_df, index=False).sum()
        d_hash = pd.util.hash_pandas_object(duck_df, index=False).sum()
        if s_hash != d_hash:
            try:
                pd.testing.assert_frame_equal(spark_df, duck_df)
                detail = "hash differs (post-round representation)"
            except AssertionError as e:
                detail = str(e).splitlines()[-1]
            print(f"MISMATCH {name}: {detail}"); n_bad += 1; continue
        print(f"OK    {name} ({len(spark_df)} rows)"); n_ok += 1
    print(f"\n{n_ok} OK, {n_bad} failed")
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
