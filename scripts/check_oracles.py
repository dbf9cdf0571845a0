"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at a given SF, compare
row count, column names, and order-insensitive value hash."""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    rows = sorted(
        tuple(None if pd.isna(v) else (round(v, 9) if isinstance(v, float) else v) for v in row)
        for row in df.itertuples(index=False, name=None)
    )
    return hashlib.md5(repr(rows).encode()).hexdigest()


def main(sf_dir: str = "/root/testdata/sf0.01", *only: str):
    import __spark_entry__ as E
    from tin_terrain_spark.session import get_spark

    spark = get_spark("oracle_check", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        t1 = time.time()
        odf = con.execute(oracles[name]).df()
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = norm_hash(sdf) == norm_hash(odf) if ok_cols else False
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        print(
            f"{name}: {status} spark={len(sdf)} duck={len(odf)} cols={'=' if ok_cols else sorted(sdf.columns)+sorted(odf.columns)} hash={'=' if ok_hash else 'DIFF'} {t1-t0:.1f}s"
        )
        if status == "FAIL":
            failures.append((name, f"rows {len(sdf)}/{len(odf)} cols_ok={ok_cols} hash_ok={ok_hash}"))
            if ok_cols:
                m = sdf.merge(odf, on=list(sorted(sdf.columns)), how="outer", indicator=True)
                bad = m[m["_merge"] != "both"]
                print(bad.head(6).to_string())
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all OK")


if __name__ == "__main__":
    main(*sys.argv[1:])
