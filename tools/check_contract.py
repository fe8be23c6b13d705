"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare row count + order-insensitive values (columns sorted by name,
floats rounded)."""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
        try:
            if df[c].dtype.kind == "f":
                df[c] = df[c].round(4)
        except Exception:
            pass
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None):
    import __spark_entry__ as e
    from cor_asv_ann_spark.session import build_session

    spark = build_session(app="contract", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, os_ = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error {type(ex).__name__}: {ex}")
            failures.append(name)
            continue
        if name not in os_:
            print(f"rows  {name}: {len(sdf)} rows ({time.time()-t0:.1f}s, rows-only)")
            continue
        try:
            ddf = con.sql(os_[name]).df()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error {ex}")
            failures.append(name)
            continue
        a, b = canon(sdf), canon(ddf)
        if len(a) != len(b):
            print(f"FAIL  {name}: rowcount spark={len(a)} duck={len(b)}")
            failures.append(name)
            continue
        if list(a.columns) != list(b.columns):
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            failures.append(name)
            continue
        # the driver's value hash is TYPE-sensitive (BIGINT vs HUGEINT vs
        # int32 all hash differently) — flag any dtype drift before coercing
        dtype_drift = [
            (c, str(a[c].dtype), str(b[c].dtype))
            for c in a.columns
            if str(a[c].dtype) != str(b[c].dtype)
        ]
        if dtype_drift:
            print(f"WARN  {name}: dtype drift (driver hash would miss): {dtype_drift}")
            failures.append(name)
        try:
            b2 = b.astype(a.dtypes.to_dict(), errors="ignore")
        except Exception:
            b2 = b
        eq = a.reset_index(drop=True).astype(str).equals(b2.reset_index(drop=True).astype(str))
        if eq:
            print(f"OK    {name}: {len(a)} rows ({time.time()-t0:.1f}s)")
        else:
            diff_mask = (a.astype(str) != b2.astype(str)).any(axis=1)
            print(f"FAIL  {name}: value mismatch ({int(diff_mask.sum())}/{len(a)} rows)")
            print("  spark:", a[diff_mask].head(3).to_dict("records"))
            print("  duck :", b2[diff_mask].head(3).to_dict("records"))
            failures.append(name)
    spark.stop()
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL MATCH")
    return 1 if failures else 0


if __name__ == "__main__":
    only = sys.argv[1].split(",") if len(sys.argv) > 1 else None
    sys.exit(main(only=only))
