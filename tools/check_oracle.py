"""Local replica of the driver's correctness gate: run every queries()
entry on Spark AND its oracle_sql() on DuckDB at sf0.01, compare
row-count + schema-width + order-insensitive value hash.

Run: python tools/check_oracle.py [sf_dir] [only_csv]

`only_csv` (optional) limits the run to a comma-separated subset of
query names — handy while iterating on one operator.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    import hashlib
    s = df.to_csv(index=False, float_format="%.9g")
    return hashlib.md5(s.encode()).hexdigest()


def main(sf_dir: str, only: set[str] | None = None):
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from pyproj_spark.session import get_spark

    # up to 8 cores, never more than this process may run on
    cores = min(8, len(os.sched_getaffinity(0)))
    spark = get_spark("oracle-check", cores=cores, shuffle_partitions=16)
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir}/{t}.parquet'")
    qs = entrymod.queries()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR {type(e).__name__}: {e}"))
            print(f"{name:20s} SPARK ERROR: {e}")
            continue
        if name not in oracles:
            print(f"{name:20s} rows-only: {len(sdf)} rows "
                  f"({time.time()-t0:.1f}s)")
            if len(sdf) == 0:
                failures.append((name, "0 rows"))
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR {e}"))
            print(f"{name:20s} DUCKDB ERROR: {e}")
            continue
        sc, dc = canon(sdf), canon(ddf)
        ok_rows = len(sc) == len(dc)
        ok_schema = list(sc.columns) == list(dc.columns)
        # driver-strict: an int64 column on one side vs float64 on the
        # other (DuckDB HUGEINT sums land as float64) formats
        # differently once values exceed 9 significant digits — the
        # exact class that flagged `cube` in round 3. Treat any
        # int-vs-float kind divergence as a failure even when the
        # values agree at the current SF.
        ok_dtype = ok_schema and all(
            pd.api.types.is_integer_dtype(sc[c])
            == pd.api.types.is_integer_dtype(dc[c])
            for c in sc.columns)
        ok_hash = (ok_rows and ok_schema and ok_dtype
                   and value_hash(sc) == value_hash(dc))
        status = "OK" if ok_hash else (
            "DTYPE-MISMATCH " + str([
                (c, str(sc[c].dtype), str(dc[c].dtype))
                for c in sc.columns
                if pd.api.types.is_integer_dtype(sc[c])
                != pd.api.types.is_integer_dtype(dc[c])])
            if ok_rows and ok_schema and not ok_dtype else "MISMATCH")
        print(f"{name:20s} {status}  spark={len(sc)} duck={len(dc)} "
              f"cols={list(sc.columns) if not ok_schema else 'match'} "
              f"({time.time()-t0:.1f}s)")
        if not ok_hash:
            failures.append((name, "hash/count/schema mismatch"))
            if ok_rows and ok_schema:
                merged = sc.compare(dc) if sc.shape == dc.shape else None
                if merged is not None and len(merged):
                    print(merged.head(10))
    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL QUERIES MATCH")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
         set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None)
