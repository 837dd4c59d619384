"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, then compares row count, column
set, and exact (order-insensitive) values.  Usage:

    python scripts/check_oracle.py [sf_dir] [key ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from vector_db_ingestor_spark.session import get_spark  # noqa: E402
from vector_db_ingestor_spark.tables import TABLES  # noqa: E402

import importlib  # noqa: E402

entry_mod = importlib.import_module("__spark_entry__")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(v) if v is not None else None)
    return df.sort_values(list(df.columns), ignore_index=True)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for key, fn in queries.items():
        if only and key not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(get_spark("oracle-check"), sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(key)
            print(f"FAIL  {key}: spark error: {type(e).__name__}: {e}")
            continue
        if key not in oracles:
            print(f"ROWS  {key}: {len(sdf)} rows (no oracle, rows-only) "
                  f"[{time.time()-t0:.1f}s]")
            if len(sdf) == 0:
                failures.append(key)
                print(f"FAIL  {key}: 0 rows")
            continue
        try:
            odf = con.execute(oracles[key]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append(key)
            print(f"FAIL  {key}: duckdb error: {type(e).__name__}: {e}")
            continue
        s, o = normalize(sdf), normalize(odf)
        status = []
        if len(s) != len(o):
            status.append(f"rowcount {len(s)} != {len(o)}")
        if list(s.columns) != list(o.columns):
            status.append(f"columns {list(s.columns)} != {list(o.columns)}")
        if not status:
            if not s.equals(o):
                diff_cols = [
                    c for c in s.columns if not s[c].equals(o[c])
                ]
                status.append(f"values differ in {diff_cols}")
                for c in diff_cols[:3]:
                    neq = s[c] != o[c]
                    print(f"      {key}.{c}: first diffs:\n"
                          f"spark: {s.loc[neq, c].head(3).tolist()}\n"
                          f"duck : {o.loc[neq, c].head(3).tolist()}")
        if status:
            failures.append(key)
            print(f"FAIL  {key}: {'; '.join(status)} [{time.time()-t0:.1f}s]")
        else:
            print(f"OK    {key}: {len(s)} rows [{time.time()-t0:.1f}s]")

    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
