"""Local replica of the driver's correctness gate.

Runs each __spark_entry__.queries() entry at sf0.01 on Spark, the matching
oracle_sql() on DuckDB over the same parquet, and compares row count,
column names, and order-insensitive values (sorted columns + rows).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["documents"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype == object:
            # lists -> tuples for sorting; decimals -> str
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
            df[c] = df[c].map(lambda v: str(v) if not isinstance(v, (str, tuple, type(None), bool, int, float)) else v)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True, key=lambda s: s.map(str))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from pycorrector_spark.dictio import data_dir
    from pycorrector_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=16)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        raise SystemExit(f"unknown query name(s): {sorted(unknown)}")
    failures = []
    skipped = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # the full-scale homophone dict ships separately from the repo; a
        # host without it cannot run the query at all, which says nothing
        # about its correctness (tests/test_entry.py skips it the same way)
        if name == "zh_homophones_full" and data_dir() is None:
            print(f"[{name}] SKIP: reference data dir absent")
            skipped.append(name)
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"[{name}] SPARK ERROR: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"[{name}] rows-only: {len(sdf)} rows, cols={list(sdf.columns)}")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"[{name}] ORACLE ERROR: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        # normalization/compare can itself raise on exotic result shapes
        # (tz-aware timestamps, ndarray cells) — record ONE failure and
        # keep checking the remaining queries instead of crashing the gate
        try:
            s, o = normalize(sdf), normalize(odf)
        except Exception as e:
            print(f"[{name}] NORMALIZE ERROR: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        ok_rows = len(s) == len(o)
        ok_cols = list(s.columns) == list(o.columns)
        ok_vals = False
        if ok_rows and ok_cols:
            try:
                pd.testing.assert_frame_equal(
                    s, o, check_dtype=False, check_exact=False, rtol=0, atol=0
                )
                ok_vals = True
            except AssertionError as e:
                msg = str(e).split("\n")[:6]
            except Exception as e:
                msg = [f"COMPARE ERROR: {type(e).__name__}: {str(e)[:200]}"]
        status = "OK" if (ok_rows and ok_cols and ok_vals) else "FAIL"
        print(f"[{name}] {status} spark_rows={len(s)} oracle_rows={len(o)} cols_match={ok_cols}")
        if status == "FAIL":
            failures.append(name)
            if ok_rows and ok_cols:
                print("   " + " | ".join(msg))
            else:
                print(f"   spark cols={list(s.columns)}\n   oracle cols={list(o.columns)}")
            if len(s) and len(o):
                try:
                    merged = s.astype(str).merge(o.astype(str), how="outer", indicator=True)
                    diff = merged[merged["_merge"] != "both"]
                    print(diff.head(6).to_string())
                except Exception:
                    pass
    if skipped:
        print("\nSKIPPED:", skipped)
    print("\nFAILURES:", failures if failures else "none")
    spark.stop()


if __name__ == "__main__":
    main()
