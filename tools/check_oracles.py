"""Local mimic of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row
count / columns / order-insensitive values. Each line ends with the
query's Spark wall time (the query call plus ``toPandas``).

Usage: python tools/check_oracles.py [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from heavy_hitters_spark.spark import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            # floats compare with tolerance, but stay floats: the driver's
            # value hash distinguishes int64 from float64 (r02 evidence).
            df[c] = df[c].round(6)
        elif df[c].dtype.kind in "iu":
            # ...while integer WIDTH differences (int32 vs int64) hash
            # equal there (r02: several int32/int64 pairs were green).
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> None:
    only = set(sys.argv[1:])
    spark = get_spark("local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, SF).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: spark error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        wall = f" ({time.perf_counter() - t0:.2f} s)"
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows, cols={list(sdf.columns)}{wall}")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: oracle error {e}")
            failures.append(name)
            continue
        a, b = canon(sdf), canon(odf)
        ok_cols = list(a.columns) == list(b.columns)
        ok_rows = len(a) == len(b)
        ok_vals = False
        if ok_cols and ok_rows:
            try:
                # check_dtype=True mimics the driver's strict value-hash:
                # an int64 vs float64 materialization difference is a FAIL
                # there even when values are numerically identical.
                pd.testing.assert_frame_equal(
                    a, b, check_dtype=True, check_exact=False, atol=1e-6
                )
                ok_vals = True
            except AssertionError as e:
                msg = str(e).splitlines()[0]
        if ok_cols and ok_rows and ok_vals:
            print(f"[OK]   {name}: {len(a)} rows{wall}")
        else:
            print(
                f"[FAIL] {name}: rows {len(a)} vs {len(b)}, cols {list(a.columns)} vs {list(b.columns)}"
                + ("" if ok_vals or not (ok_cols and ok_rows) else f", values: {msg}")
                + wall
            )
            failures.append(name)
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
