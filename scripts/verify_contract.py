"""Mimic the driver's correctness gate: run every queries() entry on
Spark at sf0.01 and its oracle_sql() twin in DuckDB; compare row count,
column names, and order-insensitive values."""

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from kgpipe.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    spark = get_spark("verify")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"{name}: SPARK ERROR {str(e)[:500]}")
            continue
        if name not in oracles:
            print(f"{name}: rows-only, {len(sdf)} rows "
                  f"({time.time()-t0:.1f}s)")
            if len(sdf) == 0:
                failures.append((name, "0 rows"))
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"{name}: DUCKDB ERROR {str(e)[:500]}")
            continue
        s, o = norm(sdf), norm(odf)
        ok_cols = list(s.columns) == list(o.columns)
        ok_rows = len(s) == len(o)
        ok_vals = False
        if ok_cols and ok_rows:
            try:
                pd.testing.assert_frame_equal(
                    s, o, check_dtype=False, check_exact=False, rtol=0, atol=1e-9
                )
                ok_vals = True
            except AssertionError as e:
                ok_vals = False
                detail = str(e).split("\n")[0:6]
        status = "OK" if (ok_cols and ok_rows and ok_vals) else "FAIL"
        print(f"{name}: {status} spark={len(s)} duck={len(o)} "
              f"cols={'OK' if ok_cols else (list(s.columns), list(o.columns))} "
              f"({time.time()-t0:.1f}s)")
        if status == "FAIL":
            if ok_cols and ok_rows and not ok_vals:
                print("   value diff:", "; ".join(detail))
                merged = s.compare(o) if s.shape == o.shape else None
                if merged is not None and len(merged):
                    print(merged.head(5))
            failures.append((name, "mismatch"))
    print("\nFAILURES:", [f[0] for f in failures] or "none")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
