"""Driver-mimic: run every queries() entry against its DuckDB oracle.

Usage: python tools/run_gate.py [sf_dir] [query ...]
Compares row count, column set, and order-insensitive values (sorted by
all columns), like the driver's CORRECTNESS gate.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

# this checkout's engine, wherever the checkout lives
sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from geodesk_gol_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("local[8]", app_name="gate-check")
    if os.environ.get("SPARK_GRAFT_STRICT_CODEGEN"):
        # audit mode: any janino/codegen failure anywhere in any gate
        # plan becomes a hard ENGINE ERROR instead of Spark's silent
        # interpreted-mode fallback (which is correct but slow at scale)
        spark.conf.set("spark.sql.codegen.fallback", "false")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        try:
            got = fn(spark, sf).toPandas()
        except Exception as e:
            print(f"{name}: ENGINE ERROR {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        t1 = time.time()
        if name not in os_:
            print(f"{name}: rows={len(got)} (rows-only, no oracle) "
                  f"[{t1 - t0:.1f}s]")
            continue
        try:
            want = con.execute(os_[name]).df()
        except Exception as e:
            print(f"{name}: ORACLE ERROR {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        t2 = time.time()
        g, w = norm(got), norm(want)
        status = "OK"
        if list(g.columns) != list(w.columns):
            status = f"SCHEMA MISMATCH {list(g.columns)} vs {list(w.columns)}"
        elif len(g) != len(w):
            status = f"ROWCOUNT MISMATCH {len(g)} vs {len(w)}"
        else:
            try:
                pd.testing.assert_frame_equal(g, w, check_dtype=False)
            except AssertionError as e:
                status = "VALUE MISMATCH: " + str(e).splitlines()[0][:150]
            else:
                # the driver hashes FORMATTED values, so int64 9201 vs
                # float64 9201.0 is a hash-red row even when values match
                bad = [
                    c for c in g.columns
                    if (pd.api.types.is_float_dtype(g[c])
                        != pd.api.types.is_float_dtype(w[c]))
                ]
                if bad:
                    status = (
                        "DTYPE DIFF (driver hash-red): "
                        + ", ".join(f"{c}: {g[c].dtype} vs {w[c].dtype}"
                                    for c in bad)
                    )
        if status != "OK":
            failures.append(name)
        print(f"{name}: {status} rows={len(g)} [spark {t1 - t0:.1f}s, "
              f"duck {t2 - t1:.1f}s]")
    print(f"\n{checked - len(failures)}/{checked} OK; failures: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
