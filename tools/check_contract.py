"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and order-insensitive values. Usage:

    python tools/check_contract.py [sf_dir] [name ...]

With names, only those entries run; a name that is not a contract entry
is an error (exit 1). The summary counts the entries that ran.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ivfadc_spark.session import get_spark  # noqa: E402
from ivfadc_spark.sources.tables import TABLES  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == bool:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as E

    qs, os_ = E.queries(), E.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"not contract entries: {', '.join(unknown)}")
        return 1
    spark = get_spark("contract-check", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    failures = []
    ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error {type(ex).__name__}: {str(ex)[:300]}")
            failures.append(name)
            continue
        if name not in os_:
            print(f"ok?  {name}: rows={len(got)} (no oracle; rows-only) {time.time()-t0:.1f}s")
            continue
        try:
            want = con.sql(os_[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error {str(ex)[:300]}")
            failures.append(name)
            continue
        g, w = normalize(got), normalize(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}")
            failures.append(name)
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} vs {len(w)}")
            failures.append(name)
            continue
        if not g.equals(w):
            neq = (g != w).any(axis=1)
            print(f"FAIL {name}: {int(neq.sum())}/{len(g)} rows differ; first:")
            print(pd.concat([g[neq].head(3), w[neq].head(3)], keys=["got", "want"]))
            failures.append(name)
            continue
        print(f"PASS {name}: rows={len(g)} {time.time()-t0:.1f}s")
    print(f"\n{ran - len(failures)}/{ran} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
