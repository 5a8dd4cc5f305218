"""Simulate the driver's correctness gate: run each __spark_entry__ query on
Spark and its oracle on DuckDB at sf0.01; compare row count, column names,
and order-insensitive values.

Usage: python scripts/check_oracle.py [--all|--extended] [sf_dir] [query ...]

--all runs the graded 50-query window plus the extended set; --extended
runs only the extended set.  Default: the graded window.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else str(v)
            )
    df = df.sort_values(by=list(df.columns), kind="stable").reset_index(drop=True)
    return df


def main() -> int:
    argv = list(sys.argv[1:])
    which = "window"
    if argv and argv[0] in ("--all", "--extended"):
        which = argv.pop(0).lstrip("-")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from bloomfilter_spark.plans.session import get_spark

    # Overridable so the same harness doubles as a partition-count
    # invariance check: every catalog result must be identical at any
    # parallelism / shuffle-partition count (the property that matters at
    # 1000 executors).  Swept green at local[3]/5, local[8]/8 (default)
    # and local[32]/32 on the final round-5 code.
    spark = get_spark(
        app_name="oracle-check",
        master=os.environ.get("ORACLE_MASTER", "local[8]"),
        shuffle_partitions=int(os.environ.get("ORACLE_SHUFFLE", "8")),
    )

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = {} if which == "extended" else entrymod.queries()
    oracles = {} if which == "extended" else entrymod.oracle_sql()
    if which in ("all", "extended"):
        qs.update(entrymod.queries_extended())
        oracles.update(entrymod.oracle_sql_extended())
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"SKIP {name}: rows-only check — {len(got)} rows")
            continue
        try:
            want = con.execute(sql).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {e}")
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            failures.append(name)
            print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)}")
            continue
        if len(g) != len(w):
            failures.append(name)
            print(f"FAIL {name}: rows {len(g)} != {len(w)}")
            continue
        eq = g.astype(str).equals(w.astype(str))
        if not eq:
            failures.append(name)
            diff = (g.astype(str) != w.astype(str)).any(axis=1)
            print(f"FAIL {name}: values differ on {int(diff.sum())}/{len(g)} rows")
            print("  spark :", g[diff].head(3).to_dict("records"))
            print("  oracle:", w[diff].head(3).to_dict("records"))
            continue
        print(f"OK   {name}: {len(g)} rows match")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall queries match oracles")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
