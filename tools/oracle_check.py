#!/usr/bin/env python
"""Targeted DuckDB oracle check: exact value comparison for NAMED
registry queries (the per-query core of tools/gate_sim.py, without
the fresh-interpreter axis fan-out) — the fast loop while iterating
on a query; gate_sim remains the pre-commit hostile sweep.

Usage: python tools/oracle_check.py q1 q2 ...  [--sf DIR]
"""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def canon(df):
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> int:
    import duckdb
    import pandas as pd

    import importlib.util

    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_DIR",
                            "/root/testdata/sf0.01")
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i:i + 2]
    spec = importlib.util.spec_from_file_location(
        "entry_mod", os.path.join(REPO, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    qs, osql = m.queries(), m.oracle_sql()

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[16]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "16")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir}/{t}.parquet'")

    rc = 0
    for name in args:
        if name not in qs:
            print(f"{name}: NOT IN REGISTRY")
            rc = 1
            continue
        got = canon(qs[name](spark, sf_dir).toPandas())
        spark.catalog.clearCache()
        want = canon(con.execute(osql[name]).df())
        ok = (list(got.columns) == list(want.columns)
              and len(got) == len(want))
        why = "" if ok else (f"cols {list(got.columns)} vs "
                             f"{list(want.columns)}; rows {len(got)} "
                             f"vs {len(want)}")
        if ok:
            for c in got.columns:
                for x, y in zip(got[c].tolist(), want[c].tolist()):
                    if isinstance(x, float) and isinstance(y, float):
                        same = (x == y or (math.isnan(x)
                                           and math.isnan(y)))
                    else:
                        same = (x == y or (pd.isna(x) and pd.isna(y)))
                    if not same:
                        ok, why = False, f"col {c}: {x!r} != {y!r}"
                        break
                if not ok:
                    break
        print(f"{name}: {'EXACT' if ok else 'MISMATCH ' + why}")
        rc |= 0 if ok else 1
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
