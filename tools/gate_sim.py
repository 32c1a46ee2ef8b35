#!/usr/bin/env python
"""Hostile-session gate simulation.

Runs every oracled query from ``__spark_entry__.py`` under a
deliberately foreign SparkSession and compares values EXACTLY against
the DuckDB oracle — the strongest local predictor of the driver's
correctness gate, which constructs its own session.

Axes covered (pick via argv, default runs all):
  vanilla   — no engine configs at all
  tz        — session timezone Asia/Tokyo
  parts     — 7 shuffle partitions (different summation grouping)
  ansi      — spark.sql.ansi.enabled flipped from default
  single    — local[1], 1 shuffle partition

Each axis runs in a fresh interpreter (a JVM reuses the first
session's configs otherwise), with a temporary working directory, so
what a foreign session writes relative to its cwd (the default
``spark-warehouse/`` of ``saveAsTable``) stays out of the checkout
and is removed after the axis. This harness caught a real bug in
round 1: ``round(avg(money), 4)`` flipping on exact rounding
boundaries with summation order.

Usage: python tools/gate_sim.py [axis ...]
"""

from __future__ import annotations

import math
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

AXES = {
    "vanilla": {},
    "tz": {"spark.sql.session.timeZone": "Asia/Tokyo"},
    "parts": {"spark.sql.shuffle.partitions": "7"},
    "ansi": {"__flip_ansi__": "1"},
    "single": {"__master__": "local[1]", "spark.sql.shuffle.partitions": "1"},
}

_CHILD = r"""
import json, math, sys
import duckdb
import pandas as pd
sys.path.insert(0, {repo!r})
import importlib.util
spec = importlib.util.spec_from_file_location("entry_mod", {entry!r})
m = importlib.util.module_from_spec(spec); spec.loader.exec_module(m)
from pyspark.sql import SparkSession
conf = json.loads({conf!r})
master = conf.pop("__master__", "local[16]")
flip_ansi = conf.pop("__flip_ansi__", None)
b = SparkSession.builder.master(master).config("spark.ui.enabled", "false")
for k, v in conf.items():
    b = b.config(k, v)
if flip_ansi:
    probe = SparkSession.builder.master("local[2]").getOrCreate()
    cur = probe.conf.get("spark.sql.ansi.enabled")
    probe.stop()
    b = b.config("spark.sql.ansi.enabled", "false" if cur == "true" else "true")
spark = b.appName("gate-sim").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
con = duckdb.connect()
sf_dir = {sf_dir!r}
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute("CREATE VIEW " + t + " AS SELECT * FROM '" + sf_dir + "/" + t + ".parquet'")
def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]): df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]): df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]): df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)
qs, osql = m.queries(), m.oracle_sql()
bad = []
for name in sorted(osql):
    try:
        got = canon(qs[name](spark, sf_dir).toPandas())
        want = canon(con.execute(osql[name]).df())
        ok = list(got.columns) == list(want.columns) and len(got) == len(want)
        if ok:
            for c in got.columns:
                for x, y in zip(got[c].tolist(), want[c].tolist()):
                    if isinstance(x, float) and isinstance(y, float):
                        if not (x == y or (math.isnan(x) and math.isnan(y))):
                            ok = False; break
                    elif not (x == y or (pd.isna(x) and pd.isna(y))):
                        ok = False; break
                if not ok: break
        if not ok: bad.append(name)
    except Exception as e:
        bad.append(name + " EXC:" + str(e)[:80])
    spark.catalog.clearCache()
print("MISMATCHES:", bad if bad else "NONE")
sys.exit(1 if bad else 0)
"""


def main() -> int:
    import json

    axes = sys.argv[1:] or list(AXES)
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")
    entry = os.path.join(REPO, "__spark_entry__.py")
    rc = 0
    for axis in axes:
        code = _CHILD.format(repo=REPO, entry=entry,
                             conf=json.dumps(AXES[axis]), sf_dir=sf_dir)
        print(f"=== axis: {axis}")
        with tempfile.TemporaryDirectory(prefix="gate-sim-") as cwd:
            r = subprocess.run([sys.executable, "-c", code], cwd=cwd,
                               capture_output=True, text=True)
        tail = [ln for ln in r.stdout.splitlines() if "MISMATCHES" in ln]
        print(tail[-1] if tail else f"NO OUTPUT (rc={r.returncode})\n{r.stderr[-500:]}")
        rc |= r.returncode
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
