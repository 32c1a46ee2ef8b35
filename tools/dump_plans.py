#!/usr/bin/env python
"""Dump ``explain("formatted")`` for headline queries to text files.

Usage: python tools/dump_plans.py <outdir> [suffix] [query ...]

Writes ``<outdir>/<query>_<suffix>.txt`` (suffix defaults to
``before``) for every named query, or every HEADLINE query when none
are named. Plan capture only — nothing is executed, so this is safe
to run in a contended window. The optimization-round deliverable
(``plans/r13/*_{before,after}.txt``) is produced with this tool so
the judge can diff plan claims against committed text.

Session counters are normalized before writing — expression ids
(``#123`` → ``#N``), exchange plan ids, lambda variable suffixes and
RDD ids — and the session's warehouse directory (``get_spark`` makes
a fresh one per session) becomes ``<warehouse>``, so two checkouts'
dumps compare with plain ``diff``: a line that differs is a plan
change, not a counter that moved because an earlier query built more
or fewer expressions. The cache is cleared after each query, so no
plan reads a fragment an earlier query persisted.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_COUNTERS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(lambda \w+?)_\d+"), r"\1_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
)


def normalize_plan(text: str, warehouse: str | None = None) -> str:
    """Replace the session-counter ids in an explain dump with ``N``
    and the ``warehouse`` directory, if given, with ``<warehouse>``."""
    if warehouse:
        text = text.replace(warehouse.removeprefix("file:"), "<warehouse>")
    for pattern, repl in _COUNTERS:
        text = pattern.sub(repl, text)
    return text


def main() -> int:
    outdir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    from bench import HEADLINE
    from mapreducewordcount_spark.queries import all_queries
    from mapreducewordcount_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump-plans")
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    specs = all_queries()
    if not names:
        names = list(HEADLINE)
    rc = 0
    for name in names:
        try:
            df = specs[name].spark_fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(outdir, f"{name}_{suffix}.txt"),
                      "w") as f:
                f.write(normalize_plan(buf.getvalue(), warehouse))
            print(f"{name}: ok")
        except Exception as exc:  # noqa: BLE001
            rc = 1
            print(f"{name}: FAILED {type(exc).__name__}: {exc}"[:300])
        spark.catalog.clearCache()
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
