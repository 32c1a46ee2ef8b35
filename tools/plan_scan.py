#!/usr/bin/env python
"""Mechanical scale-killer scan over the ENTIRE query registry.

Builds every registry query's DataFrame at the given sf and inspects
the pre-execution physical plan (``sparkPlan`` — no job runs for the
plan itself, though model-building queries execute their bounded
driver-side stages during construction) for the two shapes that do
not survive 100 TB:

- ``CartesianProduct`` — always a bug in this codebase (bounded
  cross joins are written as broadcast NLJs of 1-row/≤100-row
  frames);
- ``BroadcastNestedLoopJoin`` — reported with context so the known
  bounded frames (scalar totals, query pools, grids) can be
  eyeballed; anything joining two corpus-sized sides here is a
  regression.

Prints one line per flagged query + a summary; exit 1 on any
CartesianProduct. Round-9/10 audits did this by hand for the new
queries each round; this makes the whole-registry claim mechanical.

Usage: python tools/plan_scan.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from mapreducewordcount_spark.queries import all_queries  # noqa: E402
from mapreducewordcount_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-scan")
    cart, bnl, errs = [], [], []
    specs = all_queries()
    for name, spec in specs.items():
        try:
            df = spec.spark_fn(spark, sf)
            plan = df._jdf.queryExecution().sparkPlan().toString()
        except Exception as exc:  # noqa: BLE001
            errs.append((name, str(exc)[:100]))
            continue
        finally:
            spark.catalog.clearCache()
        if "CartesianProduct" in plan:
            cart.append(name)
        n = plan.count("BroadcastNestedLoopJoin")
        if n:
            bnl.append((name, n))
    print(f"scanned {len(specs)} queries at {sf}")
    print(f"CartesianProduct: {cart if cart else 'NONE'}")
    print(f"BroadcastNestedLoopJoin ({len(bnl)} queries — verify each "
          "is a bounded frame):")
    for name, n in bnl:
        print(f"  {name}: {n}")
    if errs:
        print(f"errors ({len(errs)}):")
        for name, e in errs:
            print(f"  {name}: {e}")
    return 1 if cart or errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
