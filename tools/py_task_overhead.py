#!/usr/bin/env python3
"""Python worker CPU spent between consecutive UDF calls.

Usage: python tools/py_task_overhead.py [--tasks N]

Runs N single-partition ``mapInPandas`` jobs one after another, each
with one trivial task whose function imports the package. Each call
records its worker's pid and ``time.process_time()`` when it starts and
when it ends. Within one worker, the CPU from the end of one call to
the start of the next is what the reused worker spends outside the
UDF per task: finishing the previous task, reading the next one,
PySpark's path setup, unpickling the function and Arrow set-up.
Waiting between tasks costs no CPU, so it does not show.

Prints the median, minimum and maximum of those gaps over every
worker, with the number of gaps and workers.
"""

from __future__ import annotations

import argparse
import statistics
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def task_clock(batches):
    import os
    import time

    import pandas as pd

    import mapreducewordcount_spark  # noqa: F401

    start = time.process_time()
    for _ in batches:
        pass
    yield pd.DataFrame({"pid": [os.getpid()], "start": [start],
                        "end": [time.process_time()]})


def worker_gaps(rows) -> list[float]:
    """CPU seconds from one call's end to the next call's start, per pid."""
    calls = defaultdict(list)
    for pid, start, end in rows:
        calls[pid].append((start, end))
    gaps = []
    for spans in calls.values():
        spans.sort()
        gaps += [b[0] - a[1] for a, b in zip(spans, spans[1:])]
    return gaps


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tasks", type=int, default=20)
    args = ap.parse_args(argv)
    if args.tasks < 2:
        ap.error("--tasks must be at least 2")

    from mapreducewordcount_spark.session import get_spark

    spark = get_spark("py_task_overhead")
    rows = []
    for _ in range(args.tasks):
        df = spark.range(1, numPartitions=1).mapInPandas(
            task_clock, "pid long, start double, end double")
        rows += [tuple(r) for r in df.collect()]
    gaps = worker_gaps(rows)
    workers = len({r[0] for r in rows})
    if not gaps:
        print(f"{args.tasks} tasks ran on {workers} workers: no worker "
              "ran two")
        return 1
    print(f"{len(gaps)} gaps over {workers} workers, worker CPU between "
          f"UDF calls: median {statistics.median(gaps):.4f} s, "
          f"min {min(gaps):.4f} s, max {max(gaps):.4f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
