"""Rewrite-vs-append state-commit bench (VERDICT r9 next#6 'Done'
criterion): seed a chunk-index-shaped state with N rows, then time K
micro-batch commits of B new rows each under both state formats —
plain versioned parquet (full state rewrite per version) and the
manifest append seam (one new segment + tiny JSON per version).

Usage: python tools/state_bench.py [n_state] [n_batches] [batch_rows]
Prints one JSON line; numbers land in SCALE.md's round-10 section.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    n_state = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    batch_rows = int(sys.argv[3]) if len(sys.argv) > 3 else 10_000

    from mapreducewordcount_spark.session import get_spark
    from mapreducewordcount_spark.streaming import state

    spark = get_spark("state_bench")
    root = tempfile.mkdtemp(prefix="state_bench_")

    def index_rows(start: int, n: int):
        return (spark.range(start, start + n)
                .select(F.md5(F.col("id").cast("string"))
                        .alias("chunk_md5"),
                        (F.pmod(F.col("id"), 480) + 32).cast("int")
                        .alias("length")))

    seed = index_rows(0, n_state)
    out: dict = {"n_state": n_state, "n_batches": n_batches,
                 "batch_rows": batch_rows}

    # The probe (anti-join / distinct against the state) is identical
    # work under both formats; the formats differ in the COMMIT. So
    # per batch: build the post-probe frame, force it with an eager
    # localCheckpoint, and time ONLY the state commit.

    # --- versioned: full state rewrite per batch ----------------------
    vdir = f"{root}/versioned"
    seed.write.parquet(f"{vdir}/v0")
    commit_s = loop_s = 0.0
    for b in range(n_batches):
        t_loop = time.perf_counter()
        index = spark.read.parquet(f"{vdir}/v{b}")
        fresh = index_rows(n_state + b * batch_rows, batch_rows)
        new_index = (index.unionByName(fresh).distinct()
                     .localCheckpoint(eager=True))
        t0 = time.perf_counter()
        state.write_version(new_index, vdir, b + 1)
        commit_s += time.perf_counter() - t0
        loop_s += time.perf_counter() - t_loop
    out["versioned_commit_s"] = round(commit_s / n_batches, 3)
    out["versioned_batch_s"] = round(loop_s / n_batches, 3)

    # --- manifest: append segment + JSON swap ------------------------
    mdir = f"{root}/manifest"
    state.seed_manifest_state(seed, mdir, ["chunk_md5"])
    commit_s = loop_s = 0.0
    for b in range(n_batches):
        t_loop = time.perf_counter()
        index = state.read_manifest_state(spark, mdir, b)
        fresh = index_rows(n_state + b * batch_rows, batch_rows)
        new = (fresh.join(index.select("chunk_md5"), "chunk_md5",
                          "left_anti").localCheckpoint(eager=True))
        t0 = time.perf_counter()
        state.commit_append(new, mdir, b, b + 1)
        commit_s += time.perf_counter() - t0
        loop_s += time.perf_counter() - t_loop
    out["manifest_commit_s"] = round(commit_s / n_batches, 3)
    out["manifest_batch_s"] = round(loop_s / n_batches, 3)
    out["commit_speedup"] = round(out["versioned_commit_s"]
                                  / out["manifest_commit_s"], 2)

    # read-path cost of the segmented layout (union of K+1 segments)
    t0 = time.perf_counter()
    n = state.read_manifest_state(spark, mdir).count()
    out["manifest_full_read_s"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    n2 = spark.read.parquet(f"{vdir}/v{n_batches}").count()
    out["versioned_full_read_s"] = round(time.perf_counter() - t0, 3)
    assert n == n2 == n_state + n_batches * batch_rows, (n, n2)

    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
