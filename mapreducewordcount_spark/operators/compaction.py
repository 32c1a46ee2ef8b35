"""Small-file compaction planning: assign source files to
target-size output bins.

The operational inverse of the reference's split step — the
reference driver cuts big inputs into worker-sized ranges
(reference ``src/driver.py:41-68``, LPT bin-packing, which the
engine's corpus scan gets from Spark's size-sorted file packing under
``sources/text.per_file_splits``); a 100 TB table that has been ingested
incrementally has the opposite problem: millions of KB-scale files
whose per-file open/footer/seek overhead dominates scan time, fixed
by periodically rewriting them into ~target-size outputs.

Planning shape: the FILE LISTING is metadata — million-row scale
even for a 100 TB table, i.e. tiny next to the data — so the plan is
computed relationally over the listing and only the REWRITE touches
bytes. Within each table partition, files are packed in layout order
(so compaction preserves any range/cluster layout) by the running-sum
rule: bin = floor(exclusive_cumsum(size) / target). One window over
the listing, partitioned by the table partition — no global sort, no
single-partition window. Classic greedy guarantee: every bin except
a partition's last holds ≥ target/2... bins can exceed target by at
most one file, and a single file larger than target gets its own
overflow region — both acceptable for scan sizing (the point is
killing the per-file constant, not byte-exact bins).

Cross-partition balance (many small partitions → skewed bin counts)
is the LPT problem the reference's splitter solves; when bins must
also balance across partitions, let Spark's built-in file packing do
it on the rewrite's scan, as ``sources/text.per_file_splits`` does
for the corpus.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def plan_compaction(files: DataFrame, part_cols: Sequence[str],
                    order_cols: Sequence[str | Column],
                    size_col: str, target_bytes: int,
                    bin_col: str = "bin") -> DataFrame:
    """Add ``bin_col``: the target-size output bin of each file
    within its table partition, packing in ``order_cols`` order.

    ``order_cols`` must totally order the files within a partition
    (file path, or the layout key for clustered tables) — the bin
    assignment is deterministic given that order.
    """
    if target_bytes <= 0:
        raise ValueError(f"target_bytes={target_bytes} must be positive")
    w = (Window.partitionBy(*part_cols).orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, -1))
    before = F.coalesce(F.sum(size_col).over(w), F.lit(0))
    return files.withColumn(
        bin_col, F.floor(before / F.lit(target_bytes)).cast("int"))
