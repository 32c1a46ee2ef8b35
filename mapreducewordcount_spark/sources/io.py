"""Parquet and binary-file helpers beyond the reference's local text files.

The reference reads and writes only newline text on a shared local
filesystem (SURVEY.md §2.4). This module holds the two file-level
operations Spark's reader and writer do not give in one call:

- ``compact_parquet``: rewrite a small-file parquet dataset into
  target-size files, optionally range-clustered, committed by rename;
- ``read_binary_files``: ingest raw files (images, audio) as rows in
  the engine's media contract.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def compact_parquet(spark: SparkSession, path: str,
                    target_bytes: int = 128 * 1024 * 1024,
                    sort_by: list[str] | None = None) -> int:
    """Rewrite a parquet dataset into ~``target_bytes`` files; returns
    the output file count.

    The small-files problem is the tax every streaming/incremental
    sink pays: thousands of KB-sized files turn listing and scan
    planning into the bottleneck long before I/O does. The rewrite
    sizes the file count from the dataset's actual on-disk bytes,
    then either round-robins (``repartition(n)``, uniform sizes) or
    range-partitions on ``sort_by`` (globally clustered output —
    min/max pruning works on the sort keys afterwards).

    The new copy is written to ``<path>.__compact_tmp__`` and committed
    by two renames: the dataset moves aside to ``<path>.__compact_old__``,
    then the new copy takes its place, and the aside copy is removed.
    A crash inside that commit leaves the aside copy behind and, between
    the renames, no ``path`` at all. The next call finishes the
    interrupted commit before it compacts: the temp copy is complete,
    because it is written before the first rename.
    """
    path = path.rstrip("/")
    tmp = path + ".__compact_tmp__"
    old = path + ".__compact_old__"
    if os.path.exists(old):
        if not os.path.exists(path):
            os.rename(tmp, path)
        shutil.rmtree(old)

    size = sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path)
               for f in files if f.endswith(".parquet"))
    n = max(1, -(-size // target_bytes))  # ceil division
    df = spark.read.parquet(path)
    df = (df.repartitionByRange(n, *sort_by).sortWithinPartitions(*sort_by)
          if sort_by else df.repartition(n))
    df.write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))


def read_binary_files(spark: SparkSession, path: str,
                      glob: str | None = None) -> DataFrame:
    """Ingest raw files as binary rows — the multimodal entry point.

    Built-in ``binaryFile`` source: (path, modificationTime, length,
    content). Output is renamed to the engine's media contract
    (media_id, n_bytes, payload + source_path) so it feeds
    ``operators/multimodal.extract_image_features`` directly.
    ``media_id`` is ``xxhash64(path)`` — stable across re-ingestion,
    independent of listing order.

    Scale notes: the source parallelizes by files (one row per file;
    ``maxPartitionBytes`` groups small files per task); pair it with
    ``operators/multimodal.size_bucketed`` before decode so a task's
    resident decoded set is byte-bounded. Filter with ``glob``
    (``pathGlobFilter``) at the LISTING, not after — non-matching
    files are never opened.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    return df.select(
        F.xxhash64("path").alias("media_id"),
        F.col("path").alias("source_path"),
        F.col("length").alias("n_bytes"),
        F.col("content").alias("payload"))
