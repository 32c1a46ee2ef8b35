"""Text-corpus source (reference stages D1-D3, SURVEY.md §2.1).

The reference lists the input dir, keeps ``*.txt`` only
(``src/driver.py:93``), LPT-bin-packs files into N map splits by size
(``src/driver.py:41-68,95``) and reads line-by-line
(``src/worker.py:70-72``). All three collapse into one Spark scan:

- extension predicate → ``pathGlobFilter`` (pruned at listing time,
  never read — the scan-level equivalent of the ``.endswith('.txt')``
  filter);
- size-balanced splits → ``FileSourceScanExec``'s packing of
  size-sorted files into partitions, run under ``per_file_splits``
  (below): every file under 4 MB is its own split, largest first —
  the LPT order, with no custom pass;
- line iteration → the text source's one-row-per-line contract.

At 100 TB the same scan works unchanged: listing is distributed,
splits are by byte range (a single huge file still parallelizes,
which the reference's whole-file assignment could not do).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

MIN_PARTITION_NUM = "spark.sql.files.minPartitionNum"


def read_corpus(spark: SparkSession, input_dir: str,
                glob: str = "*.txt") -> DataFrame:
    """Scan a directory of text files → ``DataFrame[value: string]``.

    Its map splits are balanced only in actions run under
    ``per_file_splits`` (the word-count sink runs there)."""
    return spark.read.option("pathGlobFilter", glob).text(input_dir)


@contextmanager
def per_file_splits(spark: SparkSession) -> Iterator[None]:
    """Run the enclosed actions with ``files.minPartitionNum`` =
    3 × slots, then restore the session's value.

    Spark sizes file splits as ``min(maxPartitionBytes,
    max(openCostInBytes, bytes / minPartitionNum))``, where each file's
    bytes count its 4 MB open cost. At the default (one × slots) a
    corpus of a few MB of ``.txt`` files gets ~11 MB splits on 4 slots,
    and the size-sorted packing puts the two largest files into one
    task that then bounds the map stage. At 3 × the split size falls to
    its 4 MB ``openCostInBytes`` floor, so every file under 4 MB is its
    own split, handed out largest first — the reference's LPT balancer
    (``src/driver.py:41-68``).

    The split size is read when an action plans its scans, from the
    session that read the files, so the setting must wrap the action,
    not the read. It stays out of the session's defaults because it
    would reach every file scan: a directory of more small files than
    slots (state versions, manifest segments) would get 3 × slots
    splits instead of about one per slot, and on 1-2 slots the larger
    tables would re-split. Actions that other threads run on the same
    session meanwhile see the setting too.
    """
    old = spark.conf.get(MIN_PARTITION_NUM, None)
    spark.conf.set(MIN_PARTITION_NUM,
                   str(3 * spark.sparkContext.defaultParallelism))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(MIN_PARTITION_NUM)
        else:
            spark.conf.set(MIN_PARTITION_NUM, old)
