"""Text-corpus source (reference stages D1-D3, SURVEY.md §2.1).

The reference lists the input dir, keeps ``*.txt`` only
(``src/driver.py:93``), LPT-bin-packs files into N map splits by size
(``src/driver.py:41-68,95``) and reads line-by-line
(``src/worker.py:70-72``). All three collapse into one Spark scan:

- extension predicate → ``pathGlobFilter`` (pruned at listing time,
  never read — the scan-level equivalent of the ``.endswith('.txt')``
  filter);
- size-balanced splits → ``FileSourceScanExec``'s bin-packing of
  files into partitions, tuned via ``spark.sql.files.maxPartitionBytes``
  / ``openCostInBytes`` instead of a custom LPT pass;
- line iteration → the text source's one-row-per-line contract.

At 100 TB the same scan works unchanged: listing is distributed,
splits are by byte range (a single huge file still parallelizes,
which the reference's whole-file assignment could not do).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_corpus(spark: SparkSession, input_dir: str,
                glob: str = "*.txt") -> DataFrame:
    """Scan a directory of text files → ``DataFrame[value: string]``."""
    return spark.read.option("pathGlobFilter", glob).text(input_dir)
