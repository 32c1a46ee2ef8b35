"""The reference's entire query surface as one DataFrame expression.

Pipeline (SURVEY.md §2.1, stages D1-D14 of the reference):

    scan(*.txt) → flatMap(tokenize) → strip-punct → filter(non-empty)
    → lower → count-by-key → partition(ord(w[0]) % M)
    → sort-within-partition → sink("{word} {count}")

Spark runs the stages up to the count and each word's bucket; the
sink collects ``(bucket, word, count)`` as Arrow, and the driver sorts
it and writes the ``out-<b>`` files.

Spark-first mapping: the manual shuffle via ``mr-<map>-<bucket>``
intermediate files (``src/worker.py:76-80``, one file-open *per
word*) is Spark's sort-based shuffle; the map→reduce barrier
(``src/driver.py:131``) is the ShuffleMapStage boundary; the
``Counter`` reduce (``src/worker.py:122-131``) is a partial+final
HashAggregate — Spark's map-side combine shrinks the shuffle by
~vocabulary/corpus ratio, which at 100 TB is the difference between
shuffling terabytes of raw tokens and gigabytes of partial counts.
(The reference forbade map-side combine for pedagogy,
``instructions/instruction.md:41``; parity is defined on final
output, so we keep the combine — SURVEY.md §2.1 D11.)

Quirks consciously NOT replicated (SURVEY.md §7): the empty-bucket
KeyError (``src/worker.py:126``) — an empty bucket here is an empty
``out-<b>`` file; and the worker early-exit liveness bug
(``src/driver.py:199``) — no analog exists.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.buckets import bucket_expr
from mapreducewordcount_spark.functions.tokenize import tokenize_expr, tokenize_parity
from mapreducewordcount_spark.sources.text import per_file_splits, read_corpus


def word_counts(lines: DataFrame, text_col: str = "value",
                mode: str = "native") -> DataFrame:
    """lines → ``DataFrame[word: string, count: bigint]``.

    ``mode='native'`` tokenizes each line with one regex scan
    (``tokenize_expr``), with no per-token higher-order function,
    which Spark would interpret outside codegen;
    ``mode='parity'`` routes through the Treebank tokenizer
    (Arrow-batched mapInPandas) for reference-exact token semantics.
    """
    if mode == "parity":
        words = tokenize_parity(lines, text_col=text_col)
    else:
        words = lines.select(F.explode(tokenize_expr(text_col)).alias("word"))
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("count"))


def wordcount_pipeline(spark: SparkSession, input_dir: str,
                       mode: str = "native") -> DataFrame:
    """End-to-end: corpus directory → word counts."""
    return word_counts(read_corpus(spark, input_dir), mode=mode)


def write_wordcount_output(counts: DataFrame, out_dir: str, m: int) -> None:
    """Reference-shaped text sink (stages D9,D12,D13,D14): one action.

    The counts are collected as one Arrow table of ``(bucket, word,
    count)``, so the count-by-key shuffle is the only one. The driver
    sorts it by ``(bucket, word)`` — Arrow compares strings as unsigned
    UTF-8 bytes, Spark's UTF8_BINARY collation and Python's code-point
    order (``src/worker.py:136``) — and writes ``out-<b>`` for every
    ``b < m``, one ``"{word} {count}"`` LF line per word
    (``src/worker.py:137``), an empty file for an empty bucket (where
    the reference itself KeyErrors, ``src/worker.py:126``). ``out_dir``
    is replaced first, the reference's rmtree+mkdir reset
    (``src/driver.py:24-39``).

    The driver holds the distinct-word table, bounded by
    ``spark.driver.maxResultSize``; the reference's reducer held a
    whole bucket in a ``Counter`` (SCALE.md, "Word count").

    The collect runs under ``per_file_splits``, so the corpus scan gives
    each input file its own map split, largest first.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    rows = counts.select(bucket_expr("word", m).alias("bucket"), "word",
                         "count")
    with per_file_splits(counts.sparkSession):
        table = rows.toArrow()
    table = table.sort_by([("bucket", "ascending"), ("word", "ascending")])

    def sep(text: bytes) -> pa.Scalar:
        return pa.scalar(text, pa.large_binary())

    # "{word} {count}\n" per row, the words kept as bytes like the text
    # writer kept them; then each bucket's run of rows joined into one
    # value (the table is sorted by bucket, so a bucket is a row range)
    lines = pc.binary_join_element_wise(
        table["word"].cast(pa.large_binary()), sep(b" "),
        table["count"].cast(pa.string()).cast(pa.large_binary()),
        sep(b"\n"), sep(b""))
    bounds = np.searchsorted(table["bucket"].to_numpy(), np.arange(m + 1))
    files = pc.binary_join(pa.LargeListArray.from_arrays(
        pa.array(bounds, pa.int64()), lines.combine_chunks()), sep(b""))
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    for b in range(m):
        with open(os.path.join(out_dir, f"out-{b}"), "wb") as f:
            f.write(files[b].as_buffer())


def rename_to_reference_layout(out_dir: str, m: int) -> None:
    """Does nothing: ``write_wordcount_output`` already writes the
    reference's flat ``out-<b>`` files. Kept for callers written
    against the older partitioned-write sink, whose ``bucket=<b>/``
    part files this step concatenated."""
