"""The reference's entire query surface as one DataFrame expression.

Pipeline (SURVEY.md §2.1, stages D1-D14 of the reference):

    scan(*.txt) → flatMap(tokenize) → strip-punct → filter(non-empty)
    → lower → partition(ord(w[0]) % M) → count-by-key
    → sort-within-partition → sink("{word} {count}")

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
KeyError (``src/worker.py:126``) — empty buckets here are empty
output partitions; and the worker early-exit liveness bug
(``src/driver.py:199``) — no analog exists.
"""

from __future__ import annotations

import os

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
    """Reference-shaped text sink (stages D9,D12,D13,D14).

    One directory per bucket (``bucket=<b>/``, the engine's
    ``out-<reduce_id>`` analog), each file lexicographically sorted by
    code point (``src/worker.py:136``; Spark's UTF8-binary collation),
    rows rendered ``"{word} {count}"`` single-space LF
    (``src/worker.py:137``). ``mode("overwrite")`` replaces the
    reference's rmtree+mkdir reset (``src/driver.py:24-39``).

    ``repartition(m, bucket)`` pins exactly one output file per bucket
    — parity wants exactly M files. At real scale drop the repartition
    and let each bucket write many files; the bucket → file-set
    mapping (not file *count*) is the durable contract.

    The write runs under ``per_file_splits``, so the corpus scan gives
    each input file its own map split, largest first.
    """
    out = (counts
           .withColumn("bucket", bucket_expr("word", m))
           .repartition(m, "bucket")
           # sort by (bucket, word): satisfies the partitioned writer's
           # required ordering on the partition column, so it keeps our
           # secondary word order instead of re-sorting by bucket alone
           .sortWithinPartitions("bucket", "word")
           .select("bucket",
                   F.concat_ws(" ", "word", "count").alias("value")))
    with per_file_splits(counts.sparkSession):
        out.write.mode("overwrite").partitionBy("bucket").text(out_dir)


def rename_to_reference_layout(out_dir: str, m: int) -> None:
    """Flatten ``bucket=<b>/part-*`` dirs to flat ``out-<b>`` files.

    The reference names reduce outputs ``out-<reduce_task_id>``
    (``src/worker.py:133-137``); Spark names them
    ``bucket=<b>/part-<uuid>``. This post-write shim concatenates
    each bucket's part files (already sorted; single file per bucket
    under the parity writer) into the reference's flat name, emitting
    an EMPTY ``out-<b>`` for buckets with no words — the case where
    the reference itself KeyErrors (``src/worker.py:126``).
    """
    import shutil

    for b in range(m):
        target = os.path.join(out_dir, f"out-{b}")
        src_dir = os.path.join(out_dir, f"bucket={b}")
        with open(target, "wb") as out:
            if os.path.isdir(src_dir):
                for part in sorted(os.listdir(src_dir)):
                    if part.startswith("part-"):
                        with open(os.path.join(src_dir, part), "rb") as f:
                            shutil.copyfileobj(f, out)
        if os.path.isdir(src_dir):
            shutil.rmtree(src_dir)
