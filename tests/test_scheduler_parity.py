"""Scheduler-parity analogs (SURVEY.md §5 item 4, FIXTURES.md §F5).

The reference's eight TaskManager tests pin its scheduling behavior
(`tests/test_task_manager.py`). In Spark, scheduling is the
DAGScheduler's job; what remains observable — and therefore what
these tests restate — is the *data contract* those tests protected:
every file contributes exactly its own lines (assignment completeness
/ exclusivity), non-matching files are excluded, empty inputs yield
empty-but-valid outputs, and M output buckets always materialize.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mapreducewordcount_spark.cli import main
from mapreducewordcount_spark.operators.wordcount import word_counts
from mapreducewordcount_spark.sources.text import read_corpus


def test_every_file_assigned_exactly_once(spark, tmp_path):
    """11 files; per-file line counts must sum to the corpus total
    (the analog of 'all 10 files assigned' + 'assigned exactly once',
    reference tests/test_task_manager.py:64-90)."""
    for i in range(11):
        (tmp_path / f"f{i}.txt").write_text("".join(
            f"line{i}_{j}\n" for j in range(i + 1)))
    df = (read_corpus(spark, str(tmp_path))
          .withColumn("file_name", F.input_file_name()))
    per_file = {os.path.basename(r.file_name): r.cnt for r in
                df.groupBy("file_name").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert per_file == {f"f{i}.txt": i + 1 for i in range(11)}
    assert df.count() == sum(range(1, 12))


def test_empty_directory_yields_empty_result_and_m_outputs(spark, tmp_path):
    """Empty input dir: 0 map work but still M reduce outputs
    (reference tests/test_task_manager.py:55-62)."""
    src = tmp_path / "empty"
    src.mkdir()
    out = tmp_path / "out"
    assert main(["run", "--input", str(src), "--output", str(out), "-m", "4"]) == 0
    files = sorted(f for f in os.listdir(out) if f.startswith("out-"))
    assert files == [f"out-{b}" for b in range(4)]
    assert all((out / f).read_text() == "" for f in files)


def test_zero_byte_and_blank_files_contribute_nothing(spark, tmp_path):
    """FIXTURES.md §F1: a zero-line file must flow through cleanly
    (the reference's LPT balancer handled size-0 files; Spark's scan
    produces zero rows for them)."""
    (tmp_path / "empty.txt").write_text("")
    (tmp_path / "blank.txt").write_text("\n\n\n")
    (tmp_path / "real.txt").write_text("word\n")
    got = {r.word: r["count"] for r in
           word_counts(read_corpus(spark, str(tmp_path))).collect()}
    assert got == {"word": 1}


def test_mixed_extensions_only_txt_counted(spark, tmp_path):
    """Non-.txt exclusion (reference tests/test_task_manager.py:150-162)."""
    (tmp_path / "a.txt").write_text("yes\n")
    (tmp_path / "b.pdf").write_text("no\n")
    (tmp_path / "c.txt.bak").write_text("no\n")
    got = {r.word: r["count"] for r in
           word_counts(read_corpus(spark, str(tmp_path))).collect()}
    assert got == {"yes": 1}


def test_split_count_bounded_by_files(spark, tmp_path):
    """N is clamped to #files in the reference (driver.py:94); Spark's
    analog: a scan of k small files produces at most k non-empty
    splits — verified via per-partition lineage."""
    for i in range(3):
        (tmp_path / f"f{i}.txt").write_text(f"w{i}\n")
    df = read_corpus(spark, str(tmp_path))
    n_parts = (df.select(F.spark_partition_id().alias("p"))
               .filter(F.col("p").isNotNull()).distinct().count())
    assert n_parts <= 3
