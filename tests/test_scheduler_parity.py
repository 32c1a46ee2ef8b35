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
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from mapreducewordcount_spark.cli import main
from mapreducewordcount_spark.operators.wordcount import (
    word_counts,
    write_wordcount_output,
)
from mapreducewordcount_spark.sources.tables import TABLES, load_table
from mapreducewordcount_spark.sources.text import (
    MIN_PARTITION_NUM,
    per_file_splits,
    read_corpus,
)
from tests.conftest import SF_ORACLE

#: byte share of each file in the split-balance corpus, largest first.
#: The two largest hold 48% of the bytes: a split that packs them
#: together breaks the balance bound on 4 slots.
FILE_SHARES = (0.28, 0.20, 0.15, 0.12, 0.10, 0.08, 0.05, 0.02)


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


def _skewed_corpus(root: Path) -> dict[str, int]:
    """``book-<i>.txt`` files in the ``FILE_SHARES`` proportions of
    ~80 KB; returns each file's bytes."""
    line = "lorem ipsum dolor sit amet consectetur adipiscing elit\n"
    root.mkdir(exist_ok=True)
    sizes = {}
    for i, share in enumerate(FILE_SHARES):
        path = root / f"book-{i:02d}.txt"
        path.write_text(line * int(share * 80_000 / len(line)))
        sizes[path.name] = path.stat().st_size
    return sizes


def test_scan_splits_balanced_like_lpt(spark, tmp_path):
    """No map split holds more bytes than max(largest file,
    total / slots) — the balance the reference's LPT packing guarantees
    (reference tests/test_task_manager.py:136-148). Spark's default
    split size would put the two largest files (48% of the bytes) into
    one split; ``per_file_splits`` drops the split size to its
    open-cost floor, so each small file is its own split."""
    sizes = _skewed_corpus(tmp_path)
    with per_file_splits(spark):
        rows = (read_corpus(spark, str(tmp_path))
                .select(F.spark_partition_id().alias("split"),
                        F.input_file_name().alias("file"))
                .distinct().collect())
    files_of = {}
    for r in rows:
        files_of.setdefault(r.split, set()).add(os.path.basename(r.file))
    assert set().union(*files_of.values()) == set(sizes)
    split_bytes = {s: sum(sizes[f] for f in fs) for s, fs in files_of.items()}
    slots = spark.sparkContext.defaultParallelism
    bound = max(max(sizes.values()), sum(sizes.values()) / slots)
    assert max(split_bytes.values()) <= bound, files_of
    # each file's 4 MB open cost alone fills the floor-sized split once
    # the 3 x slots minimum outnumbers the files
    if 3 * slots > len(FILE_SHARES):
        assert all(len(fs) == 1 for fs in files_of.values()), files_of


def test_wordcount_sink_maps_one_task_per_file(spark, tmp_path):
    """The word-count sink runs its corpus scan under
    ``per_file_splits``: the map stage has one task per input file."""
    _skewed_corpus(tmp_path / "corpus")
    slots = spark.sparkContext.defaultParallelism
    if 3 * slots <= len(FILE_SHARES):
        pytest.skip(f"{slots} slot(s) pack files even at the split floor")
    sc = spark.sparkContext
    group = f"one-task-per-file-{tmp_path.name}"
    sc.setJobGroup(group, "word-count sink")
    try:
        write_wordcount_output(
            word_counts(read_corpus(spark, str(tmp_path / "corpus"))),
            str(tmp_path / "out"), m=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    first_stage = min(s for j in tracker.getJobIdsForGroup(group)
                      for s in tracker.getJobInfo(j).stageIds)
    assert tracker.getStageInfo(first_stage).numTasks == len(FILE_SHARES)


def test_table_scans_keep_partition_counts(spark, tmp_path):
    """The split setting stays inside the word-count sink. After a sink
    ran, the engine session has no ``files.minPartitionNum``, and every
    TESTDATA table at every scale factor, plus a directory of more
    small files than slots (the shape of a state version or a manifest
    state's segments), has the partition count it has in a session
    without that setting."""
    (tmp_path / "corpus").mkdir()
    (tmp_path / "corpus" / "a.txt").write_text("one two\n")
    write_wordcount_output(word_counts(read_corpus(spark, str(tmp_path / "corpus"))),
                           str(tmp_path / "out"), m=2)
    assert spark.conf.get(MIN_PARTITION_NUM, None) is None
    plain = spark.newSession()
    plain.conf.unset(MIN_PARTITION_NUM)
    k = 6 * spark.sparkContext.defaultParallelism
    many = str(tmp_path / "many")
    spark.range(0, 10 * k, 1, k).write.parquet(many)
    sf_dirs = sorted(str(d) for d in Path(SF_ORACLE).parent.glob("sf*")
                     if (d / "lineitem.parquet").exists())
    assert sf_dirs
    counts = {(sf, t): (load_table(spark, sf, t).rdd.getNumPartitions(),
                        load_table(plain, sf, t).rdd.getNumPartitions())
              for sf in sf_dirs for t in TABLES}
    counts["many"] = (spark.read.parquet(many).rdd.getNumPartitions(),
                      plain.read.parquet(many).rdd.getNumPartitions())
    assert {key: v for key, v in counts.items() if v[0] != v[1]} == {}
