"""End-to-end word count vs a single-process Counter oracle.

SURVEY.md §5 test plan item 3: run the full pipeline over a
multi-file text corpus (``corpus_dir`` in tests/conftest.py: the
TESTDATA documents plus hand-written edge files) and hash-compare
against an in-process ``collections.Counter`` applying identical
tokenizer semantics — the oracle the reference itself never had.
"""

from __future__ import annotations

import os
import random
import string
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.buckets import bucket_expr
from mapreducewordcount_spark.functions.tokenize import word_tokenize_port
from mapreducewordcount_spark.operators.wordcount import (
    word_counts,
    wordcount_pipeline,
    write_wordcount_output,
)
from mapreducewordcount_spark.sources.text import read_corpus


def _native_tokenize(line: str) -> list[str]:
    out = []
    for raw in line.split():
        w = raw.strip(string.punctuation).lower()
        if w:
            out.append(w)
    return out


def _oracle_counts(input_dir: str, tokenize) -> Counter:
    counts: Counter = Counter()
    for name in sorted(os.listdir(input_dir)):
        if not name.endswith(".txt"):
            continue
        with open(os.path.join(input_dir, name), encoding="utf-8") as f:
            for line in f:
                for tok in tokenize(line):
                    w = tok.strip(string.punctuation)
                    if w:
                        counts[w.lower()] += 1
    return counts


def test_corpus_native_mode_matches_counter_oracle(spark, corpus_dir):
    got = {r.word: r["count"]
           for r in wordcount_pipeline(spark, corpus_dir, mode="native").collect()}
    want = _oracle_counts(corpus_dir, str.split)
    assert got == dict(want)


def test_corpus_parity_mode_matches_counter_oracle(spark, corpus_dir):
    got = {r.word: r["count"]
           for r in wordcount_pipeline(spark, corpus_dir, mode="parity").collect()}
    want = _oracle_counts(corpus_dir, word_tokenize_port)
    assert got == dict(want)


def test_non_txt_files_ignored(spark, tmp_path):
    """Scan-level parity with tests/test_task_manager.py:150-162."""
    (tmp_path / "a.txt").write_text("alpha beta alpha\n")
    (tmp_path / "b.pdf").write_text("SHOULD NOT APPEAR\n")
    got = {r.word: r["count"]
           for r in wordcount_pipeline(spark, str(tmp_path)).collect()}
    assert got == {"alpha": 2, "beta": 1}


def test_output_layout_m4(spark, tmp_path):
    """Sink parity: M bucket files, sorted lines, '{word} {count}' format."""
    lines = spark.createDataFrame(
        [("the quick brown fox the lazy dog the end",)], "value string")
    counts = word_counts(lines)
    out = str(tmp_path / "out")
    write_wordcount_output(counts, out, m=4)

    seen = {}
    for b in range(4):
        with open(os.path.join(out, f"out-{b}")) as f:
            rows = [ln.rstrip("\n") for ln in f]
        assert rows == sorted(rows)  # code-point sorted within bucket
        for ln in rows:
            word, cnt = ln.rsplit(" ", 1)
            assert ord(word[0]) % 4 == b
            seen[word] = int(cnt)
    assert seen == {"the": 3, "quick": 1, "brown": 1, "fox": 1,
                    "lazy": 1, "dog": 1, "end": 1}


def _partitioned_text_sink(counts, out_dir: str, m: int) -> dict[int, bytes]:
    """The sink as a Spark write: a second shuffle into ``m`` buckets,
    a sort by (bucket, word), a ``partitionBy("bucket")`` text write,
    then each ``bucket=<b>/`` dir's part files concatenated — the
    reference for ``write_wordcount_output``'s bytes per bucket."""
    out = (counts
           .withColumn("bucket", bucket_expr("word", m))
           .repartition(m, "bucket")
           .sortWithinPartitions("bucket", "word")
           .select("bucket",
                   F.concat_ws(" ", "word", "count").alias("value")))
    out.write.mode("overwrite").partitionBy("bucket").text(out_dir)
    return {b: b"".join(p.read_bytes() for p in
                        sorted(Path(out_dir, f"bucket={b}").glob("part-*")))
            for b in range(m)}


#: code points the sink must order and render byte for byte: astral and
#: combining characters, BOM, NEL, C0 controls (the four str.split()
#: separators Java's \s leaves out among them), U+FFFF, accents and a
#: few ASCII words and punctuation
_HOSTILE = ["\U0001d518", "\U0001f600", "e\u0301", "\ufeff", "\x85",
            "\x01", "\x1c", "\x1f", "\uffff", "é", "É", "ß", "Σ", "ς",
            "İ", "z", "a", "A", "the", "x-y", "'", ".", "\u00a0", "\u2028"]


def _hostile_corpus(root, seed: int = 1801) -> None:
    """Seeded text files over ``_HOSTILE`` plus one file of invalid
    UTF-8 (lone continuation, truncated, overlong and surrogate
    sequences)."""
    rng = random.Random(seed)
    root.mkdir()
    for i in range(5):
        lines = []
        for _ in range(200):
            words = ["".join(rng.choice(_HOSTILE)
                             for _ in range(rng.randint(1, 4)))
                     for _ in range(rng.randint(0, 8))]
            lines.append(rng.choice([" ", "\t", "  "]).join(words))
        (root / f"doc-{i}.txt").write_text("\n".join(lines) + "\n",
                                           encoding="utf-8")
    (root / "bad.txt").write_bytes(
        b"caf\xc3 ok \x80word \xe2\x82 end\n"
        b"\xc0\xaf over \xed\xa0\x80 sur \xff\xfe x\xf0\x9f\x98y\n")


@pytest.mark.parametrize("corpus", ["hostile", "empty"])
def test_sink_bytes_match_partitioned_text_write(spark, tmp_path, corpus):
    """``out-<b>`` bytes equal the partitioned text write's per-bucket
    bytes for M in {1, 4, 7}, on a hostile corpus and an empty one."""
    src = tmp_path / "corpus"
    if corpus == "hostile":
        _hostile_corpus(src)
    else:
        src.mkdir()
    counts = word_counts(read_corpus(spark, str(src)))
    for m in (1, 4, 7):
        want = _partitioned_text_sink(counts, str(tmp_path / f"ref-{m}"), m)
        out = tmp_path / f"out-{m}"
        write_wordcount_output(counts, str(out), m)
        got = {b: (out / f"out-{b}").read_bytes() for b in range(m)}
        assert got == want, m
    if corpus == "hostile":
        assert sum(map(len, want.values())) > 0


def test_sink_runs_one_shuffle_and_writes_only_out_files(spark, tmp_path):
    """The sink is one action over the count-by-key shuffle — two
    stages, one of them a shuffle map stage — and leaves exactly
    ``out-0..out-{m-1}`` in ``out_dir``: no ``_temporary``, no
    ``bucket=`` dirs, no ``_SUCCESS``. A stale file from an earlier
    run is gone too."""
    src = tmp_path / "corpus"
    src.mkdir()
    for i in range(3):
        (src / f"f{i}.txt").write_text(f"alpha beta{i} gamma alpha\n")
    out = tmp_path / "out"
    out.mkdir()
    (out / "stale").write_text("x")
    sc = spark.sparkContext
    group = f"one-shuffle-{tmp_path.name}"
    sc.setJobGroup(group, "word-count sink")
    try:
        write_wordcount_output(word_counts(read_corpus(spark, str(src))),
                               str(out), m=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = [tracker.getStageInfo(s) for j in tracker.getJobIdsForGroup(group)
              for s in tracker.getJobInfo(j).stageIds]
    # a later job lists a stage an earlier job ran as skipped: no tasks
    ran = [s for s in stages if s is not None and s.numCompletedTasks > 0]
    assert len(ran) == 2, stages
    assert sorted(os.listdir(out)) == [f"out-{b}" for b in range(5)]
    merged = {}
    for b in range(5):
        for ln in (out / f"out-{b}").read_text().splitlines():
            w, c = ln.rsplit(" ", 1)
            merged[w] = int(c)
    assert merged == {"alpha": 6, "beta0": 1, "beta1": 1, "beta2": 1,
                      "gamma": 3}
