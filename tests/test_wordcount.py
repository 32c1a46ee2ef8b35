"""End-to-end word count vs a single-process Counter oracle.

SURVEY.md §5 test plan item 3: run the full pipeline over a
multi-file text corpus (``corpus_dir`` in tests/conftest.py: the
TESTDATA documents plus hand-written edge files) and hash-compare
against an in-process ``collections.Counter`` applying identical
tokenizer semantics — the oracle the reference itself never had.
"""

from __future__ import annotations

import os
import string
from collections import Counter

from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.buckets import bucket_expr
from mapreducewordcount_spark.functions.tokenize import word_tokenize_port
from mapreducewordcount_spark.operators.wordcount import (
    word_counts,
    wordcount_pipeline,
    write_wordcount_output,
)


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
    """Sink parity: M bucket dirs, sorted lines, '{word} {count}' format."""
    lines = spark.createDataFrame(
        [("the quick brown fox the lazy dog the end",)], "value string")
    counts = word_counts(lines)
    out = str(tmp_path / "out")
    write_wordcount_output(counts, out, m=4)

    buckets = sorted(d for d in os.listdir(out) if d.startswith("bucket="))
    seen = {}
    for d in buckets:
        b = int(d.split("=")[1])
        rows = []
        for part in sorted(os.listdir(os.path.join(out, d))):
            if part.startswith("part-"):
                with open(os.path.join(out, d, part)) as f:
                    rows += [ln.rstrip("\n") for ln in f]
        assert rows == sorted(rows)  # code-point sorted within bucket
        for ln in rows:
            word, cnt = ln.rsplit(" ", 1)
            assert ord(word[0]) % 4 == b
            seen[word] = int(cnt)
    assert seen == {"the": 3, "quick": 1, "brown": 1, "fox": 1,
                    "lazy": 1, "dog": 1, "end": 1}
