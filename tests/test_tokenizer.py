"""Golden tokenizer cases pinned from FIXTURES.md §F2 / SURVEY.md §2.3."""

from __future__ import annotations

import string
import sys

import pytest
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.tokenize import (
    normalize_word,
    tokenize_expr,
    tokenize_parity,
    word_tokenize_port,
)

# (input, expected words under PARITY mode) — FIXTURES.md §F2
PARITY_GOLDENS = [
    ("Don't stop", ["do", "n't", "stop"]),
    ("Smith's book", ["smith", "s", "book"]),
    ("O.K., fine...", ["o.k", "fine"]),
    ("'hello' (world) -- 123", ["hello", "world", "123"]),
    ("été CAFÉ", ["été", "café"]),
    ("", []),
]


def _apply_reference_normalize(tokens):
    out = []
    for tok in tokens:
        w = tok.strip(string.punctuation)
        if w:
            out.append(w.lower())
    return out


@pytest.mark.parametrize("text,expected", PARITY_GOLDENS)
def test_treebank_port_goldens(text, expected):
    assert _apply_reference_normalize(word_tokenize_port(text)) == expected


@pytest.mark.parametrize("text,expected", PARITY_GOLDENS)
def test_parity_mode_spark(spark, text, expected):
    df = spark.createDataFrame([(text,)], "value string")
    got = [r.word for r in tokenize_parity(df).collect()]
    assert got == expected


def test_parity_mode_null_text_yields_no_tokens(spark):
    """NULL text must produce zero tokens, not the literal 'none'."""
    df = spark.createDataFrame([(None,), ("real words",)], "value string")
    got = [r.word for r in tokenize_parity(df).collect()]
    assert got == ["real", "words"]


NATIVE_GOLDENS = [
    # native mode: whitespace split, ends-strip, lower — no contraction split
    ("Don't stop", ["don't", "stop"]),
    ("Smith's book", ["smith's", "book"]),
    ("O.K., fine...", ["o.k", "fine"]),
    ("'hello' (world) -- 123", ["hello", "world", "123"]),
    ("été CAFÉ", ["été", "café"]),
    ("", []),
]


@pytest.mark.parametrize("text,expected", NATIVE_GOLDENS)
def test_native_mode(spark, text, expected):
    df = spark.createDataFrame([(text,)], "value string")
    got = df.select(tokenize_expr("value").alias("w")).collect()[0].w
    assert got == expected


def test_native_split_matches_str_split_on_every_whitespace(spark):
    """The native tokenizer splits where Python ``str.split()`` does:
    on every code point ``str.isspace()`` accepts, including the
    U+001C-U+001F separators that Java's Unicode ``\\s`` leaves out."""
    spaces = [chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace()]
    texts = [f"{sp}ab{sp}cd{sp}{sp}ef{sp}" for sp in spaces]
    df = spark.createDataFrame([(t,) for t in texts], "value string")
    got = [r.w for r in df.select(tokenize_expr("value").alias("w"))
           .collect()]
    assert dict(zip(spaces, got)) == {sp: t.split()
                                      for sp, t in zip(spaces, texts)}


def test_normalize_matches_python_strip(spark):
    """Column expr == Python str.strip(string.punctuation).lower() on a sweep."""
    cases = ["'hello'", "(world)", "O.K.", "n't", "'s", "--", "...", "a", "",
             "__x__", "~tilde~", "mid-dle", "``quote''", "end.", "123!", "é!",
             "“smart”", "—dash—"]  # unicode punct NOT stripped, same as reference
    df = spark.createDataFrame([(c,) for c in cases], "w string")
    got = [r.o for r in df.select(normalize_word("w").alias("o")).collect()]
    want = [c.strip(string.punctuation).lower() for c in cases]
    assert got == want
