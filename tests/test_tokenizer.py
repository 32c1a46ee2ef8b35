"""Golden tokenizer cases pinned from FIXTURES.md §F2 / SURVEY.md §2.3."""

from __future__ import annotations

import random
import string
import sys

import pytest
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.tokenize import (
    PUNCT_CLASS,
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
    """One-word lines tokenize to Python str.strip(string.punctuation).lower()."""
    cases = ["'hello'", "(world)", "O.K.", "n't", "'s", "--", "...", "a", "",
             "__x__", "~tilde~", "mid-dle", "``quote''", "end.", "123!", "é!",
             "“smart”", "—dash—"]  # unicode punct NOT stripped, same as reference
    df = spark.createDataFrame([(c,) for c in cases], "w string")
    got = [r.o for r in df.select(tokenize_expr("w").alias("o")).collect()]
    want = [[w] if (w := c.strip(string.punctuation).lower()) else []
            for c in cases]
    assert got == want


# --- equivalence of the one-scan tokenizer -----------------------------------

_STRIP_ENDS = rf"^[{PUNCT_CLASS}]+|[{PUNCT_CLASS}]+$"


def _split_reference_expr(col: str):
    """The earlier native tokenizer, kept as the reference: split on
    whitespace runs, strip and lower each token, drop the empties."""
    words = F.split(F.col(col), r"(?U)[\s\x1c-\x1f]+")
    cleaned = F.transform(
        words, lambda w: F.lower(F.regexp_replace(w, _STRIP_ENDS, "")))
    return F.filter(cleaned, lambda w: F.length(w) > 0)


def _python_spec(line):
    if line is None:
        return None
    return [w for w in (t.strip(string.punctuation).lower()
                        for t in line.split()) if w]


_SPACES = [chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace()]


def _hostile_corpus(seed: int) -> list:
    """Lines that stress every rule of the tokenizer: each whitespace
    code point, punctuation runs at word ends and inside words, words
    that are only punctuation, final sigma, dotted capital I, astral
    and combining characters, NULL and empty lines, then Zipf-drawn
    words with glued punctuation like the benchmark corpus's."""
    rng = random.Random(seed)
    lines = [None, "", " ", "\n", "--", "... !? --"]
    lines += [f"{sp}ab{sp}c.d{sp}{sp}'ef'{sp}" for sp in _SPACES]
    lines += ["O.K., fine...", "'hello' (world) -- 123", "a--b ~x~ __y__",
              "!!!x!!! x--y ((z)) ...w... -.- '", "don't o'clock rock'n'roll",
              "ΟΔΟΣ ΟΔΟΣ. 'ΣΑΣ' ΑΣ.Β ΑΣ_Β Σ ΑΣ\u0301 ΣΑΣ'Β (ΑΣ)",
              "İstanbul İ ıI ß ẞ ǅ Ω K ﬃ", "𝐀𝐁𝐂 😀👍🏻 𐐀𐐁 \U0001d7d8!",
              "e\u0301 \u0301x \u200bword\u200b \ufeffbom zero\u200dwidth"]
    alphabet = (list(string.ascii_letters) + list(string.punctuation) * 2
                + _SPACES * 2 + list("ΣσςΑΒΟΔİıßẞéÉ\u0301\u0307_'.:·")
                + ["\u200b", "\u200d", "\u180e", "\ufeff", "𝐀", "😀",
                   "𐐀", "\U0001f3fb", "ǅ", "\u2126", "\u212a", "ﬃ"])
    lines += ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
              for _ in range(600)]
    vocab = ["the", "of", "and", "don't", "co-op", "x2", "ab'c", "tea",
             "straße", "café", "naïve", "zoë", "cliché", "mañana"]
    weights = [1 / (r + 1) ** 1.1 for r in range(len(vocab))]
    lead = ["", "", "(", '"', "'", "[", "--"]
    trail = ["", "", ",", ".", ";", "!", "?", ")", "...", "]"]
    for _ in range(400):
        words = rng.choices(vocab, weights, k=rng.randint(4, 17))
        lines.append(" ".join(
            rng.choice(lead) + rng.choice((w, w.title(), w.upper()))
            + rng.choice(trail) + rng.choice(("", "", "", " -- ", " ..."))
            for w in words))
    return lines


def test_native_matches_spec_and_split_reference(spark):
    """The one-scan tokenizer equals Python's split/strip/lower spec
    and the split → transform → filter expression it replaced, on
    every line of the hostile corpus (NULL stays NULL)."""
    lines = _hostile_corpus(1701)
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    rows = df.select(tokenize_expr("value").alias("got"),
                     _split_reference_expr("value").alias("ref")).collect()
    assert [r.got for r in rows] == [r.ref for r in rows]
    assert [r.got for r in rows] == [_python_spec(ln) for ln in lines]


def test_native_matches_split_reference_on_invalid_utf8(spark, tmp_path):
    """Bytes that are not UTF-8, read through the corpus reader, give
    the same words as the split reference."""
    from mapreducewordcount_spark.sources.text import read_corpus

    (tmp_path / "bad.txt").write_bytes(
        b"ok \xff\xfeWord\xc3 ..\x80.. caf\xc3\xa9\xe2\x82 "
        b"\xed\xa0\x80x \xf0\x9f\x98 'A\xc0\xafB'\n")
    rows = (read_corpus(spark, str(tmp_path))
            .select(tokenize_expr("value").alias("got"),
                    _split_reference_expr("value").alias("ref"))
            .collect())
    assert len(rows) == 1
    assert rows[0].got == rows[0].ref
    assert rows[0].got[0] == "ok"
