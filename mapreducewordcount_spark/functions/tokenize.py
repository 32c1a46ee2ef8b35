"""Tokenization — the reference's only nontrivial scalar function.

Reference semantics (pinned in SURVEY.md §2.3 from
``src/worker.py:37-53``): ``nltk.word_tokenize`` →
``word.strip(string.punctuation)`` (ASCII punctuation, *ends only*)
→ drop empties → ``word.lower()`` (Unicode-aware).

Two modes, per SURVEY.md §7 step 1:

- **native** (default, fast path): one ``regexp_extract_all`` scan
  of the lowered line does the whitespace split, the ends-only
  ASCII-punctuation strip and the drop of empties; no Python and no
  higher-order function in the hot path.
  Documented delta vs the reference: no Treebank contraction
  splitting (``Don't`` stays one token ``don't`` instead of
  ``do`` + ``n't``).
- **parity** (conformance path): Treebank tokenization via an
  Arrow-batched ``mapInPandas`` stage. Uses nltk when importable;
  otherwise the engine's faithful port of the published Treebank
  rule cascade (``treebank_word_tokenize`` below — round 7 replaced
  the old "treebank-lite" approximation with the real rules; the
  remaining delta vs nltk is Punkt sentence splitting only).
  Python cost is amortized per Arrow batch, not per row — the only
  acceptable shape for a Python tokenizer at 100 TB.
"""

from __future__ import annotations

import re
import string
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pandas as pd

#: ``string.punctuation`` expressed as a Java/RE2 regex char class:
#: ``!``(33)-``/``(47), ``:``(58)-``@``(64), ``[``(91)-backtick(96),
#: ``{``(123)-``~``(126). ASCII-only, same set the reference strips
#: via ``word.strip(string.punctuation)`` (``src/worker.py:50``).
PUNCT_CLASS = r"!-/:-@\[-`{-~"

#: The split set of Python ``str.split()`` as a regex char class:
#: under ``(?U)`` ``\s`` is Unicode-aware (NBSP etc.); U+001C-U+001F are
#: separators Java's ``\s`` leaves out.
WS_CLASS = r"\s\x1c-\x1f"

#: One word: a whitespace run with its ASCII punctuation stripped from
#: both ends. It starts and ends on a non-space, non-punctuation code
#: point; between them anything but whitespace, interior punctuation
#: included. A run made only of punctuation has no match.
TOKEN = (rf"(?U)[^{WS_CLASS}{PUNCT_CLASS}]"
         rf"(?:[^{WS_CLASS}]*[^{WS_CLASS}{PUNCT_CLASS}])?")


def tokenize_expr(col: Column | str) -> Column:
    """Native-mode tokenizer: text line → array<string> of clean words.

    One regex scan per line, ``regexp_extract_all(lower(line), TOKEN)``:
    each match is ``t.strip(string.punctuation)`` for one whitespace
    run ``t`` (Python ``str.split()``), and runs that strip to nothing
    never match. Reference stages D4,D5,D6,D7 (SURVEY.md §2.1) minus
    Treebank contraction rules. Lowering the line before the scan
    equals lowering each word after it: ``lower`` maps ASCII
    punctuation and whitespace to themselves, no code point lowers
    into either, and final-sigma context never crosses whitespace.

    The pattern is a literal, compiled once. The older split →
    ``transform(regexp_replace, lower)`` → ``filter`` shape was the
    map stage's main cost: Spark interprets those higher-order
    functions outside codegen, every token ran its own
    ``regexp_replace``, and ``String.split`` recompiled its pattern
    per line (SCALE.md, "Native tokenizer").
    """
    text = F.col(col) if isinstance(col, str) else col
    # bytes that are not UTF-8: lower() decodes them its own way (one
    # U+FFFD per maximal subpart), the regex engine as Java does, so
    # such a line is first re-encoded through a Java string
    text = F.when(F.is_valid_utf8(text), text).otherwise(
        F.decode(F.encode(text, "UTF-8"), "UTF-8"))
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN), 0)


# --------------------------------------------------------------------------
# parity mode (Treebank semantics)
# --------------------------------------------------------------------------
#
# Faithful port of the PUBLISHED Penn Treebank word-tokenizer rule
# cascade — Robert MacIntyre's ``tokenizer.sed`` as exposed by
# ``nltk.tokenize.treebank.TreebankWordTokenizer`` (quote rewriting,
# punctuation splitting, final-period handling, the CONTRACTIONS2/3
# families). Round 7 promoted this cascade from the test-side
# measurement instrument (where round 6 used it to bound the old
# treebank-lite approximation at 0.056% token divergence) into the
# engine itself, so parity mode now RUNS the Treebank rules rather
# than approximating them.
#
# Residual vs real ``nltk.word_tokenize``, stated precisely:
# 1. Sentence splitting — nltk runs the trained Punkt model first;
#    that pickle cannot be reproduced, so ``sent_split_port`` is a
#    regex stand-in (terminal [.!?] + closing quotes, then an
#    upper-case/quote opener). Boundaries only influence the
#    final-period rule, and the reference pipeline strips token-end
#    punctuation afterwards (``src/worker.py:50``), so ``dog.`` →
#    [dog, .] vs [dog.] normalize identically.
# 2. Modern nltk routes word_tokenize through NLTKWordTokenizer, an
#    "improved" Treebank variant whose deltas are Unicode-quote
#    handling and a leading-apostrophe split — immaterial after the
#    reference's ASCII-only strip-normalization.
# Both are adjudicated by the real-nltk golden hook in
# tests/test_tokenizer_parity_delta.py the moment a fixture lands
# (FIXTURES.md §F2).

_STARTING_QUOTES = [
    (re.compile(r"^\""), r"``"),
    (re.compile(r"(``)"), r" \1 "),
    (re.compile(r"([ \(\[{<])(\"|\'{2})"), r"\1 `` "),
]

_PUNCTUATION = [
    (re.compile(r"([:,])([^\d])"), r" \1 \2"),
    (re.compile(r"([:,])$"), r" \1 "),
    (re.compile(r"\.\.\."), r" ... "),
    (re.compile(r"[;@#$%&]"), r" \g<0> "),
    # final period: split a sentence-terminal "." (with optional
    # closing brackets/quotes) off the last word
    (re.compile(r'([^\.])(\.)([\]\)}>"\']*)\s*$'), r"\1 \2\3 "),
    (re.compile(r"[?!]"), r" \g<0> "),
    (re.compile(r"([^'])' "), r"\1 ' "),
]

_PARENS_BRACKETS = (re.compile(r"[\]\[\(\)\{\}\<\>]"), r" \g<0> ")

_DOUBLE_DASHES = (re.compile(r"--"), r" -- ")

_ENDING_QUOTES = [
    (re.compile(r'"'), " '' "),
    (re.compile(r"(\S)(\'\')"), r"\1 \2 "),
    (re.compile(r"([^' ])('[sS]|'[mM]|'[dD]|') "), r"\1 \2 "),
    (re.compile(r"([^' ])('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) "), r"\1 \2 "),
]

_CONTRACTIONS2 = [
    re.compile(pat, re.IGNORECASE) for pat in (
        r"\b(can)(not)\b", r"\b(d)('ye)\b", r"\b(gim)(me)\b",
        r"\b(gon)(na)\b", r"\b(got)(ta)\b", r"\b(lem)(me)\b",
        r"\b(mor)('n)\b", r"\b(wan)(na)(?=\s)",
    )
]
_CONTRACTIONS3 = [
    re.compile(pat, re.IGNORECASE) for pat in (r" ('t)(is)\b",
                                               r" ('t)(was)\b")
]


# Guard literals per CONTRACTIONS2 pattern (lower-cased containment
# is a necessary condition for the IGNORECASE regex to match).
_C2_GUARDS = ("cannot", "d'ye", "gimme", "gonna", "gotta", "lemme",
              "mor'n", "wanna")


def treebank_word_tokenize(text: str) -> list[str]:
    """One sentence → Treebank tokens (the published rule cascade).

    Each regex pass is gated on a C-speed literal containment check
    that is a provable NECESSARY condition for the pattern to match
    (e.g. the comma/colon rule cannot fire without a ``,`` or ``:``
    in the text), so skipped passes change nothing — pinned by
    tests/test_tokenizer_parity_delta.py's guarded-vs-unguarded
    corpus sweep. On the reference corpus the guards cut the Python
    cascade cost ~2×; parity mode lives in a mapInPandas hot path,
    so this matters for the word-count bench headline.
    """
    sq1, sq2, sq3 = _STARTING_QUOTES
    if text[:1] == '"':
        text = sq1[0].sub(sq1[1], text)
    if "`" in text:
        text = sq2[0].sub(sq2[1], text)
    if '"' in text or "''" in text:
        text = sq3[0].sub(sq3[1], text)
    p1, p2, p3, p4, p5, p6, p7 = _PUNCTUATION
    if ":" in text or "," in text:
        text = p1[0].sub(p1[1], text)
        text = p2[0].sub(p2[1], text)
    if "..." in text:
        text = p3[0].sub(p3[1], text)
    if (";" in text or "@" in text or "#" in text or "$" in text
            or "%" in text or "&" in text):
        text = p4[0].sub(p4[1], text)
    if "." in text:
        text = p5[0].sub(p5[1], text)
    if "?" in text or "!" in text:
        text = p6[0].sub(p6[1], text)
    if "'" in text:
        text = p7[0].sub(p7[1], text)
    if ("(" in text or ")" in text or "[" in text or "]" in text
            or "{" in text or "}" in text or "<" in text or ">" in text):
        regexp, substitution = _PARENS_BRACKETS
        text = regexp.sub(substitution, text)
    if "--" in text:
        regexp, substitution = _DOUBLE_DASHES
        text = regexp.sub(substitution, text)
    text = " " + text + " "
    eq1, eq2, eq3, eq4 = _ENDING_QUOTES
    if '"' in text:
        text = eq1[0].sub(eq1[1], text)
    if "''" in text:
        text = eq2[0].sub(eq2[1], text)
    if "'" in text:
        text = eq3[0].sub(eq3[1], text)
        text = eq4[0].sub(eq4[1], text)
        lowered = text.lower()
        for regexp, guard in zip(_CONTRACTIONS2, _C2_GUARDS):
            if guard in lowered:
                text = regexp.sub(r" \1 \2 ", text)
        if "'t" in lowered:
            for regexp in _CONTRACTIONS3:
                text = regexp.sub(r" \1 \2 ", text)
    else:
        lowered = text.lower()
        for regexp, guard in zip(_CONTRACTIONS2, _C2_GUARDS):
            if guard in lowered:
                text = regexp.sub(r" \1 \2 ", text)
    return text.split()


# Punkt stand-in: break after terminal punctuation (+ optional closing
# quotes/brackets) when followed by whitespace and an upper-case or
# quote-led opener. See the section comment for why this is sufficient
# for the strip-normalized pipeline.
_SENT_BOUNDARY = re.compile(r"(?<=[.!?])(['\")\]]*)\s+(?=[\"'`\(\[]?[A-Z])")


def sent_split_port(text: str) -> list[str]:
    pieces = _SENT_BOUNDARY.split(text)
    # re.split with one capture group interleaves the captured closers;
    # reattach each closer to the sentence before it
    sents: list[str] = []
    for i in range(0, len(pieces), 2):
        sent = pieces[i]
        if i + 1 < len(pieces) and pieces[i + 1]:
            sent += pieces[i + 1]
        if sent.strip():
            sents.append(sent.strip())
    return sents


def word_tokenize_port(text: str) -> list[str]:
    """``nltk.word_tokenize`` shape: sentence-split, then Treebank."""
    return [tok for sent in sent_split_port(text)
            for tok in treebank_word_tokenize(sent)]


def _parity_tokenizer():
    """Pick nltk when available, else the engine's Treebank port."""
    try:  # pragma: no cover - nltk not shipped in the test image
        import nltk

        nltk.data.find("tokenizers/punkt")
        return nltk.word_tokenize
    except Exception:
        return word_tokenize_port


def tokenize_parity(df: DataFrame, text_col: str = "value",
                    out_col: str = "word") -> DataFrame:
    """Parity-mode tokenizer as an Arrow-batched ``mapInPandas`` stage.

    One tokenizer instance per Python worker (initialized inside the
    generator, outside the batch loop) — per-executor amortization,
    the mapInPandas analog of the reference loading its nltk model
    once per worker process (``src/worker.py:12-13``).

    Emits one row per token with reference normalization applied
    (ends-strip ASCII punctuation, drop empties, lowercase —
    ``src/worker.py:50-52``).
    """
    punct = string.punctuation

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        tokenize = _parity_tokenizer()

        for pdf in batches:
            words: list[str] = []
            for line in pdf[text_col]:
                if not isinstance(line, str):
                    continue  # null text -> no tokens (astype(str)
                    # would turn None into the literal token "none")
                for tok in tokenize(line):
                    w = tok.strip(punct)
                    if w:
                        words.append(w.lower())
            yield pd.DataFrame({out_col: words})

    return df.mapInPandas(run, schema=f"{out_col} string")
