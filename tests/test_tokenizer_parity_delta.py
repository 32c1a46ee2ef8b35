"""Treebank-port conformance + the real-nltk golden hook.

Round 6 bounded the old treebank-lite approximation against a
test-side port of the published Treebank rule cascade (0.056% token
divergence over the reference's Gutenberg corpus). Round 7 promoted
that cascade INTO the engine (``functions/tokenize.py``), so the
rule-faithfulness question moved: parity mode now runs the published
rules themselves, and the only residual vs real ``nltk.word_tokenize``
is (a) Punkt sentence splitting (trained model, regex stand-in here)
and (b) NLTKWordTokenizer's Unicode-quote improvements — both
immaterial after the reference's ASCII strip-normalization, both
adjudicated by the golden hook below once a fixture from an
nltk-enabled machine lands (FIXTURES.md §F2).

This file pins: (1) the published Treebank rule behaviors
rule-by-rule on the engine tokenizer (SURVEY.md §2.3 rows 1-3 + quote
rewriting), and (2) the corpus-level token counts of the engine port
over the full reference corpus, so ANY tokenizer change re-measures
or fails loudly.
"""

from __future__ import annotations

import os
import string
from collections import Counter

import pytest

from mapreducewordcount_spark.functions.tokenize import (
    sent_split_port,
    treebank_word_tokenize,
    word_tokenize_port,
)
from tests.conftest import REFERENCE_CORPUS

CORPUS_AVAILABLE = os.path.isdir(REFERENCE_CORPUS)


# --- rule-by-rule published Treebank cases (SURVEY.md §2.3) -----------------

def test_contraction_splitting():
    # SURVEY §2.3 row 1: Don't -> Do + n't; Smith's -> Smith + 's
    assert treebank_word_tokenize("Don't do that.") == \
        ["Do", "n't", "do", "that", "."]
    assert treebank_word_tokenize("Smith's dog") == ["Smith", "'s", "dog"]
    # single-pass rule order (same as nltk): in "you'd've" the 've
    # splits but 'd does not — rule 3 ('d) runs before rule 4 ('ve)
    # exposes the space it needs
    assert treebank_word_tokenize("I'll see you'd've gone") == \
        ["I", "'ll", "see", "you'd", "'ve", "gone"]
    assert treebank_word_tokenize("They're alive; we've won") == \
        ["They", "'re", "alive", ";", "we", "'ve", "won"]


def test_contractions2_and_3_families():
    assert treebank_word_tokenize("I cannot go") == ["I", "can", "not", "go"]
    assert treebank_word_tokenize("gonna rain") == ["gon", "na", "rain"]
    assert treebank_word_tokenize("gotta run, lemme see") == \
        ["got", "ta", "run", ",", "lem", "me", "see"]
    assert treebank_word_tokenize("'tis true") == ["'t", "is", "true"]
    assert treebank_word_tokenize("'twas night") == ["'t", "was", "night"]


def test_punctuation_standalone_tokens():
    # SURVEY §2.3 row 1: "--" and "..." become standalone tokens
    assert treebank_word_tokenize("wait... what?") == \
        ["wait", "...", "what", "?"]
    assert treebank_word_tokenize("one -- two") == ["one", "--", "two"]
    assert treebank_word_tokenize("a, b: c; d") == \
        ["a", ",", "b", ":", "c", ";", "d"]
    assert treebank_word_tokenize("(see [note])") == \
        ["(", "see", "[", "note", "]", ")"]


def test_quote_rewriting():
    # opening/closing double quotes rewrite to ``-style pairs
    assert treebank_word_tokenize('"Hello," she said.') == \
        ["``", "Hello", ",", "''", "she", "said", "."]
    assert treebank_word_tokenize('He said "yes" twice') == \
        ["He", "said", "``", "yes", "''", "twice"]


def test_numbers_survive():
    # comma-grouped and decimal numbers stay whole (comma rule only
    # splits before non-digits)
    assert treebank_word_tokenize("worth $1,000.50 today") == \
        ["worth", "$", "1,000.50", "today"]
    assert treebank_word_tokenize("pi is 3.14 exactly") == \
        ["pi", "is", "3.14", "exactly"]


def test_final_period_only_at_sentence_end():
    # the final-period rule splits the terminal ".", not interior ones
    assert treebank_word_tokenize("Mr. Smith met Dr. Jones.") == \
        ["Mr.", "Smith", "met", "Dr.", "Jones", "."]
    assert treebank_word_tokenize("O.K.") == ["O.K", "."]


def test_sentence_split_feeds_final_period_rule():
    # two sentences on one line: each terminal period splits
    assert word_tokenize_port("It rained. We stayed.") == \
        ["It", "rained", ".", "We", "stayed", "."]
    assert sent_split_port('He left. "Why?" she asked.') == \
        ["He left.", '"Why?" she asked.']


def _unguarded_cascade(text: str) -> list[str]:
    """The rule cascade with every pass applied unconditionally — the
    semantics the guards must preserve."""
    import mapreducewordcount_spark.functions.tokenize as tk

    for regexp, substitution in tk._STARTING_QUOTES:
        text = regexp.sub(substitution, text)
    for regexp, substitution in tk._PUNCTUATION:
        text = regexp.sub(substitution, text)
    regexp, substitution = tk._PARENS_BRACKETS
    text = regexp.sub(substitution, text)
    regexp, substitution = tk._DOUBLE_DASHES
    text = regexp.sub(substitution, text)
    text = " " + text + " "
    for regexp, substitution in tk._ENDING_QUOTES:
        text = regexp.sub(substitution, text)
    for regexp in tk._CONTRACTIONS2:
        text = regexp.sub(r" \1 \2 ", text)
    for regexp in tk._CONTRACTIONS3:
        text = regexp.sub(r" \1 \2 ", text)
    return text.split()


def test_guards_are_exact_supersets(corpus_dir):
    """treebank_word_tokenize gates each regex pass on a literal
    containment check; a guard that is not a NECESSARY condition for
    its pattern would silently skip a live rule. Sweep every sentence
    of the test corpus guarded vs unguarded."""
    from mapreducewordcount_spark.functions.tokenize import (
        sent_split_port,
        treebank_word_tokenize,
    )

    for name in sorted(os.listdir(corpus_dir)):
        if not name.endswith(".txt"):
            continue
        with open(os.path.join(corpus_dir, name),
                  encoding="utf-8") as f:
            for line in f:
                for sent in sent_split_port(line):
                    assert treebank_word_tokenize(sent) == \
                        _unguarded_cascade(sent), repr(sent)


# --- corpus-level pins ------------------------------------------------------

def _normalized_counts(tokenize) -> Counter:
    counts: Counter = Counter()
    for name in sorted(os.listdir(REFERENCE_CORPUS)):
        if not name.endswith(".txt"):
            continue
        with open(os.path.join(REFERENCE_CORPUS, name),
                  encoding="utf-8") as f:
            for line in f:
                for tok in tokenize(line):
                    w = tok.strip(string.punctuation)
                    if w:
                        counts[w.lower()] += 1
    return counts


@pytest.mark.skipif(not CORPUS_AVAILABLE, reason="reference corpus absent")
def test_corpus_counts_pinned():
    """Engine-port token counts over the reference's 3,301,104-byte
    Gutenberg corpus, normalized exactly as the reference worker does
    (strip(string.punctuation) → drop empties → lower). 619,749 is the
    figure the round-6 instrument measured for the faithful cascade —
    the engine now reproducing it IS the promotion proof. Treebank
    goldens like n't/'s appear at corpus scale."""
    counts = _normalized_counts(word_tokenize_port)
    assert sum(counts.values()) == 619_749
    assert counts["n't"] == 3_474         # contraction rule at scale
    assert counts["s"] == 3_346           # 's possessives (strip drops ')
    assert counts["the"] == 32_534


# --- real-nltk golden hook (FIXTURES.md F2 open item) -----------------------

NLTK_GOLDEN = os.path.join(os.path.dirname(__file__), "fixtures",
                           "nltk_golden.json")


@pytest.mark.skipif(
    not os.path.exists(NLTK_GOLDEN),
    reason="real-nltk golden not generated yet — needs one offline run "
           "on an nltk-enabled machine (see FIXTURES.md F2); this test "
           "activates the moment the fixture lands")
def test_real_nltk_golden_parity():
    """Token-for-token comparison against output captured from REAL
    ``nltk.word_tokenize``. Fixture format: a JSON list of
    {"text": ..., "tokens": [...]} objects, where ``tokens`` is the
    raw nltk output (pre-normalization). Generate with:

        import json, nltk
        nltk.download("punkt_tab")
        cases = [{"text": t, "tokens": nltk.word_tokenize(t)}
                 for t in TEXTS]
        json.dump(cases, open("nltk_golden.json", "w"))
    """
    import json

    with open(NLTK_GOLDEN) as fh:
        cases = json.load(fh)
    assert cases, "golden fixture exists but is empty"
    mismatches = [(c["text"], word_tokenize_port(c["text"]), c["tokens"])
                  for c in cases
                  if word_tokenize_port(c["text"]) != c["tokens"]]
    # exact parity is the goal; record the measured delta loudly if
    # a future fixture exposes residual Punkt edge cases
    assert not mismatches, mismatches[:5]


# --- Punkt residual bound, corpus-quantified per book (round 8) -------------

# normalized-multiset delta between the two EXTREME segmentations
# (regex sentence split vs whole-line) — the envelope that contains
# real Punkt's boundary placement. FIXTURES.md §F2 table; corpus-wide
# 1,863 / 619,749 = 0.30%.
PUNKT_BOUND = {
    "pg-being_ernest.txt": (69, 23_978),
    "pg-dorian_gray.txt": (180, 82_907),
    "pg-frankenstein.txt": (30, 78_233),
    "pg-grimm.txt": (135, 104_744),
    "pg-huckleberry_finn.txt": (786, 119_363),
    "pg-metamorphosis.txt": (90, 25_438),
    "pg-sherlock_holmes.txt": (114, 108_278),
    "pg-tom_sawyer.txt": (459, 76_808),
}


@pytest.mark.skipif(not CORPUS_AVAILABLE, reason="reference corpus absent")
def test_punkt_residual_bound_per_book():
    """The Punkt-only residual is a sentence-boundary-placement
    effect; its normalized-output magnitude is bounded per book by
    the split-vs-no-split delta (real Punkt sits strictly inside
    this envelope — it agrees with the regex at most boundaries and
    differs only at abbreviation-like sites). Pinned so any cascade
    change re-measures the bound."""
    def _norm(toks):
        out = []
        for t in toks:
            w = t.strip(string.punctuation)
            if w:
                out.append(w.lower())
        return out

    for name, (want_delta, want_total) in sorted(PUNKT_BOUND.items()):
        split_counts: Counter = Counter()
        nosplit_counts: Counter = Counter()
        with open(os.path.join(REFERENCE_CORPUS, name),
                  encoding="utf-8") as f:
            for line in f:
                split_counts.update(_norm(word_tokenize_port(line)))
                nosplit_counts.update(_norm(treebank_word_tokenize(line)))
        delta = (sum((split_counts - nosplit_counts).values())
                 + sum((nosplit_counts - split_counts).values()))
        total = sum(split_counts.values())
        assert (delta, total) == (want_delta, want_total), name
        assert delta / total < 0.007, name  # <0.7% everywhere
