"""Text-analysis column expressions for the documents table.

All pure ``pyspark.sql.functions`` compositions — no Python in the
hot path, every expression whole-stage-codegen'd. These are the
engine's text-quality / language-ID / token-counting surface for an
LLM training-data pipeline (extension scope per SURVEY.md §2.5; the
reference's own scalar surface is only tokenize/strip/lower,
``src/worker.py:37-53``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.tokenize import tokenize_expr

#: Tiny English stopword list (public-domain, most-frequent function
#: words). Deliberately small and fixed so oracle SQL can embed it.
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "as", "with", "was", "at", "by", "be",
)

#: BPE-ish pre-tokenization regex: word runs, single digits, or a
#: single non-space symbol — the classic GPT-2-style pre-split shape,
#: kept RE2/Java-portable so DuckDB oracles can run the same pattern.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def words(col: Column | str) -> Column:
    """text → array<string> of normalized words (native tokenizer)."""
    return tokenize_expr(col)


def n_words(col: Column | str) -> Column:
    return F.size(words(col))


def n_distinct_words(col: Column | str) -> Column:
    return F.size(F.array_distinct(words(col)))


def avg_word_len(col: Column | str) -> Column:
    """Mean characters per word; 0.0 for empty docs (no NaN at scale)."""
    ws = words(col)
    total = F.aggregate(ws, F.lit(0).cast("long"),
                        lambda acc, w: acc + F.length(w))
    return F.when(F.size(ws) > 0,
                  total.cast("double") / F.size(ws)).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str,
                   stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Fraction of words that are stopwords; 0.0 for empty docs."""
    ws = words(col)
    stops = F.array(*[F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(ws, lambda w: F.array_contains(stops, w)))
    return F.when(F.size(ws) > 0,
                  n_stop.cast("double") / F.size(ws)).otherwise(F.lit(0.0))


def token_count(col: Column | str, pattern: str = TOKEN_REGEX) -> Column:
    """Count of BPE-ish pre-tokens (TOKEN_REGEX matches)."""
    return F.size(F.regexp_extract_all(F.col(col) if isinstance(col, str) else col,
                                       F.lit(pattern), F.lit(0)))


def punct_ratio(col: Column | str) -> Column:
    """Fraction of non-space characters that are ASCII punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    nonspace = F.length(F.regexp_replace(c, r"\s+", ""))
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[!-/:-@\[-`{-~]", ""))
    return F.when(nonspace > 0, punct.cast("double") / nonspace).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Heuristic document-quality score in [0, 1].

    Composite of the classic cheap signals (length band, mean word
    length band, stopword presence, low punctuation density) used to
    pre-filter web text for LLM training. Fixed weights; the value is
    a ranking signal, not a calibrated probability.

    The three word-derived signals are computed from ONE tokenizer
    evaluation via the let-binding trick (see ``shingles``) — naively
    composing ``n_words``/``avg_word_len``/``stopword_ratio`` would
    tokenize the document three times per row.

    Deliberate non-optimization: each ``sig[...]`` field reference
    below re-inlines the whole transform expression in the analyzed
    plan, which LOOKS like 5× duplicated work — but whole-stage
    codegen's common-subexpression elimination collapses the copies,
    and the "fix" (a second let-binding of the signals struct through
    another ``transform``) measured ~1.7× SLOWER warm (0.56s → 0.94s
    at sf0.1, round 5) because the extra higher-order function is an
    interpreted layer per row. Keep the references flat; CSE pays for
    them.
    """
    stops = F.array(*[F.lit(s) for s in EN_STOPWORDS])

    def word_signals(w: Column) -> Column:
        nw = F.size(w).cast("double")
        total_len = F.aggregate(w, F.lit(0).cast("long"),
                                lambda acc, x: acc + F.length(x))
        awl = F.when(nw > 0, total_len.cast("double") / nw).otherwise(0.0)
        n_stop = F.size(F.filter(w, lambda x: F.array_contains(stops, x)))
        sr = F.when(nw > 0, n_stop.cast("double") / nw).otherwise(0.0)
        return F.struct(nw.alias("nw"), awl.alias("awl"), sr.alias("sr"))

    sig = F.transform(F.array(words(col)), word_signals)[0]
    pr = punct_ratio(col)
    len_ok = F.when((sig["nw"] >= 10) & (sig["nw"] <= 100000), 1.0).otherwise(0.0)
    wl_ok = F.when((sig["awl"] >= 2.0) & (sig["awl"] <= 12.0), 1.0).otherwise(0.0)
    stop_ok = F.when(sig["sr"] >= 0.01, 1.0).otherwise(0.0)
    punct_ok = F.when(pr <= 0.2, 1.0).otherwise(0.0)
    return (0.3 * len_ok + 0.2 * wl_ok + 0.3 * stop_ok + 0.2 * punct_ok)


def language_id(col: Column | str) -> Column:
    """N-gram/stopword-heuristic language guess.

    Scores the text against per-language function-word lists and
    returns the argmax, ``und`` when nothing matches. List-based
    rather than model-based: runs entirely JVM-side, which is what
    you want for a first-pass filter over 100 TB (route the
    survivors to a real classifier afterwards).
    """
    ws = words(col)
    langs = {
        "en": ("the", "and", "of", "to", "is", "that", "with"),
        "es": ("el", "la", "de", "que", "los", "por", "una"),
        "fr": ("le", "la", "les", "des", "est", "dans", "pour"),
        "de": ("der", "die", "das", "und", "ist", "nicht", "mit"),
    }
    scores = []
    for lang, stops in langs.items():
        arr = F.array(*[F.lit(s) for s in stops])
        scores.append(F.struct(
            F.size(F.filter(ws, lambda w: F.array_contains(arr, w))).alias("score"),
            F.lit(lang).alias("lang")))
    # argmax by (score, lang) — lang as deterministic tiebreak
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint_md5(col: Column | str) -> Column:
    """Exact content fingerprint: md5 of the normalized word sequence.

    Normalization (tokenize → lower → re-join single-space) makes the
    fingerprint whitespace/punctuation-insensitive, the standard
    first pass of exact dedup at scale — group by a 16-byte digest
    instead of shuffling full document bodies.
    """
    return F.md5(F.concat_ws(" ", words(col)))


def shingles(col: Column | str, n: int = 3) -> Column:
    """array of distinct word n-gram shingle strings (order-sensitive).

    Built with ``transform`` over index positions + ``slice`` — pure
    column expressions, no UDF.
    """
    # Let-binding trick: transform(array(ws), w -> ...)[0] evaluates
    # the tokenizer ONCE per row and binds it to the lambda variable
    # `w`. Referencing the tokenize expression directly inside the
    # per-index lambda would re-run it for every shingle position
    # (measured ~50× slower on the documents corpus).
    def build(w: Column) -> Column:
        k = F.size(w) - (n - 1)
        # guard: sequence(1, 0) would count DOWN in Spark — emit [] instead
        idx = F.when(k > 0, F.sequence(F.lit(1), k)) \
            .otherwise(F.array().cast("array<int>"))
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i, n))))

    return F.transform(F.array(words(col)), build)[0]


def fingerprint_winnow(col: Column | str, n: int = 3, keep: int = 4) -> Column:
    """Winnowing-style robust fingerprint: the ``keep`` smallest md5
    digests over word n-gram shingles, joined to one string.

    Near-identical documents share most shingles, hence most minimal
    digests — a compact similarity key that survives small edits
    (the content-defined analog of the rolling-hash fingerprints used
    in plagiarism detection / near-dup mining).
    """
    hashed = F.transform(shingles(col, n), lambda s: F.md5(s))
    return F.concat_ws("|", F.slice(F.array_sort(hashed), 1, keep))


def winnow_select(col: Column | str, n: int = 3, w: int = 4) -> Column:
    """True positional winnowing (the MOSS fingerprint scheme,
    Schleimer/Wilkerson/Aiken SIGMOD'03): md5 every positional word
    n-gram, slide a ``w``-hash window over the sequence, select each
    window's minimum, return the sorted distinct selections.

    Unlike :func:`fingerprint_winnow` (global bottom-k), the window
    minima are position-LOCAL, which buys the winnowing guarantee:
    any shared run of at least ``w + n - 1`` words between two
    documents shares at least one selected fingerprint — so an
    equi-join on selected hashes is a complete candidate generator
    for that match length, the same scalable bucket-join shape as
    MinHash LSH (no pairwise comparison to find candidates).

    Documents shorter than a full window still select their global
    minimum (``slice`` clamps past the end); empty docs select
    nothing. Pure column expressions: codegen'd end-to-end, and both
    HOF levels are let-bound (``transform(array(x), v -> ...)``) so
    tokenize and the hash array each evaluate once per row, not once
    per element.
    """
    no_hashes = F.array().cast("array<string>")

    def over_hashes(h: Column) -> Column:
        m = F.size(h) - (w - 1)  # number of full windows
        widx = (F.when(m > 0, F.sequence(F.lit(1), m))
                .otherwise(F.when(F.size(h) > 0, F.array(F.lit(1)))
                           .otherwise(F.array().cast("array<int>"))))
        return F.transform(widx, lambda i: F.array_min(F.slice(h, i, w)))

    def build(ws: Column) -> Column:
        k = F.size(ws) - (n - 1)  # number of shingles
        idx = (F.when(k > 0, F.sequence(F.lit(1), k))
               .otherwise(F.array().cast("array<int>")))
        hashes = F.transform(
            idx, lambda i: F.md5(F.concat_ws(" ", F.slice(ws, i, n))))
        sel = F.transform(F.array(hashes), over_hashes)[0]
        return F.array_sort(F.array_distinct(sel))

    return F.coalesce(F.transform(F.array(words(col)), build)[0], no_hashes)


def char_entropy(col: Column | str) -> Column:
    """Shannon entropy (bits/char) of the document's characters —
    the classic cheap gibberish/repetition signal: natural text sits
    ~4 bits, single-char spam near 0, uniform noise near log2(set).

    Pure array algebra, zero shuffle, row-local (higher-order
    functions are *interpreted* in Spark — not codegen'd — but the
    work stays inside the row and parallelizes with the scan).
    Chars via positional substring (NOT split-on-empty — its edge
    semantics differ across engines); counts via a SINGLE pass over
    the sorted char array: run-length boundaries (a run of equal
    adjacent chars = one distinct char's count), then the entropy
    fold over the runs. This is O(n log n) for the sort + O(n) for
    the boundary scans — the earlier form filtered the full char
    array once per distinct char, O(n × distinct) per row (quadratic
    on high-alphabet docs). Runs arrive in sorted-char order, so the
    float summation order is unchanged from the sorted-distinct fold
    it replaced — bit-stable vs the oracle engine, same discipline
    as the lm_score ORDER BY (SCALE.md float-parity lesson).
    ``F.get`` (0-based, NULL out of bounds) keeps the boundary
    probes ANSI-safe.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)) \
        .otherwise(F.array().cast("array<int>"))
    chars = F.transform(idx, lambda i: F.substring(c, i, 1))

    def over(cs: Column) -> Column:
        # cs arrives pre-sorted and LET-BOUND (transform over a
        # 1-element array) so the O(n log n) sort runs once per row,
        # not once per reference below
        m = F.size(cs)
        pos = F.sequence(F.lit(0), m - 1)  # m >= 1 under the n>0 guard
        # run starts: first element, or char differs from predecessor;
        # run ends: last element, or char differs from successor.
        # F.get returns NULL past the ends; TRUE | NULL = TRUE keeps
        # the boundary rows, and interior rows never hit the NULL.
        starts = F.filter(
            pos, lambda i: (i == F.lit(0))
            | ~(F.get(cs, i) == F.get(cs, i - 1)))
        ends = F.filter(
            pos, lambda i: (i == m - 1)
            | ~(F.get(cs, i) == F.get(cs, i + 1)))
        counts = F.zip_with(ends, starts, lambda e, s: e - s + 1)
        total = m.cast("double")
        return F.aggregate(
            counts, F.lit(0.0),
            lambda acc, k: acc - (k.cast("double") / total)
            * F.log2(k.cast("double") / total))

    return F.when(n > 0,
                  F.transform(F.array(F.array_sort(chars)), over)[0]) \
        .otherwise(F.lit(0.0))


def compressed_size_udf():
    """Arrow-batched zlib compressed byte count (level 6) of the
    UTF-8 text — the numerator of ``compression_ratio_udf``, exposed
    standalone so the gate can commit it as the model artifact
    and let the oracle recompute the ratio arithmetic (the
    denominator is plain ``octet_length``). Empty/NULL → 0."""
    import zlib

    @F.pandas_udf("long")
    def size(texts: pd.Series) -> pd.Series:
        def one(t) -> int:
            raw = (t or "").encode("utf-8")
            return len(zlib.compress(raw, 6)) if raw else 0

        return texts.map(one)

    return size


def compression_ratio_udf():
    """Arrow-batched zlib compression ratio: compressed/raw bytes of
    the UTF-8 text (level 6). Repetitive/spammy text compresses far
    below natural prose — the RedPajama-style quality signal.

    A Pandas UDF because SQL has no codec; zlib is stdlib and
    deterministic for a fixed level, but the exact byte count is a
    library artifact → the query built on this is rows-only with
    planted-threshold pytest, like the hash-family ops. Empty docs
    → 0.0.
    """
    import zlib

    @F.pandas_udf("double")
    def ratio(texts: pd.Series) -> pd.Series:
        def one(t: str) -> float:
            raw = (t or "").encode("utf-8")
            if not raw:
                return 0.0
            return round(len(zlib.compress(raw, 6)) / len(raw), 6)

        return texts.map(one)

    return ratio
