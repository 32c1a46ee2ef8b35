"""Tokenizer induction: byte-pair-encoding (BPE) training + apply.

The missing rung of the tokenizer surface: ``functions/tokenize``
covers pre-tokenization (word splitting) and ``text_metrics.
token_count`` counts pre-tokens; training an actual subword
vocabulary is the step a real pipeline runs before any token budget
means anything. Public method: Sennrich et al. 2016, *Neural Machine
Translation of Rare Words with Subword Units* (and the GPT-2 BPE
variant) — iteratively merge the most frequent adjacent symbol pair.

Scale shape (the same two-phase split as ``operators/lmscore.py``
and FAISS-style PQ/IVF training):

- **Corpus pass (distributed)** — word frequencies via one
  partial-aggregated ``groupBy(word)``: shuffle volume = distinct
  words, not tokens. This is the ONLY full-corpus work; it is also
  exactly what the reference's word-count computes, so the engine
  reuses its hottest path.
- **Merge loop (central, bounded)** — classic BPE trains on the
  word-frequency TABLE, not the corpus (each merge only needs pair
  counts derivable from it). The table is capped at ``v_max_words``
  rows (frequency-ordered, deterministic tie-break), collected as a
  bounded model artifact, and the merge loop runs driver-side in
  pure Python — at web scale the top-V word-frequency table is
  megabytes while the corpus is terabytes, which is why production
  BPE trainers (GPT-2's included) are central programs fed by a
  distributed count.
- **Apply (distributed, map-side)** — encoding rides an
  Arrow-batched ``mapInPandas`` with the merge ranks in the closure
  (a dict of ≤ n_merges entries) and a per-batch word cache — one
  BPE encode per DISTINCT word per batch, zero shuffle.

``bpe_pair_counts`` (the trainer's inner statistic) is exact
DataFrame algebra with a DuckDB oracle; the merge loop and apply are
deterministic but iterative → rows-only gate entries with
planted-ground-truth pytest (tests/test_bpe.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.text_metrics import words


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — one partial-aggregated shuffle."""
    return (docs
            .select(F.explode(words(text_col)).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("freq")))


def _char_pairs(word_col):
    """word → array<struct<a,b>> of adjacent character pairs."""
    w = F.col(word_col) if isinstance(word_col, str) else word_col
    n = F.length(w)
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)) \
        .otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.struct(
        F.substring(w, i, 1).alias("a"),
        F.substring(w, i + 1, 1).alias("b")))


def bpe_pair_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(a, b, pair_count): corpus-weighted adjacent character-pair
    frequencies over the initial (single-character) symbol vocabulary
    — the statistic BPE's first merge maximizes.

    Pair enumeration happens on the word-frequency table (distinct
    words), weighted by ``freq`` — |distinct words| × |word| rows,
    orders of magnitude below exploding the raw corpus.
    """
    wf = word_frequencies(docs, text_col)
    return (wf
            .select("freq", F.explode(_char_pairs("word")).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("pair_count")))


def bpe_train(docs: DataFrame, n_merges: int = 64,
              v_max_words: int = 4096,
              text_col: str = "text") -> list[tuple[str, str]]:
    """Corpus pass + central merge loop → ordered merge list.

    Deterministic: the word table is cut by (freq desc, word) and the
    merge loop breaks count ties on the (a, b) pair lexicographically
    — same corpus, same merges, every run and engine.
    """
    rows = (word_frequencies(docs, text_col)
            .orderBy(F.col("freq").desc(), "word")
            .limit(v_max_words)
            .collect())
    vocab = {tuple(r.word): int(r.freq) for r in rows}  # symbols-tuple → freq
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, freq in vocab.items():
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + freq
        if not counts:
            break
        # deterministic tie-break: max count, then lexicographically
        # smallest pair
        top = max(counts.values())
        best = min(p for p, c in counts.items() if c == top)
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, freq in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms)
                        and syms[i] == best[0] and syms[i + 1] == best[1]):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + freq
        vocab = new_vocab
    return merges


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode one word with the trained merge ranks (lowest rank
    merges first — the standard BPE apply)."""
    syms = list(word)
    while len(syms) > 1:
        pairs = list(zip(syms, syms[1:]))
        ranked = [(ranks[p], i) for i, p in enumerate(pairs) if p in ranks]
        if not ranked:
            break
        _, i = min(ranked)
        syms = syms[:i] + [syms[i] + syms[i + 1]] + syms[i + 2:]
    return syms


def bpe_vocab_token_counts(docs: DataFrame,
                           merges: list[tuple[str, str]],
                           text_col: str = "text") -> DataFrame:
    """(word, n_tokens) for every DISTINCT corpus word under the
    trained merges — the serving-table form of the BPE model (each
    word encoded exactly once, corpus-wide, instead of once per
    batch-local cache). This is the table a production tokenizer
    service ships; the gate commits it as the oracle artifact so
    DuckDB can recompute the per-document counting (tokenize → join →
    sum) downstream of it."""
    ranks = {p: i for i, p in enumerate(merges)}
    vocab = (docs.select(F.explode(words(text_col)).alias("word"))
             .distinct())

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({
                "word": pdf["word"],
                "n_tokens": [len(bpe_encode_word(w, ranks))
                             for w in pdf["word"]],
            })

    return vocab.mapInPandas(enc, schema="word string, n_tokens int")


def bpe_token_stats(docs: DataFrame, merges: list[tuple[str, str]],
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """doc → (n_words, n_bpe_tokens): subword token counts under the
    trained merges — the number that actually prices a doc against a
    training token budget (char-count and word-count both misprice).

    Arrow-batched apply; the merge table rides the closure (≤ n_merges
    entries) and a per-batch dict caches each distinct word's
    encoding, so the Python cost is one encode per distinct word per
    batch, not per occurrence.
    """
    ranks = {p: i for i, p in enumerate(merges)}

    def score(batches):
        import pandas as pd

        cache: dict[str, int] = {}

        def n_tokens(ws):
            total = 0
            for w in ws:
                got = cache.get(w)
                if got is None:
                    got = len(bpe_encode_word(w, ranks))
                    cache[w] = got
                total += got
            return total

        for pdf in batches:
            # NULL text → null word array → None in the batch; treat
            # as empty instead of TypeError-ing the whole task (the
            # SQL-expression siblings degrade to NULL, never abort)
            wss = [ws if ws is not None else [] for ws in pdf["__ws"]]
            yield pd.DataFrame({
                "doc_id": pdf["__id"],
                "n_words": [len(ws) for ws in wss],
                "n_bpe_tokens": [n_tokens(ws) for ws in wss],
            })

    return (docs
            .select(F.col(id_col).alias("__id"),
                    words(text_col).alias("__ws"))
            .mapInPandas(score,
                         schema="doc_id long, n_words int, n_bpe_tokens int"))
