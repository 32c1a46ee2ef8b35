"""Exact-substring dedup: remove every duplicated >=L-token span.

Published method: Lee et al. 2022, *Deduplicating Training Data Makes
Language Models Better* (ExactSubstr) — delete from the corpus every
substring of at least 50 tokens that occurs more than once. The paper
builds a single-machine suffix array; the distributed form implemented
here reaches the SAME output semantics through L-token shingle
anchoring:

    a token position is covered by some duplicated substring of
    length >= L  <=>  it is covered by a duplicated L-gram.

(=>: if s occurs twice with |s| >= L, every L-window of s also occurs
twice, and every position of s lies in one of those windows. <=: an
L-gram occurring twice IS a duplicated substring of length L.) So the
exact removal set is the union of positions covered by L-grams whose
corpus-wide occurrence count is >= 2 — computable with one explode +
partial-agg groupBy + join-back + per-doc interval merge, no suffix
array and no global sort.

Scale shape (the ``operators/dupspans.py`` discipline, which this
module extends from *counting* duplicated n-grams to *removing* the
maximal duplicated spans):

- The shuffle carries 8-byte ``xxhash64`` keys, never the L-token
  strings themselves — at L=50 a raw key would be ~300 bytes/row.
  A 64-bit key space sees its first birthday collision near ~4·10^9
  distinct L-grams; a collision can only over-remove, never miss a
  duplicate.
- Corpus frequency is a partial-aggregated ``groupBy(key).count()``
  joined back onto the occurrences: a corpus-universal span (license
  boilerplate — guaranteed in web data) map-side-combines to one row
  per upstream task instead of concentrating in a window partition.
- The interval merge is a per-document gaps-and-islands window —
  partitioned by doc_id, bounded by the document's own length, so no
  cross-doc skew is possible.
- Building the L-gram string per start position is O(n_tokens * L)
  character movement inside one narrow projection (no shuffle), which
  stays whole-stage-codegen'd and JVM-side at the corpus profile this
  engine targets (web docs, mean span far under 10k tokens).

Tokenization is the engine's native normalizer
(``functions.text_metrics.words``), so "token" here matches every
other text operator and the DuckDB oracle's ``_WORDS_CTE``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.text_metrics import words
from mapreducewordcount_spark.operators.dupspans import _ngram_strings

#: Lee et al. 2022's published operating point (50 BPE tokens). Gate
#: queries scale this down to the synthetic corpus' ~54-word docs.
DEFAULT_MIN_TOKENS = 50


def _lgram_occurrences(docs: DataFrame, min_tokens: int, id_col: str,
                       text_col: str) -> DataFrame:
    """(doc_id, s, key): every L-gram start position (1-based token
    index) with its hashed shuffle key. Multiplicity preserved —
    within-doc repeats are duplicates too (same bytes to a training
    run)."""
    return (docs
            .select(id_col,
                    F.posexplode(_ngram_strings(text_col, min_tokens))
                    .alias("pos0", "ng"))
            .select(id_col, (F.col("pos0") + 1).alias("s"),
                    F.xxhash64("ng").alias("key")))


def exact_substring_spans(docs: DataFrame,
                          min_tokens: int = DEFAULT_MIN_TOKENS,
                          min_count: int = 2,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Maximal duplicated token spans per document.

    Returns (id_col, span_start, span_end): 1-based inclusive token
    ranges, the per-doc union of positions covered by L-grams occurring
    >= ``min_count`` times corpus-wide, merged into maximal contiguous
    runs (overlapping or ADJACENT covered intervals fuse — the removal
    set is a set of positions, so two abutting duplicated windows are
    one maximal removed run).
    """
    occ = _lgram_occurrences(docs, min_tokens, id_col, text_col)
    dup_keys = (occ.groupBy("key")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .filter(F.col("cnt") >= min_count)
                .select("key"))
    cov = (occ.join(dup_keys, "key")
           .select(id_col, "s",
                   (F.col("s") + min_tokens - 1).alias("e")))
    # gaps-and-islands per doc: a new island starts where this
    # interval's start clears the running max end of everything before
    prev = (Window.partitionBy(id_col).orderBy("s")
            .rowsBetween(Window.unboundedPreceding, -1))
    run = (Window.partitionBy(id_col).orderBy("s")
           .rowsBetween(Window.unboundedPreceding, 0))
    isl = (cov
           .withColumn(
               "brk",
               F.when(F.col("s") > F.coalesce(F.max("e").over(prev),
                                              F.lit(-1)) + 1,
                      F.lit(1)).otherwise(F.lit(0)))
           .withColumn("span_id", F.sum("brk").over(run)))
    return (isl.groupBy(id_col, "span_id")
            .agg(F.min("s").cast("long").alias("span_start"),
                 F.max("e").cast("long").alias("span_end"))
            .drop("span_id"))


def exact_substring_dedup(docs: DataFrame,
                          min_tokens: int = DEFAULT_MIN_TOKENS,
                          min_count: int = 2,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """The rewrite: per doc, duplicated-span stats + the text that
    survives span removal.

    Returns (id_col, n_tokens, n_dup_spans, n_dup_tokens,
    cleaned_text) where cleaned_text is the normalized token stream
    with every duplicated span deleted, single-space joined (empty
    string when the whole doc is duplicated text — the doc a pipeline
    would drop entirely).

    The span list is folded back as a per-doc ARRAY and coverage is
    tested with an indexed ``filter`` lambda — a position-level
    range JOIN would hand Spark a non-equi condition (broadcast
    nested loop); the array form is a narrow projection because spans
    per doc are bounded by the doc's own length.
    """
    spans = exact_substring_spans(docs, min_tokens, min_count, id_col,
                                  text_col)
    per = (spans.groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_dup_spans"),
                F.sum(F.col("span_end") - F.col("span_start") + 1)
                .alias("n_dup_tokens"),
                F.collect_list(F.struct("span_start", "span_end"))
                .alias("spans")))
    base = docs.select(id_col, words(text_col).alias("__ws"))
    pos_covered = lambda i: F.exists(  # noqa: E731 — local expr builder
        F.col("spans"),
        lambda sp: ((i + 1) >= sp.span_start) & ((i + 1) <= sp.span_end))
    kept = F.when(F.col("spans").isNull(), F.col("__ws")) \
        .otherwise(F.filter("__ws", lambda w, i: ~pos_covered(i)))
    return (base.join(per, id_col, "left")
            .select(id_col,
                    F.size("__ws").cast("long").alias("n_tokens"),
                    F.coalesce("n_dup_spans", F.lit(0)).cast("long")
                    .alias("n_dup_spans"),
                    F.coalesce("n_dup_tokens", F.lit(0)).cast("long")
                    .alias("n_dup_tokens"),
                    F.array_join(kept, " ").alias("cleaned_text")))
