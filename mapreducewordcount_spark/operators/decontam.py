"""Eval-set decontamination: drop training documents that overlap a
benchmark/eval corpus by shared word n-grams.

The standard LLM-training hygiene pass (the GPT-3/PaLM reports
describe 8-13-gram overlap scrubbing): a training document is
contaminated when it shares at least ``min_hits`` distinct n-grams
with ANY eval document.

Scale shape — the asymmetry is the whole design: eval corpora are
megabytes while training corpora are the 100 TB side, so the eval
n-gram set is collected into a broadcast and the training side never
shuffles *documents* at all:

  train → shingles (pure column exprs, zero shuffle)
        → explode → broadcast-hash semi vs eval n-grams
        → per-doc distinct-hit count (shuffles doc_id+ngram pairs
          ONLY for docs that hit at least once — the overwhelming
          majority of clean docs exit at the broadcast probe)

Reference parity note: the reference engine
(/root/reference/src/worker.py) has no document pipeline; SURVEY.md
§2.5 claims this extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordcount_spark.cache import persist_tracked, release_query_cache
from mapreducewordcount_spark.functions.text_metrics import shingles


def eval_ngram_set(eval_docs: DataFrame, text_col: str = "text",
                   n: int = 3) -> DataFrame:
    """Distinct word n-grams over the eval corpus — one ``ngram``
    column, deduplicated, small enough to broadcast by construction
    (benchmarks are tiny relative to training data)."""
    return (eval_docs
            .select(F.explode(shingles(text_col, n)).alias("ngram"))
            .distinct())


def contamination_report(train: DataFrame, eval_docs: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         n: int = 3) -> DataFrame:
    """Per contaminated training doc: how many distinct eval n-grams
    it contains. Docs with zero hits do not appear (at scale that is
    almost all of them — keep the report sparse)."""
    ngrams = eval_ngram_set(eval_docs, text_col, n)
    exploded = (train
                .select(F.col(id_col), F.explode_outer(
                    F.array_distinct(shingles(text_col, n))).alias("ngram"))
                .filter(F.col("ngram").isNotNull()))
    return (exploded
            .join(F.broadcast(ngrams), "ngram")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits")))


def decontaminate(train: DataFrame, eval_docs: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3, min_hits: int = 1) -> DataFrame:
    """Training rows minus those sharing ≥ ``min_hits`` distinct
    n-grams with the eval corpus (broadcast probe + anti join on the
    small contaminated-id set)."""
    hits = (contamination_report(train, eval_docs, id_col, text_col, n)
            .filter(F.col("n_hits") >= min_hits)
            .select(id_col))
    return train.join(hits, id_col, "left_anti")


def source_ngram_overlap(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         source_col: str = "source",
                         n: int = 3) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources,
    how many distinct word n-grams they share, plus set-Jaccard.

    The corpus-curation generalization of eval decontamination: when
    the train/eval split is BY SOURCE (the common case — "train on
    crawl, eval on curated"), the leakage signal is the n-gram overlap
    between sources, and a high-Jaccard pair means the split leaks.

    Scale shape (the point is what this NEVER does — join documents
    against documents):

    1. distinct (source, ngram) — one shuffle with partial-distinct
       combine; output is bounded by vocabulary × sources, not rows;
    2. groupBy(ngram) + collect_set(source) — the per-key value is
       bounded by the SOURCE COUNT (a handful), so there is no hot-key
       blowup regardless of how universal an n-gram is — the map-side
       partial set caps every task's contribution at |sources|;
    3. pair expansion from each sorted source-set (≤ |sources|² per
       n-gram, in-row transform/flatten — no join);
    4. per-pair count + a broadcast join against the tiny per-source
       totals for the Jaccard denominator.

    Output: (source_a < source_b, shared_ngrams, n_a, n_b, jaccard).
    """
    from mapreducewordcount_spark.sources.tables import spread

    e = (spread(docs)
         .select(F.col(source_col).alias("source"),
                 F.explode(shingles(text_col, n)).alias("ngram"))
         .distinct())
    tot = e.groupBy("source").agg(F.count(F.lit(1)).alias("n_ngrams"))
    # sorted source set per n-gram, expanded to ordered (a, b) pairs
    # entirely in-row: transform-with-index over the set against its
    # own tail slice, flattened — no self-join on the n-gram key.
    pairs = (e.groupBy("ngram")
             .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
             .filter(F.size("srcs") >= 2)
             .select(F.explode(F.expr(
                 "flatten(transform(srcs, (a, i) -> "
                 "transform(slice(srcs, i + 2, size(srcs)), "
                 "b -> struct(a AS source_a, b AS source_b))))")).alias("p"))
             .select("p.source_a", "p.source_b")
             .groupBy("source_a", "source_b")
             .agg(F.count(F.lit(1)).alias("shared_ngrams")))
    ta = tot.select(F.col("source").alias("source_a"),
                    F.col("n_ngrams").alias("n_a"))
    tb = tot.select(F.col("source").alias("source_b"),
                    F.col("n_ngrams").alias("n_b"))
    return (pairs
            .join(F.broadcast(ta), "source_a")
            .join(F.broadcast(tb), "source_b")
            .select("source_a", "source_b", "shared_ngrams", "n_a", "n_b",
                    F.round(F.col("shared_ngrams").cast("double")
                            / (F.col("n_a") + F.col("n_b")
                               - F.col("shared_ngrams")), 6).alias("jaccard")))


# --- Bloom-prefiltered decontamination --------------------------------------
#
# The broadcast-semi design above assumes the eval n-gram SET fits in
# a broadcast hash map (~60-100 bytes per n-gram of JVM string + map
# overhead). When the held-out side grows past that — a full eval
# *suite*, or decontaminating one crawl snapshot against another — the
# raw set no longer broadcasts, but a Bloom filter over it does:
# bits_per_elem=16, k=4 costs 2 bytes/n-gram (~0.24% false-positive
# rate), a ~40x capacity gain at the same broadcast budget. The probe
# stays map-side (k broadcast bit-tests), and survivors are verified
# EXACTLY against the true set with a shuffle join whose left side is
# only the candidates (true hits + ~0.24% false positives) — so the
# operator's OUTPUT is exact; the Bloom parameters only move work, not
# answers, which is what lets the DuckDB oracle stay a plain semi-join.

def bloom_ngram_filter(ngrams: DataFrame, ngram_col: str = "ngram",
                       bits_per_elem: int = 16,
                       k: int = 4) -> tuple[DataFrame, int]:
    """Build a Bloom filter over ``ngrams`` as a (word_idx, bits)
    DataFrame of packed 64-bit words — ``m/64`` rows, bounded by the
    build-side cardinality, broadcastable by construction.

    Deterministic: positions are ``pmod(xxhash64(ngram, seed), m)``
    for seed in 0..k-1 (xxhash64 over the (value, seed) tuple gives k
    independent hashes with no per-call seed parameter needed).
    Returns ``(bits_df, m)``; absent word_idx rows mean all-zero bits.
    """
    n = max(ngrams.count(), 1)  # bounded action on the SMALL side
    m = 1 << max(14, (n * bits_per_elem - 1).bit_length())
    pos = [F.pmod(F.xxhash64(F.col(ngram_col), F.lit(s)), F.lit(m))
           for s in range(k)]
    bits = (ngrams
            .select(F.explode(F.array(*pos)).alias("pos"))
            .groupBy(F.expr("pos div 64").alias("word_idx"))
            .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT),"
                        " CAST(pos % 64 AS INT)))").alias("bits")))
    return bits, m


def bloom_probe(df: DataFrame, ngram_col: str, bloom_bits: DataFrame,
                m: int, k: int = 4) -> DataFrame:
    """Keep only rows whose ``ngram_col`` passes all k Bloom bit
    tests. Entirely map-side: k broadcast-hash left joins against the
    packed-bits table (bounded size — broadcasting it is the point),
    then a row-local AND of the bit masks. No shuffle of ``df``; rows
    that miss any bit (the overwhelming majority at scale) exit here.
    """
    out = df
    tests = []
    for s in range(k):
        b = bloom_bits.select(F.col("word_idx").alias(f"_w{s}"),
                              F.col("bits").alias(f"_b{s}"))
        out = (out
               .withColumn(f"_p{s}",
                           F.pmod(F.xxhash64(F.col(ngram_col), F.lit(s)),
                                  F.lit(m)))
               .join(F.broadcast(b),
                     F.expr(f"_p{s} div 64") == F.col(f"_w{s}"), "left"))
        tests.append(F.expr(
            f"(coalesce(_b{s}, CAST(0 AS BIGINT))"
            f" & shiftleft(CAST(1 AS BIGINT), CAST(_p{s} % 64 AS INT)))"
            f" != 0"))
    keep = tests[0]
    for t in tests[1:]:
        keep = keep & t
    drop = [c for s in range(k) for c in (f"_p{s}", f"_w{s}", f"_b{s}")]
    return out.filter(keep).drop(*drop)


def contamination_report_bloom(train: DataFrame, eval_docs: DataFrame,
                               id_col: str = "doc_id",
                               text_col: str = "text", n: int = 3,
                               bits_per_elem: int = 16,
                               k: int = 4) -> DataFrame:
    """Same output as :func:`contamination_report`, computed via the
    Bloom prefilter + exact verify. The verify join deliberately
    carries NO broadcast hint: at the scale where this variant is the
    right tool the true set does not broadcast, and the join's left
    side is only the Bloom survivors — AQE picks the strategy.

    The eval n-gram frame is persisted (the Bloom build and the
    exact-verify join both consume it) through ``cache.py``'s
    tracked registry: each call releases the PREVIOUS invocation's
    frames, so repeated library calls in one session never accumulate
    cached partitions (ADVICE r7); long-lived applications can drop
    the last frame explicitly via ``release_query_cache`` once the
    result is consumed."""
    release_query_cache()
    ngrams = persist_tracked(eval_ngram_set(eval_docs, text_col, n))
    bits, m = bloom_ngram_filter(ngrams, "ngram", bits_per_elem, k)
    exploded = (train
                .select(F.col(id_col), F.explode_outer(
                    F.array_distinct(shingles(text_col, n))).alias("ngram"))
                .filter(F.col("ngram").isNotNull()))
    cand = bloom_probe(exploded, "ngram", bits, m, k)
    return (cand
            .join(ngrams, "ngram")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits")))
