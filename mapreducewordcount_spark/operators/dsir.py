"""DSIR: data selection with importance resampling (Xie et al. 2023).

The published recipe for "select pretraining data that looks like my
target corpus": featurize every document into hashed n-gram bucket
counts, fit two bag-of-buckets unigram models (raw pool vs target),
and score each document by the log importance ratio

    score(d) = sum_b  count_d[b] * ( log p_target[b] - log p_source[b] )

then keep the top-scored (the paper resamples with Gumbel noise; the
deterministic top-k is the reproducible variant, same ranking).

Engineering shape (oracle-exactness is the design driver):

- **Hashing** uses the repo's cross-engine hash — md5 first-4-hex-
  digits (``functions/sampling.py`` rationale) mod ``N_BUCKETS`` — so
  the DuckDB oracle recomputes doc features from raw text;
  ``N_BUCKETS`` divides 65536, keeping the fold exactly uniform.
- **The bucket log-weight table is the model artifact**
  (``queries/pipeline5.dsir_weight_model``): bucket counts for
  pool and target are bounded (``N_BUCKETS`` rows) driver-side
  aggregates — the same bounded-model-collect contract as BPE's
  top-V table and k-means centroids — and the ``math.log`` happens
  once, driver-side, quantized to integer micro-nats. The committed
  artifact is what the oracle joins, so no libm call ever has to
  agree across engines.
- **Scoring is integer**: ``sum(count * weight_micro)`` — partition-
  and order-invariant, hash-stable.

At 100 TB: featurization is a scan-side projection + one groupBy
(doc_id, bucket) with map-side combine; the weight table is
``N_BUCKETS`` rows broadcast; scoring is one aggregate; selection is
``TakeOrderedAndProject``. The model fit collects 2×``N_BUCKETS``
longs to the driver — constant in corpus size.

Reference parity: none (extension surface §2.5).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.buckets import hex4
from mapreducewordcount_spark.functions.tokenize import tokenize_expr

N_BUCKETS = 1024          # must divide 65536 (exact-uniform md5 fold)
LOG_SCALE = 1_000_000     # micro-nats per weight unit
SMOOTH = 0.5              # add-a smoothing for both models
_SALT = "dsir:"


def doc_bucket_counts(docs: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-doc hashed n-gram features: (doc_id, bucket, c).

    N-grams are the token unigrams plus space-joined bigrams
    (the paper's feature set); bucket = md5-hex4("dsir:"+ngram) mod
    N_BUCKETS.
    """
    words = docs.select(F.col(id_col).alias("doc_id"),
                        tokenize_expr(text_col).alias("words"))
    uni = words.select("doc_id", F.explode("words").alias("ng"))
    big = words.select(
        "doc_id",
        F.explode(F.zip_with(
            F.slice("words", 1, F.greatest(F.size("words") - 1, F.lit(0))),
            F.slice("words", 2, F.greatest(F.size("words") - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b))).alias("ng"))
    ng = uni.unionByName(big)
    bucket = F.pmod(hex4(F.concat(F.lit(_SALT), F.col("ng"))),
                    F.lit(N_BUCKETS))
    return (ng.select("doc_id", bucket.alias("bucket"))
              .groupBy("doc_id", "bucket")
              .agg(F.count(F.lit(1)).alias("c")))


def dsir_weight_rows(source_counts: dict[int, int],
                     target_counts: dict[int, int]) -> list[tuple[int, int]]:
    """The bounded model fit: per-bucket integer micro-nat weights
    ``round(1e6 * (log p_target[b] - log p_source[b]))`` with add-a
    smoothing. Pure Python over two N_BUCKETS-sized dicts — the
    driver-side step whose output becomes the committed artifact."""
    s_tot = sum(source_counts.values()) + SMOOTH * N_BUCKETS
    t_tot = sum(target_counts.values()) + SMOOTH * N_BUCKETS
    rows = []
    for b in range(N_BUCKETS):
        pt = (target_counts.get(b, 0) + SMOOTH) / t_tot
        ps = (source_counts.get(b, 0) + SMOOTH) / s_tot
        rows.append((b, round(LOG_SCALE * (math.log(pt) - math.log(ps)))))
    return rows


def _vector(feats: DataFrame) -> dict[int, int]:
    rows = feats.groupBy("bucket").agg(F.sum("c").alias("n")).collect()
    return {int(r["bucket"]): int(r["n"]) for r in rows}


def dsir_weights(docs: DataFrame, target: DataFrame, *,
                 feats: DataFrame | None = None,
                 target_ids: DataFrame | None = None) -> DataFrame:
    """Fit the importance model: bucket counts for the full pool and
    the target subset (two bounded aggregates), weights computed
    driver-side. Returns an N_BUCKETS-row (bucket, w_micro) frame.

    Featurization is the expensive pass (tokenize + explode + agg),
    so callers that also score should featurize ONCE and pass
    ``feats`` (persisted) plus ``target_ids`` — the pool vector, the
    target vector (semi-joined to the target ids), and scoring then
    all reuse it instead of re-tokenizing the corpus 3x.
    """
    spark = docs.sparkSession
    if feats is None:
        src_vec = _vector(doc_bucket_counts(docs))
        tgt_vec = _vector(doc_bucket_counts(target))
    else:
        if target_ids is None:
            target_ids = target.select("doc_id")
        src_vec = _vector(feats)
        tgt_vec = _vector(feats.join(target_ids, "doc_id", "left_semi"))
    rows = dsir_weight_rows(src_vec, tgt_vec)
    return spark.createDataFrame(rows, "bucket long, w_micro long")


def dsir_scores(docs: DataFrame, weights: DataFrame, *,
                id_col: str = "doc_id",
                feats: DataFrame | None = None) -> DataFrame:
    """Per-doc integer importance score: sum(count * w_micro); docs
    with no features (blank text) score 0. Pass ``feats`` to reuse
    an already-computed feature frame."""
    if feats is None:
        feats = doc_bucket_counts(docs, id_col=id_col)
    scored = (feats.join(F.broadcast(weights), "bucket")
                   .groupBy("doc_id")
                   .agg(F.sum(F.col("c") * F.col("w_micro"))
                        .alias("dsir_score_micro")))
    return (docs.select(F.col(id_col).alias("doc_id"))
                .join(scored, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("dsir_score_micro", F.lit(0))
                         .cast("long").alias("dsir_score_micro")))
