"""Language identification via hashed character n-grams.

The first-stage LLM-pipeline operator the registry's mixture/quota
queries consume (``operators/packing.py`` keys on a ``lang`` column)
but, until round 10, never produced from text: a multinomial
naive-Bayes scorer over hashed character trigrams — the classic
langid.py / CLD recipe, reduced to the engine's artifact-oracle
discipline (VERDICT r9 next#3).

Three stages, each with a proven cross-engine recipe:

- **Featurize** (``char_ngram_counts``): per-doc hashed char-trigram
  bucket counts over ``lower(text)``. Bucket = first-4-md5-hex-digits
  of ``"lang:" + trigram`` mod ``N_BUCKETS`` — the DSIR hash
  (``operators/dsir.py``), SQL-expressible, exactly uniform because
  ``N_BUCKETS`` divides 65536. Trigram extraction is a zero-shuffle
  array transform; the only shuffle is the partial-agg
  ``groupBy(doc_id, bucket)``.
- **Fit** (``langid_weights``): per-(lang, bucket) counts over the
  LABELED training corpus — a bounded aggregate (|langs| × N_BUCKETS
  rows) collected driver-side, the same bounded-model-collect
  contract as DSIR/BPE/k-means — then add-α multinomial weights
  ``w_micro = round(1e6 · log p(bucket | lang))`` plus per-lang prior
  rows at ``bucket = PRIOR_BUCKET``. ``math.log`` runs ONCE,
  driver-side; the committed artifact is what both engines join, so
  no libm crosses engines.
- **Score** (``langid_scores``): integer
  ``prior + Σ count·w_micro`` per (doc, lang) — order-invariant —
  and argmax by ``max(struct(score, lang))`` (ties go to the
  code-point-largest lang, the registry's standing convention).
  Documents too short to produce a trigram fall back to the prior
  argmax.

At 100 TB: featurization is scan-side + one map-side-combining
shuffle on (doc_id, bucket); the weight table is |langs| × N_BUCKETS
rows broadcast; scoring is one partial-agg groupBy; the model fit
collects a corpus-size-independent table. Reference parity: none
(extension surface §2.5).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.buckets import hex4

N_BUCKETS = 4096          # must divide 65536 (exact-uniform md5 fold)
LOG_SCALE = 1_000_000     # micro-nats per weight unit
SMOOTH = 0.5              # add-α smoothing per bucket
NGRAM = 3
PRIOR_BUCKET = -1         # artifact rows carrying log p(lang)
_SALT = "lang:"


def char_ngram_counts(docs: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-doc hashed char-trigram features: (doc_id, bucket, c).

    Trigrams are taken over ``lower(text)`` at every code-point
    position (1 .. len−2); bucket = md5-hex4("lang:"+gram) mod
    N_BUCKETS. Docs shorter than NGRAM emit no rows.
    """
    # the >= NGRAM guard matters: Spark's sequence(1, 0) DESCENDS to
    # [1, 0] instead of emitting empty (DuckDB's range is empty), so
    # an unguarded 2-char doc would emit two bogus short grams
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(
            f"CASE WHEN char_length(lower({text_col})) >= {NGRAM} "
            f"THEN transform(sequence(1, char_length(lower({text_col}))"
            f" - {NGRAM - 1}), "
            f"i -> substring(lower({text_col}), i, {NGRAM})) "
            f"ELSE array() END"))
        .alias("g"))
    bucket = F.pmod(hex4(F.concat(F.lit(_SALT), F.col("g"))),
                    F.lit(N_BUCKETS))
    return (grams.select("doc_id", bucket.alias("bucket"))
            .groupBy("doc_id", "bucket")
            .agg(F.count(F.lit(1)).alias("c")))


def langid_weight_rows(lang_bucket_counts: dict[tuple[str, int], int],
                       lang_doc_counts: dict[str, int]
                       ) -> list[tuple[str, int, int]]:
    """The bounded model fit, pure Python: per-(lang, bucket) integer
    micro-nat weights ``round(1e6 · log((c + α) / (tot + α·B)))``
    plus one PRIOR_BUCKET row per lang carrying
    ``round(1e6 · log(n_docs_lang / n_docs))``. This list IS the
    committed artifact's content."""
    langs = sorted(lang_doc_counts)
    totals = {lang: 0 for lang in langs}
    for (lang, _b), c in lang_bucket_counts.items():
        totals[lang] += c
    n_docs = sum(lang_doc_counts.values())
    rows: list[tuple[str, int, int]] = []
    for lang in langs:
        denom = totals[lang] + SMOOTH * N_BUCKETS
        rows.append((lang, PRIOR_BUCKET,
                     round(LOG_SCALE
                           * math.log(lang_doc_counts[lang] / n_docs))))
        for b in range(N_BUCKETS):
            c = lang_bucket_counts.get((lang, b), 0)
            rows.append((lang, b,
                         round(LOG_SCALE * math.log((c + SMOOTH) / denom))))
    return rows


def langid_weights(docs: DataFrame, *, lang_col: str = "lang",
                   id_col: str = "doc_id", text_col: str = "text",
                   feats: DataFrame | None = None) -> DataFrame:
    """Fit the classifier on a labeled corpus: two bounded aggregates
    (per-(lang, bucket) trigram counts, per-lang doc counts) collect
    driver-side; returns the (lang, bucket, w_micro) weight frame,
    PRIOR_BUCKET rows included. Pass ``feats`` to reuse an existing
    feature frame (the scoring pass shares it)."""
    spark = docs.sparkSession
    if feats is None:
        feats = char_ngram_counts(docs, id_col=id_col, text_col=text_col)
    lb = (feats.join(docs.select(F.col(id_col).alias("doc_id"),
                                 F.col(lang_col).alias("lang")),
                     "doc_id")
          .groupBy("lang", "bucket").agg(F.sum("c").alias("n"))
          .collect())
    ld = docs.groupBy(F.col(lang_col).alias("lang")) \
             .agg(F.count(F.lit(1)).alias("n")).collect()
    rows = langid_weight_rows(
        {(r["lang"], int(r["bucket"])): int(r["n"]) for r in lb},
        {r["lang"]: int(r["n"]) for r in ld})
    return spark.createDataFrame(rows, "lang string, bucket long, "
                                       "w_micro long")


def langid_scores(docs: DataFrame, weights: DataFrame, *,
                  id_col: str = "doc_id", text_col: str = "text",
                  feats: DataFrame | None = None) -> DataFrame:
    """Per-doc prediction: (doc_id, pred_lang). Integer score
    ``prior + Σ count·w_micro`` per candidate lang, argmax via
    ``max(struct(score, lang))``; trigram-less docs take the prior
    argmax."""
    if feats is None:
        feats = char_ngram_counts(docs, id_col=id_col, text_col=text_col)
    w = weights.filter(F.col("bucket") != PRIOR_BUCKET)
    priors = (weights.filter(F.col("bucket") == PRIOR_BUCKET)
              .select("lang", F.col("w_micro").alias("prior_micro")))
    per_lang = (feats.join(F.broadcast(w), "bucket")
                .groupBy("doc_id", "lang")
                .agg(F.sum(F.col("c") * F.col("w_micro")).alias("s")))
    scored = (per_lang.join(F.broadcast(priors), "lang")
              .withColumn("score", F.col("s") + F.col("prior_micro")))
    pred = (scored.groupBy("doc_id")
            .agg(F.max(F.struct("score", "lang")).alias("m"))
            .select("doc_id", F.col("m.lang").alias("pred_lang")))
    # trigram-less docs (len < NGRAM, null text): prior argmax
    fallback = (priors
                .agg(F.max(F.struct(F.col("prior_micro"), F.col("lang")))
                     .alias("m"))
                .select(F.col("m.lang").alias("__fb")))
    return (docs.select(F.col(id_col).alias("doc_id"))
            .join(pred, "doc_id", "left")
            .crossJoin(F.broadcast(fallback))
            .select("doc_id",
                    F.coalesce("pred_lang", F.col("__fb"))
                    .alias("pred_lang")))
