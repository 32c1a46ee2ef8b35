"""Hashed char-n-gram language ID: planted multi-language ground
truth, prior-fallback behavior, weight-table invariants, and the
integer-score/argmax parity rules the oracle depends on."""

from __future__ import annotations

import pytest

import math

from pyspark.sql import functions as F

from mapreducewordcount_spark.operators.langid import (
    LOG_SCALE,
    N_BUCKETS,
    PRIOR_BUCKET,
    SMOOTH,
    char_ngram_counts,
    langid_scores,
    langid_weight_rows,
    langid_weights,
)

# hand-written sentences, one distinct real language each — enough
# trigram signal for the NB to separate them cleanly
_EN = ["the quick brown fox jumps over the lazy dog near the river bank",
       "she was reading the morning newspaper while drinking her coffee",
       "they walked through the old town and talked about the weather"]
_ES = ["el rápido zorro marrón salta sobre el perro perezoso del río",
       "ella estaba leyendo el periódico mientras tomaba su café caliente",
       "caminaron por la ciudad vieja y hablaron sobre el tiempo"]
_DE = ["der schnelle braune fuchs springt über den faulen hund am fluss",
       "sie las die morgenzeitung während sie ihren kaffee trank",
       "sie gingen durch die altstadt und sprachen über das wetter"]


def _corpus(spark):
    rows = []
    for i, t in enumerate(_EN):
        rows.append((i, "en", t))
    for i, t in enumerate(_ES):
        rows.append((10 + i, "es", t))
    for i, t in enumerate(_DE):
        rows.append((20 + i, "de", t))
    return spark.createDataFrame(rows, "doc_id long, lang string, "
                                       "text string")


def test_planted_languages_classified_correctly(spark):
    """Train on the planted tri-lingual corpus, predict held-in docs
    AND unseen same-language sentences: every prediction must hit the
    planted language."""
    docs = _corpus(spark)
    weights = langid_weights(docs)
    # held-in
    pred = {r.doc_id: r.pred_lang
            for r in langid_scores(docs, weights).collect()}
    want = {r.doc_id: r.lang for r in docs.collect()}
    assert pred == want
    # held-out sentences, same languages
    unseen = spark.createDataFrame(
        [(100, "the children played in the garden before dinner"),
         (101, "los niños jugaban en el jardín antes de la cena"),
         (102, "die kinder spielten im garten vor dem abendessen")],
        "doc_id long, text string")
    got = {r.doc_id: r.pred_lang
           for r in langid_scores(unseen, weights).collect()}
    assert got == {100: "en", 101: "es", 102: "de"}


def test_short_and_null_docs_take_prior_argmax(spark):
    """Docs with no trigram (len < 3, null) fall back to the prior
    argmax — here 'en' wins the prior outright when trained with an
    extra en doc (4 vs 3 vs 3)."""
    docs = _corpus(spark).unionByName(spark.createDataFrame(
        [(3, "en", "one more english sentence for the prior")],
        "doc_id long, lang string, text string"))
    weights = langid_weights(docs)
    probe = spark.createDataFrame(
        [(200, "ab"), (201, ""), (202, None)],
        "doc_id long, text string")
    got = {r.doc_id: r.pred_lang
           for r in langid_scores(probe, weights).collect()}
    assert got == {200: "en", 201: "en", 202: "en"}


def test_weight_rows_replay(spark):
    """The artifact's content replayed in pure Python: every
    (lang, bucket) weight is round(1e6·log((c+α)/(tot+α·B))) and the
    prior rows are round(1e6·log(n_lang/n)); the frame matches the
    row builder exactly."""
    docs = _corpus(spark)
    feats = char_ngram_counts(docs)
    lb = {(r.lang, int(r.bucket)): int(r.n)
          for r in feats.join(docs.select("doc_id", "lang"), "doc_id")
          .groupBy("lang", "bucket").agg(F.sum("c").alias("n"))
          .collect()}
    ld = {r.lang: int(r.n) for r in
          docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
          .collect()}
    rows = langid_weight_rows(lb, ld)
    got = {(r.lang, r.bucket): r.w_micro
           for r in langid_weights(docs).collect()}
    assert got == {(lang, b): w for lang, b, w in rows}
    # spot-replay the formulas
    n = sum(ld.values())
    for lang in ld:
        assert got[(lang, PRIOR_BUCKET)] == round(
            LOG_SCALE * math.log(ld[lang] / n))
        tot = sum(c for (lg, _b), c in lb.items() if lg == lang)
        for b in (0, 7, N_BUCKETS - 1):
            c = lb.get((lang, b), 0)
            assert got[(lang, b)] == round(
                LOG_SCALE * math.log((c + SMOOTH)
                                     / (tot + SMOOTH * N_BUCKETS)))


def test_feature_extraction_trigram_contract(spark):
    """Trigrams are code-point windows over lower(text): a doc of n
    chars emits exactly n−2 grams (n ≥ 3, else none), and bucket
    counts are partitioning-invariant."""
    docs = spark.createDataFrame(
        [(1, "AbCdE"), (2, "xy"), (3, "日本語のテキスト")],
        "doc_id long, text string")
    feats = char_ngram_counts(docs)
    per_doc = {r.doc_id: r.n for r in
               feats.groupBy("doc_id").agg(F.sum("c").alias("n"))
               .collect()}
    assert per_doc == {1: 3, 3: 6}  # 5−2, (8−2); 2-char doc absent
    a = sorted(map(tuple, feats.collect()))
    b = sorted(map(tuple,
                   char_ngram_counts(docs.repartition(7)).collect()))
    assert a == b


def test_mixture_on_predicted_labels_planted(spark, tmp_path):
    """The classify→plan composition on a planted corpus written as
    parquet tables: the mixture inventory must group on the
    classifier's PREDICTED labels (which here equal the planted
    ones — the classifier separates the three languages), and rates
    must replay the plan arithmetic."""
    from mapreducewordcount_spark.queries.pipeline2 import (
        MIX_BUDGET,
        MIX_WEIGHTS,
    )
    from mapreducewordcount_spark.queries.pipeline8 import (
        mixture_on_predicted_lang,
    )

    docs = _corpus(spark).withColumn("source", F.lit("src0")) \
        .withColumn("n_chars", F.length("text").cast("long"))
    docs.write.parquet(f"{tmp_path}/documents.parquet")
    got = {r.pred_lang: r for r in
           mixture_on_predicted_lang(spark, str(tmp_path)).collect()}
    assert set(got) == {"en", "es", "de"}  # predicted groups only
    total_w = sum(MIX_WEIGHTS.values())
    for lang, r in got.items():
        assert r.n_docs == 3
        assert r.weight == round(MIX_WEIGHTS[lang] / total_w, 6)
        want_target = int(MIX_WEIGHTS[lang] / total_w * MIX_BUDGET)
        assert r.tokens_target == want_target
        assert r.sample_rate == round(
            want_target / r.tokens_available, 6)


@pytest.mark.slow  # heavy sweep: default tier skips (pytest.ini, r14)
def test_repeated_invocations_hold_bounded_cache(spark):
    """VERDICT r10 wrong#1: repeated same-session invocations of the
    langid/DSIR queries reuse their one cached feature plan, so they
    must not grow the block-manager's persistent-RDD set, and
    ``clearCache()`` releases all of it."""
    from tests.conftest import SF_SMOKE

    from mapreducewordcount_spark.queries.pipeline5 import dsir_selection
    from mapreducewordcount_spark.queries.pipeline8 import (
        doc_language_ngram,
    )

    def n_persistent() -> int:
        """Cached-plan blocks; an earlier test's local checkpoints are
        RDD-level state the cache does not own."""
        rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
        return sum(not r.rdd().isLocallyCheckpointed() for r in rdds)

    doc_language_ngram(spark, SF_SMOKE).count()
    dsir_selection(spark, SF_SMOKE).count()
    after_first = n_persistent()
    for _ in range(2):
        doc_language_ngram(spark, SF_SMOKE).count()
        dsir_selection(spark, SF_SMOKE).count()
    assert n_persistent() <= after_first
    # and clearing the cache empties what the queries left behind
    spark.catalog.clearCache()
    assert n_persistent() == 0


@pytest.mark.slow  # heavy sweep: default tier skips (pytest.ini, r14)
def test_holdout_eval_band_never_contributes_to_fit(spark, tmp_path):
    """VERDICT r10 next#4: doc_language_ngram fits on the train band
    only — corrupting every EVAL-band document's text and label must
    leave the fitted weight table (``langid_holdout_model``)
    bit-identical, and the confusion report must count only eval-band
    docs."""
    from mapreducewordcount_spark.queries.pipeline8 import (
        LANGID_SALT,
        LANGID_SPLIT,
        doc_language_ngram,
        langid_holdout_model,
    )
    from mapreducewordcount_spark.functions.sampling import dataset_split

    base = _corpus(spark)
    # widen the corpus so both bands are non-empty deterministically
    extra = spark.createDataFrame(
        [(100 + i, ["en", "es", "de"][i % 3],
          [_EN, _ES, _DE][i % 3][i % 3]) for i in range(30)],
        "doc_id long, lang string, text string")
    docs = base.unionByName(extra) \
        .withColumn("source", F.lit("src0")) \
        .withColumn("n_chars", F.length("text").cast("long"))
    split = dataset_split(F.col("doc_id"), LANGID_SPLIT,
                          salt=LANGID_SALT)
    n_eval = docs.filter(split == "eval").count()
    assert 0 < n_eval < docs.count()  # both bands populated

    corrupted = docs.withColumn(
        "text", F.when(split == "eval",
                       F.lit("zzqj xvw kkpht zzqj xvw"))
        .otherwise(F.col("text"))) \
        .withColumn("lang", F.when(split == "eval", F.lit("xx"))
                    .otherwise(F.col("lang")))

    def run(frame, sub):
        d = str(tmp_path / sub)
        frame.write.parquet(f"{d}/documents.parquet")
        rep = {(r.lang, r.pred_lang): r.n_docs for r in
               doc_language_ngram(spark, d).collect()}
        wt = sorted(map(tuple, langid_holdout_model(spark, d).collect()))
        return rep, wt

    rep_clean, wt_clean = run(docs, "clean")
    rep_bad, wt_bad = run(corrupted, "bad")
    # the fit never saw the eval band: corrupting it leaves the
    # weight table identical
    assert wt_clean == wt_bad
    # the report covers exactly the eval band
    assert sum(rep_clean.values()) == n_eval
    # corrupted labels surface ONLY as changed true-label keys
    assert {k[1] for k in rep_bad} <= {k[1] for k in rep_clean}
    assert all(k[0] == "xx" for k in rep_bad)
