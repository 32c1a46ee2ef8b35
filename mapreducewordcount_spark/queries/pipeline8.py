"""Round-10 operators: hashed char-n-gram language identification and
the mixture composition that runs on its PREDICTED labels.

Reference parity: none — extension surface (SURVEY.md §2.5); the
reference engine (549 LoC, /root/reference/src) has no classifier of
any kind.

Oracle notes:

- ``doc_language_ngram`` — the weight table (the model a production
  pipeline would train offline and ship) is the committed artifact
  (``sources/sig_artifacts``): its ``math.log`` micro-nat weights are
  computed once, driver-side, so no libm crosses engines. Everything
  else is SQL-expressible on both sides: the trigram bucket hash is
  the DSIR md5-hex4 recipe, scores are integer sums, the argmax is
  the ordered-struct max / ``row_number`` pair with the registry's
  standing tie-break (code-point-largest lang).
- ``mixture_on_predicted_lang`` — the composition that closes the
  loop VERDICT r9 next#3 named: the mixture planner's ``lang`` key is
  now PRODUCED by the engine (the classifier's per-doc argmax)
  instead of consumed from the test data. The oracle composes the
  same prediction CTEs with the mixture arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducewordcount_spark.queries import QuerySpec
from mapreducewordcount_spark.sources.tables import load_table, spread


#: held-out evaluation split (VERDICT r10 wrong#2): the confusion
#: report fits on the train band and scores ONLY the eval band, so
#: the per-language accuracy a curation pipeline reads is not
#: optimistically biased by in-sample prediction. The split is the
#: registry's standing deterministic md5-band recipe
#: (functions/sampling.dataset_split), salt-decorrelated from every
#: other hashed decision.
LANGID_SPLIT = {"train": 0.8, "eval": 0.2}
LANGID_SALT = "langid"
#: first-4-md5-hex-digit values below this bound are the train band —
#: the same ``int(frac · 65536)`` threshold dataset_split computes
LANGID_TRAIN_BOUND = int(LANGID_SPLIT["train"] * 65536)


def _split_col():
    from mapreducewordcount_spark.functions.sampling import dataset_split

    return dataset_split(F.col("doc_id"), LANGID_SPLIT,
                         salt=LANGID_SALT)


def langid_fullfit_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, bucket, w_micro) fitted on the full labeled corpus —
    ``mixture_on_predicted_lang``'s model table."""
    from mapreducewordcount_spark.operators import langid

    return langid.langid_weights(
        spread(load_table(spark, sf_dir, "documents")))


def langid_holdout_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, bucket, w_micro) fitted on the 80% train band only —
    ``doc_language_ngram``'s model table."""
    from mapreducewordcount_spark.operators import langid

    docs = spread(load_table(spark, sf_dir, "documents"))
    return langid.langid_weights(docs.filter(_split_col() == "train"))


def _predicted_langs(spark: SparkSession,
                     sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(docs, per-doc predictions) — the mixture query's front half:
    featurize ONCE (persisted; fit and scoring share it — the DSIR
    recipe), train on the FULL labeled corpus (the
    ``langid_fullfit_model`` weights), predict every document.
    Full-corpus fitting is correct here: the mixture plan is
    production inference over unlabeled crawl, not an accuracy
    estimate (the holdout protocol lives in ``doc_language_ngram``)."""
    from mapreducewordcount_spark.operators import langid

    docs = spread(load_table(spark, sf_dir, "documents"))
    # featurize ONCE: fit and scoring share the persisted frame
    feats = langid.char_ngram_counts(docs).persist()
    wt = langid.langid_weights(docs, feats=feats)
    pred = langid.langid_scores(docs, wt, feats=feats)
    return docs, pred


def doc_language_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT language-ID confusion report (VERDICT r10 next#4):
    fit the hashed char-trigram multinomial NB (``operators/langid``)
    on the 80% train band, predict ONLY the 20% held-out band, and
    report ``(lang, pred_lang, n_docs)`` over it — the unbiased
    per-language diagnostic a curation pipeline reads before trusting
    ``lang`` downstream. The eval band cannot contribute to the fit:
    ``langid_weights`` joins features against the train frame's ids
    (pytest-pinned by corrupting eval text and asserting identical
    weights). The committed artifact is the train-band weight table
    (``langid_holdout_model``); the oracle composes the same md5-band
    split predicate."""
    from mapreducewordcount_spark.operators import langid

    ev = spread(load_table(spark, sf_dir, "documents")) \
        .filter(_split_col() == "eval")
    pred = langid.langid_scores(ev, langid_holdout_model(spark, sf_dir))
    return (ev.select("doc_id", "lang").join(pred, "doc_id")
            .groupBy("lang", "pred_lang")
            .agg(F.count(F.lit(1)).alias("n_docs")))


def mixture_on_predicted_lang(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Mixture planning on the classifier's OWN labels: predict every
    document's language, then run the standard token-inventory /
    sampling-rate plan (``operators/packing.mixture_plan``) grouped
    on ``pred_lang`` at the registry's MIX_WEIGHTS/MIX_BUDGET — the
    end-to-end first-stage shape (classify → plan) a curation
    pipeline runs when the crawl carries no trusted labels. Plan
    shape is unchanged from ``training_mixture_plan``: one
    partial-agg groupBy over the corpus + a broadcast weights join;
    the prediction adds the classifier's bounded join/argmax in
    front."""
    from mapreducewordcount_spark.operators.packing import mixture_plan
    from mapreducewordcount_spark.queries.pipeline2 import (
        MIX_BUDGET,
        MIX_WEIGHTS,
    )

    docs, pred = _predicted_langs(spark, sf_dir)
    labeled = docs.select("doc_id", "text").join(pred, "doc_id")
    return mixture_plan(labeled, MIX_WEIGHTS, MIX_BUDGET,
                        group_col="pred_lang")


def _langid_pred_ctes(artifact: str = "mixture_on_predicted_lang",
                      scope: str = "TRUE") -> str:
    """The prediction pipeline as reusable CTEs ending in
    ``pred_all(doc_id, pred_lang)`` — shared by the confusion-report
    and mixture oracles. ``artifact`` names the committed weight
    table (train-band weights for the holdout report, full-corpus
    weights for the mixture); ``scope`` is a SQL predicate on
    ``documents`` restricting which docs get scored (the holdout
    report scores only the eval band). Starts its own WITH list
    (caller prepends ``WITH``)."""
    from mapreducewordcount_spark.operators.langid import (
        N_BUCKETS,
        NGRAM,
        PRIOR_BUCKET,
        _SALT,
    )
    from mapreducewordcount_spark.queries.pipeline2 import _hex4_sql
    from mapreducewordcount_spark.sources import sig_artifacts

    md5_expr = f"md5('{_SALT}' || g)"
    bucket = f"({_hex4_sql(md5_expr)}) % {N_BUCKETS}"
    return f"""{sig_artifacts.frame_cte('wt', artifact,
                                        sig_artifacts.DOC_KEY_SQL)},
scoped AS (SELECT * FROM documents WHERE {scope}),
tg AS (
  SELECT doc_id, {bucket} AS bucket, count(*) AS c
  FROM (
    SELECT doc_id, substr(lower(text), i, {NGRAM}) AS g
    FROM scoped,
         unnest(range(1, greatest(length(lower(text)) - {NGRAM - 1}, 0)
                         + 1)) t(i)
  ) GROUP BY 1, 2
),
sc AS (
  SELECT t.doc_id, w.lang, sum(t.c * w.w_micro) AS s
  FROM tg t JOIN wt w ON t.bucket = w.bucket
  WHERE w.bucket <> {PRIOR_BUCKET}
  GROUP BY 1, 2
),
tot AS (
  SELECT sc.doc_id, sc.lang, sc.s + p.w_micro AS score
  FROM sc JOIN wt p ON p.bucket = {PRIOR_BUCKET} AND p.lang = sc.lang
),
pred AS (
  SELECT doc_id, lang AS pred_lang
  FROM (SELECT doc_id, lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang DESC) AS rn
        FROM tot)
  WHERE rn = 1
),
fb AS (
  SELECT lang AS fb_lang FROM wt WHERE bucket = {PRIOR_BUCKET}
  ORDER BY w_micro DESC, lang DESC LIMIT 1
),
pred_all AS (
  SELECT d.doc_id, coalesce(p.pred_lang, fb.fb_lang) AS pred_lang
  FROM scoped d
  LEFT JOIN pred p ON d.doc_id = p.doc_id
  CROSS JOIN fb
)"""


def _eval_band_sql() -> str:
    """The dataset_split eval-band predicate, replayed in SQL: first
    4 md5 hex digits of ``doc_id || ':langid'`` at or above the
    train-band bound."""
    from mapreducewordcount_spark.queries.pipeline2 import _hex4_sql

    h = _hex4_sql(f"md5(CAST(doc_id AS VARCHAR) || ':{LANGID_SALT}')")
    return f"({h}) >= {LANGID_TRAIN_BOUND}"


def _language_ngram_sql() -> str:
    return f"""
WITH {_langid_pred_ctes(artifact='doc_language_ngram',
                        scope=_eval_band_sql())}
SELECT d.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM scoped d JOIN pred_all p ON d.doc_id = p.doc_id
GROUP BY 1, 2
"""


def _mixture_predicted_sql() -> str:
    from mapreducewordcount_spark.queries.pipeline2 import (
        MIX_BUDGET,
        MIX_WEIGHTS,
    )

    weights_sql = "(VALUES " + ", ".join(
        f"('{k}', {v})" for k, v in MIX_WEIGHTS.items()) \
        + ") AS wt_mix(pred_lang, w)"
    total = sum(MIX_WEIGHTS.values())
    return rf"""
WITH {_langid_pred_ctes()},
inv AS (
  SELECT p.pred_lang, count(*) AS n_docs,
         CAST(sum(CAST(len(regexp_extract_all(d.text,
              '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT)) AS BIGINT)
           AS tokens_available
  FROM documents d JOIN pred_all p ON d.doc_id = p.doc_id
  GROUP BY 1
)
SELECT inv.pred_lang, inv.n_docs, inv.tokens_available,
       round(COALESCE(wt_mix.w, 0.0) / {total!r}, 6) AS weight,
       CAST(floor(COALESCE(wt_mix.w, 0.0) / {total!r} * {MIX_BUDGET})
            AS BIGINT) AS tokens_target,
       CASE WHEN inv.tokens_available > 0
            THEN round(CAST(floor(COALESCE(wt_mix.w, 0.0) / {total!r}
                                  * {MIX_BUDGET}) AS BIGINT)
                       / CAST(inv.tokens_available AS DOUBLE), 6)
            ELSE 0.0 END AS sample_rate
FROM inv LEFT JOIN {weights_sql} ON inv.pred_lang = wt_mix.pred_lang
"""


CMS_TOP = 50


def sketch_cms_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch validation report (``operators/cms``): build
    the DEPTH×WIDTH sketch over the corpus token stream, probe it for
    the top-50 exact word counts, and report exact vs estimate vs
    overcount — the calibration relation a pipeline checks at small
    scale before trusting the sketch where the exact vocabulary stops
    fitting (the ``sketch_hll_report`` shape, for point frequencies).
    FULLY oracled with no artifact: every cell is an integer sum
    addressed by the cross-engine md5 hash, so DuckDB rebuilds sketch
    and estimates from raw text (unlike GK percentiles — see
    ``sketch_stats``)."""
    from mapreducewordcount_spark.functions.tokenize import tokenize_expr
    from mapreducewordcount_spark.operators.cms import (
        cms_build,
        cms_estimate,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(F.explode(tokenize_expr("text")).alias("word"))
    exact = words.groupBy("word").agg(
        F.count(F.lit(1)).alias("n_exact"))
    top = (exact.orderBy(F.col("n_exact").desc(), "word")
           .limit(CMS_TOP))
    est = cms_estimate(top.select("word"), cms_build(words))
    return (top.join(est, "word")
            .select("word", "n_exact", "cms_count",
                    (F.col("cms_count") - F.col("n_exact"))
                    .cast("long").alias("overcount")))


def _cms_sql() -> str:
    from mapreducewordcount_spark.operators.cms import (
        DEPTH,
        WIDTH,
        _SALT,
    )
    from mapreducewordcount_spark.queries.dedup_queries import _WORDS_CTE
    from mapreducewordcount_spark.queries.pipeline2 import _hex4_sql

    md5 = f"md5('{_SALT}' || t.d || ':' || word)"
    cell = f"({_hex4_sql(md5)}) % {WIDTH}"
    return f"""
WITH {_WORDS_CTE},
tok AS (SELECT unnest(words) AS word FROM w),
exact AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n_exact
  FROM tok GROUP BY 1
),
top AS (SELECT * FROM exact ORDER BY n_exact DESC, word LIMIT {CMS_TOP}),
sk AS (
  SELECT t.d, {cell} AS cell, CAST(count(*) AS BIGINT) AS c
  FROM tok, range(0, {DEPTH}) t(d)
  GROUP BY 1, 2
),
est AS (
  SELECT p.word, min(s.c) AS cms_count
  FROM (SELECT word, t.d, {cell} AS cell
        FROM top, range(0, {DEPTH}) t(d)) p
  JOIN sk s ON s.d = p.d AND s.cell = p.cell
  GROUP BY 1
)
SELECT top.word, top.n_exact, est.cms_count,
       CAST(est.cms_count - top.n_exact AS BIGINT) AS overcount
FROM top JOIN est USING (word)
"""


QUERIES = {
    "doc_language_ngram": QuerySpec(doc_language_ngram,
                                    _language_ngram_sql()),
    "mixture_on_predicted_lang": QuerySpec(mixture_on_predicted_lang,
                                           _mixture_predicted_sql()),
    "sketch_cms_words": QuerySpec(sketch_cms_words, _cms_sql()),
}
