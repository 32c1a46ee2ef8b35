"""Token-level duplicate-span statistics (exact-substring dedup signal).

The document-level dedup ladder (``operators/dedup.py``) answers "is
this DOC a near-copy of another"; the training-data literature's
complementary question is "how much of this doc's TEXT appears
elsewhere in the corpus" — the exact-substring signal (public
motivation: Lee et al. 2022, *Deduplicating Training Data Makes
Language Models Better*, which dedups repeated ~50-token spans). A
full suffix-array build is a specialized external job; the
distributed approximation every pipeline runs is fixed-length n-gram
span counting, which this operator implements exactly.

Per doc: how many of its word n-gram occurrences (with positions,
i.e. multiplicity preserved) belong to an n-gram whose corpus-wide
occurrence count is ≥ ``min_count``. High fraction ⇒ the doc is
largely made of text that exists elsewhere (or repeats itself).

Scale shape (same discipline as ``operators/boilerplate.py``):
explode with short ``xxhash64(ngram)`` keys (never the raw span
strings); corpus frequency is a **partial-aggregated**
``groupBy(key).count()`` joined back onto the occurrences — NOT the
in-place window count this replaced: a window has no map-side
combine and AQE cannot split a window partition, so a
corpus-universal 5-gram (boilerplate navigation text — guaranteed in
web data) would concentrate its entire occurrence set in one
straggler task at 100 TB. The groupBy collapses the hot span to one
row per upstream task; the join-back is a skewed equi-join AQE *can*
split (the count side is one row per key). The occurrence frame is
derived twice (count side + probe side, both column-pruned narrow
scans) — scans parallelize arbitrarily, hot window partitions do
not. Collision risk n²/2⁶⁵ on the hash — negligible below ~10⁹
distinct spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.text_metrics import words


def _ngram_strings(text_col: str, n: int):
    """text → array of space-joined word n-grams (with multiplicity).

    The words array is let-bound (transform over a 1-element array,
    same trick as ``text_metrics.quality_score``) so the tokenizer
    runs once per row, not once per n-gram position.
    """
    def per(ws):
        m = F.size(ws) - (n - 1)
        # sequence(1, 0) DESCENDS to [1, 0] rather than being empty —
        # short docs must produce an empty index list explicitly
        idx = F.when(m >= 1, F.sequence(F.lit(1), m)) \
            .otherwise(F.array().cast("array<int>"))
        return F.transform(idx,
                           lambda i: F.array_join(F.slice(ws, i, n), " "))

    return F.transform(F.array(words(text_col)), per)[0]


def duplicate_span_stats(docs: DataFrame, n: int = 5, min_count: int = 2,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """doc → (n_ngrams, n_dup_ngrams, dup_fraction).

    An occurrence is *duplicated* when its n-gram occurs ≥
    ``min_count`` times corpus-wide (other docs or repeats within the
    same doc — both are the same bytes to a training run).
    """
    grams = (docs
             .select(id_col,
                     F.explode(_ngram_strings(text_col, n)).alias("ng"))
             .withColumn("key", F.xxhash64("ng"))
             .drop("ng"))
    # corpus frequency via partial-agg groupBy + join-back (module
    # docstring) — the hot span map-side-combines, no window straggler
    counts = grams.groupBy("key").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = (grams
               .join(counts, "key")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_ngrams"),
                    F.sum((F.col("cnt") >= min_count).cast("long"))
                    .alias("n_dup_ngrams")))
    return (docs.select(id_col)
            .join(per_doc, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
                F.coalesce("n_dup_ngrams", F.lit(0)).alias("n_dup_ngrams"))
            .withColumn(
                "dup_fraction",
                F.when(F.col("n_ngrams") > 0,
                       F.round(F.col("n_dup_ngrams").cast("double")
                               / F.col("n_ngrams"), 6))
                .otherwise(F.lit(0.0))))
