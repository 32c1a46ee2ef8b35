"""Corpus curation: the operators composed into one keep/drop pass.

The end-to-end LLM training-data workflow: every document gets a
keep/drop decision with a reason, applying (in precedence order):

1. ``low_quality`` — heuristic quality score below threshold;
2. ``exact_dup``  — another doc has the same normalized fingerprint
   and a smaller id (the smaller id is the keeper);
3. ``near_dup``   — the doc's near-dup component (3-gram Jaccard ≥
   0.5, transitively closed) has a smaller-id member;
4. ``kept``       — survives everything.

Deterministic by construction (min-id keepers, fixed thresholds), so
the whole pipeline is DuckDB-oracled — including the recursive-CTE
transitive closure. At scale each stage is the operator documented in
operators/dedup.py (fingerprint groupBy; MinHash-LSH instead of the
exact pair join; a one-task union-find instead of the recursive CTE) —
the decision semantics here are the contract both paths satisfy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions import text_metrics as tm
from mapreducewordcount_spark.operators import dedup as dd
from mapreducewordcount_spark.queries import QuerySpec
from mapreducewordcount_spark.queries.dedup_queries import _SHINGLES_CTE, _WORDS_CTE
from mapreducewordcount_spark.sources.tables import load_table, spread

QUALITY_MIN = 0.5

# interpolated from the canonical list so the oracle can't drift
_STOPS_SQL = "[" + ", ".join(f"'{s}'" for s in tm.EN_STOPWORDS) + "]"


def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))

    scored = docs.select(
        "doc_id",
        F.round(tm.quality_score("text"), 4).alias("quality"),
        tm.fingerprint_md5("text").alias("fp"))

    w_fp = Window.partitionBy("fp")
    with_exact = scored.withColumn("exact_keep", F.min("doc_id").over(w_fp))

    pairs = dd.shingle_jaccard_pairs(docs, threshold=0.5)
    groups = dd.dup_groups(pairs)  # doc_id, group_id (paired docs only)

    out = (with_exact
           .join(groups, "doc_id", "left")
           .withColumn("near_keep", F.coalesce("group_id", "doc_id"))
           .withColumn("reason", F.when(
               F.col("quality") < QUALITY_MIN, "low_quality")
               .when(F.col("doc_id") != F.col("exact_keep"), "exact_dup")
               .when(F.col("doc_id") != F.col("near_keep"), "near_dup")
               .otherwise("kept"))
           .withColumn("keep", (F.col("reason") == "kept").cast("int")))
    return out.select("doc_id", "quality", "reason", "keep")


CURATE_SQL = f"""
WITH RECURSIVE {_WORDS_CTE}, {_SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
        / (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles))) >= 0.5
),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION ALL SELECT b_id, a_id FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
comp AS (SELECT id, min(r) AS group_id FROM reach GROUP BY id),
m AS (
  SELECT doc_id, text, words,
         len(words) AS nw,
         CASE WHEN len(words) > 0
              THEN list_sum(list_transform(words, x -> strlen(x)))::DOUBLE / len(words)
              ELSE 0.0 END AS awl,
         CASE WHEN len(words) > 0
              THEN len(list_filter(words, x -> list_contains({_STOPS_SQL}, x)))::DOUBLE
                   / len(words)
              ELSE 0.0 END AS sr,
         CASE WHEN strlen(regexp_replace(text, '\\s+', '', 'g')) > 0
              THEN (strlen(text) - strlen(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')))::DOUBLE
                   / strlen(regexp_replace(text, '\\s+', '', 'g'))
              ELSE 0.0 END AS pr,
         md5(array_to_string(words, ' ')) AS fp
  FROM w JOIN documents USING (doc_id)
),
q AS (
  SELECT doc_id, fp,
         -- CAST before round: decimal-literal arithmetic yields
         -- DECIMAL(7,2), which hash-drifts vs Spark's double.
         round(CAST(0.3 * (CASE WHEN nw BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
             + 0.2 * (CASE WHEN awl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
             + 0.3 * (CASE WHEN sr >= 0.01 THEN 1.0 ELSE 0.0 END)
             + 0.2 * (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END) AS DOUBLE), 4) AS quality,
         min(doc_id) OVER (PARTITION BY fp) AS exact_keep
  FROM m
)
SELECT q.doc_id, q.quality,
       CASE WHEN q.quality < {QUALITY_MIN} THEN 'low_quality'
            WHEN q.doc_id <> q.exact_keep THEN 'exact_dup'
            WHEN q.doc_id <> coalesce(comp.group_id, q.doc_id) THEN 'near_dup'
            ELSE 'kept' END AS reason,
       CAST(CASE WHEN q.quality >= {QUALITY_MIN}
                  AND q.doc_id = q.exact_keep
                  AND q.doc_id = coalesce(comp.group_id, q.doc_id)
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM q LEFT JOIN comp ON q.doc_id = comp.id
"""


QUERIES = {
    "curate_corpus": QuerySpec(curate_corpus, CURATE_SQL),
}
