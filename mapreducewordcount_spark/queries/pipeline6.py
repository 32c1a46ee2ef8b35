"""Round-8 operators: the IVM min/max delta rules, the composed CDC
end-to-end pipeline, robust (median/MAD) per-group outlier detection,
per-source quality calibration, collocation mining, table profiling,
CUSUM change-point detection, hybrid retrieval (integer RRF), and
content-defined chunking.

Oracle notes:

- ``orders_agg_ivm_minmax`` — the engine refreshes min/max through
  the split delta rules (cheap ``least``/``greatest`` for groups
  whose extremum row was untouched, per-group recompute otherwise —
  ``operators/ivm.incremental_minmax_refresh``); the oracle
  recomputes the whole view from the merged state, so equality
  proves the delta path including the touched-group routing.
- ``orders_cdc_e2e`` — ONE oracle over the composition VERDICT r7
  next#5 asked for: merge (new state) → SCD2 (current rows) → IVM
  (refreshed aggregate) → snapshot diff (added/removed/changed),
  reconciled per order status in a single output row. The engine
  computes ``n_orders`` (IVM delta path) and ``n_current`` (SCD2
  interval table) through two INDEPENDENT operators that must agree
  with each other and with the oracle's from-scratch rebuild.
- ``doc_length_outliers`` / ``doc_quality_calibrated`` — pure
  integer flag compares (quarter-unit medians, ppm ranks); no float
  crosses the engines except already-green quality values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions import text_metrics as tm
from mapreducewordcount_spark.queries import QuerySpec
from mapreducewordcount_spark.sources.tables import load_table, spread

# the merged-state CTE every CDC oracle rebuilds from scratch —
# mirrors queries/pipeline4.cdc_change_batch (latest-wins: *2 beats
# +1000 on %21 keys, deletes %13 beat both, inserts at fresh
# negative keys %11)
_NEWSTATE_CTE = """newstate AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 21 = 0 THEN o_totalprice * 2
              WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
              ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT -o_orderkey - 1, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 11 = 0
)"""


def orders_agg_ivm_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM for the non-distributive aggregates: refresh
    min/max-price-by-status from the CDC batch without rescanning
    untouched groups (``incremental_minmax_refresh``); the oracle
    recomputes from scratch over the merged state."""
    from mapreducewordcount_spark.operators.ivm import (
        incremental_minmax_refresh,
    )
    from mapreducewordcount_spark.queries.pipeline4 import cdc_change_batch

    orders = load_table(spark, sf_dir, "orders")
    out = incremental_minmax_refresh(orders, cdc_change_batch(orders),
                                     ["o_orderkey"], "o_orderstatus",
                                     "o_totalprice")
    return out.select("o_orderstatus",
                      F.col("n_rows").alias("n_orders"),
                      F.round("min_v", 2).alias("min_price"),
                      F.round("max_v", 2).alias("max_price"))


ORDERS_IVM_MINMAX_SQL = f"""
WITH {_NEWSTATE_CTE}
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(min(price), 2) AS min_price,
       round(max(price), 2) AS max_price
FROM newstate GROUP BY 1
"""


def orders_cdc_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC mutation family composed end-to-end under one oracle:
    apply the change batch (merge), keep history (SCD2), refresh the
    aggregate incrementally (IVM), and audit the transition
    (snapshot diff) — one reconciliation row per order status.

    ``n_orders`` comes from the IVM delta path and ``n_current``
    from the SCD2 interval table; both must equal the oracle's
    merged-state count — two independent engine paths pinned to one
    from-scratch rebuild."""
    from mapreducewordcount_spark.operators.ivm import (
        incremental_agg_refresh,
    )
    from mapreducewordcount_spark.operators.merge import merge_upsert
    from mapreducewordcount_spark.operators.scd2 import scd2_history
    from mapreducewordcount_spark.operators.snapdiff import snapshot_diff
    from mapreducewordcount_spark.queries.pipeline4 import cdc_change_batch

    orders = load_table(spark, sf_dir, "orders")
    changes = cdc_change_batch(orders)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")

    ivm = incremental_agg_refresh(
        orders.withColumn("price_cents", cents),
        changes.withColumn("price_cents", cents),
        ["o_orderkey"], "o_orderstatus", "price_cents")

    cur = (scd2_history(orders, changes, ["o_orderkey"])
           .filter(F.col("is_current") == 1)
           .groupBy("o_orderstatus")
           .agg(F.count(F.lit(1)).alias("n_current")))

    new = merge_upsert(orders, changes, ["o_orderkey"])
    diff = snapshot_diff(orders, new, ["o_orderkey"], ["o_totalprice"])
    # status lookup for diff keys: union of both states (removed keys
    # exist only in old, added only in new; status never conflicts)
    status = (orders.select("o_orderkey", "o_orderstatus")
              .unionByName(new.select("o_orderkey", "o_orderstatus"))
              .distinct())
    dc = (diff.join(status, "o_orderkey")
          .groupBy("o_orderstatus")
          .agg(*[F.sum((F.col("change") == c).cast("long"))
                 .alias(f"n_{c}")
                 for c in ("added", "removed", "changed")]))

    return (ivm.select("o_orderstatus",
                       F.col("n_rows").alias("n_orders"),
                       (F.col("total").cast("double") / F.lit(100.0))
                       .alias("total_price"))
            .join(cur, "o_orderstatus")
            .join(dc, "o_orderstatus"))


ORDERS_CDC_E2E_SQL = f"""
WITH {_NEWSTATE_CTE},
agg AS (
  SELECT o_orderstatus,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(price * 100, 0) AS BIGINT)) AS DOUBLE)
           / 100.0 AS total_price,
         CAST(count(*) AS BIGINT) AS n_current
  FROM newstate GROUP BY 1
),
old AS (SELECT o_orderkey, o_orderstatus, o_totalprice AS price
        FROM orders),
d AS (
  SELECT coalesce(n.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
         CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'removed'
              ELSE 'changed' END AS change
  FROM old o FULL OUTER JOIN newstate n ON o.o_orderkey = n.o_orderkey
  WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
     OR o.price IS DISTINCT FROM n.price
),
dc AS (
  SELECT o_orderstatus,
         CAST(count(*) FILTER (change = 'added') AS BIGINT) AS n_added,
         CAST(count(*) FILTER (change = 'removed') AS BIGINT)
           AS n_removed,
         CAST(count(*) FILTER (change = 'changed') AS BIGINT)
           AS n_changed
  FROM d GROUP BY 1
)
SELECT a.o_orderstatus, a.n_orders, a.total_price, a.n_current,
       dc.n_added, dc.n_removed, dc.n_changed
FROM agg a JOIN dc USING (o_orderstatus)
"""


def doc_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length outliers (``operators/outliers.py``):
    flag docs beyond 3 MADs from their source's median length, report
    the per-source cleaning summary (never empty, O(sources) rows)."""
    from mapreducewordcount_spark.operators.outliers import (
        robust_outlier_report,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    rep = robust_outlier_report(docs, "source",
                                F.length("text").cast("long"),
                                k_num=3, k_denom=1)
    return rep.select(F.col("grp").alias("source"),
                      F.col("n_rows").alias("n_docs"),
                      "med4", "mad8", "n_outliers", "max_dev4")


DOC_LENGTH_OUTLIERS_SQL = """
WITH x AS (SELECT source, CAST(length(text) AS BIGINT) AS c
           FROM documents),
st AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(4 * quantile_cont(c, 0.5) AS BIGINT) AS med4
  FROM x GROUP BY 1
),
d AS (
  SELECT x.source, st.n_docs, st.med4,
         abs(4 * x.c - st.med4) AS dev4
  FROM x JOIN st USING (source)
),
m AS (
  SELECT source, n_docs, med4,
         CAST(2 * quantile_cont(dev4, 0.5) AS BIGINT) AS mad8
  FROM d GROUP BY 1, 2, 3
)
SELECT m.source, m.n_docs, m.med4, m.mad8,
       CAST(count(*) FILTER (2 * d.dev4 > 3 * m.mad8) AS BIGINT)
         AS n_outliers,
       max(d.dev4) AS max_dev4
FROM d JOIN m USING (source, n_docs, med4)
GROUP BY 1, 2, 3, 4
"""


def doc_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration: each doc's quality as an
    empirical-CDF percentile (ppm) WITHIN its source — the
    FineWeb/Gopher-style normalization that makes scores comparable
    across sources whose raw quality distributions differ.
    ``pct_ppm = |{rows in source with quality <= mine}| * 1e6 div
    nsrc`` — the textbook max-rank ECDF, where TIED quality values
    share one percentile (per-row tie-breaking by doc_id, the r8
    form, handed identical documents different scores AND needed a
    per-source global sort).

    Scale shape (VERDICT r8 wrong#1 fix): NO window ever touches the
    raw corpus. ``groupBy(source, quality)`` is an ordinary
    partial-aggregating shuffle; the cumulative sum runs over that
    grouped frame, which is BOUNDED — ``quality_score`` emits subset
    sums of {.3,.2,.3,.2}, nine distinct tiers, so the frame is
    O(sources x 9) (and even a continuous 4dp score caps it at
    10,001 rows per source); the calibrated table then broadcast-
    joins back to the corpus on (source, quality) — a map-side
    projection. Arithmetic is BIGINT end-to-end: ``cum`` and ``nsrc``
    are longs, so ``cum * 1e6`` overflows only past 9.2e12 rows per
    source (ADVICE r8: the r8 form's INT row_number overflowed ANSI
    at 2148 docs)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    q = docs.select("doc_id", "source",
                    F.round(tm.quality_score("text"), 4).alias("quality"))
    qc = (q.groupBy("source", "quality")
           .agg(F.count(F.lit(1)).alias("n_q")))
    w_cum = (Window.partitionBy("source").orderBy("quality")
             .rowsBetween(Window.unboundedPreceding, 0))
    cal = (qc.withColumn("cum", F.sum("n_q").over(w_cum))
             .withColumn("nsrc",
                         F.sum("n_q").over(Window.partitionBy("source")))
             .select("source", "quality",
                     F.expr("CAST(cum * 1000000 div nsrc AS BIGINT)")
                      .alias("pct_ppm")))
    return (q.join(F.broadcast(cal), ["source", "quality"])
             .select("doc_id", "source", "quality", "pct_ppm"))


def _quality_calibrated_sql() -> str:
    from mapreducewordcount_spark.queries.analytics import (
        QUALITY_EXPR_SQL,
        QUALITY_M_CTE,
        _WORDS_CTE,
    )

    return f"""
WITH {_WORDS_CTE},
{QUALITY_M_CTE},
q AS (
  SELECT m.doc_id, d.source, {QUALITY_EXPR_SQL} AS quality
  FROM m JOIN documents d ON m.doc_id = d.doc_id
),
qc AS (
  SELECT source, quality, count(*) AS n_q
  FROM q GROUP BY 1, 2
),
cal AS (
  SELECT source, quality,
         CAST(sum(n_q) OVER (PARTITION BY source ORDER BY quality
                             ROWS UNBOUNDED PRECEDING) * 1000000
              // sum(n_q) OVER (PARTITION BY source) AS BIGINT)
           AS pct_ppm
  FROM qc
)
SELECT q.doc_id, q.source, q.quality, cal.pct_ppm
FROM q JOIN cal USING (source, quality)
"""


def bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 bigrams by integer LIFT
    ``n_ab·N / (n_a·n_b)`` in ppm (the log-free PMI rank — monotone
    in PMI, so the ranking is identical with zero libm risk), with a
    min-count floor so hapax pairs don't dominate. The vocabulary
    shuffle is counts-only; the lift join's unigram side is the
    bounded vocab table. Exactness headroom: ``n_ab·N·10⁶ < 2⁶³``
    (N·n_ab < 9.2e12) — shard the lift pass beyond that."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    ws = tm.words("text")
    bigrams = F.zip_with(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
        F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b))
    uni = (docs.select(F.explode(ws).alias("word"))
           .groupBy("word").agg(F.count(F.lit(1)).alias("n")))
    tot = uni.agg(F.sum("n").alias("n_total"))  # 1 row
    bi = (docs.select(F.explode(bigrams).alias("bigram"))
          .groupBy("bigram").agg(F.count(F.lit(1)).alias("n_ab"))
          .filter(F.col("n_ab") >= 5)
          .select(F.substring_index("bigram", " ", 1).alias("w1"),
                  F.substring_index("bigram", " ", -1).alias("w2"),
                  "n_ab"))
    a = uni.select(F.col("word").alias("w1"), F.col("n").alias("n_a"))
    b = uni.select(F.col("word").alias("w2"), F.col("n").alias("n_b"))
    scored = (bi.join(a, "w1").join(b, "w2")
              .crossJoin(F.broadcast(tot))
              .withColumn("lift_ppm",
                          F.expr("n_ab * n_total * 1000000"
                                 " div (n_a * n_b)")))
    top = scored.orderBy(F.col("lift_ppm").desc(), "w1", "w2").limit(50)
    w = Window.orderBy(F.col("lift_ppm").desc(), "w1", "w2")
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "w1", "w2", "n_ab", "n_a", "n_b",
                    "lift_ppm"))


def _collocations_sql() -> str:
    from mapreducewordcount_spark.queries.text_queries import _WORDS_CTE

    return f"""
WITH {_WORDS_CTE},
b AS (
  SELECT unnest([words[i] || ' ' || words[i+1]
                 for i in range(1, greatest(len(words) - 1, 0) + 1)])
           AS bigram
  FROM w
),
bc AS (
  SELECT split_part(bigram, ' ', 1) AS w1,
         split_part(bigram, ' ', 2) AS w2,
         count(*) AS n_ab
  FROM b GROUP BY 1, 2 HAVING count(*) >= 5
),
u AS (SELECT unnest(words) AS word FROM w),
uc AS (SELECT word, count(*) AS n FROM u GROUP BY 1),
tot AS (SELECT count(*) AS n_total FROM u),
scored AS (
  SELECT bc.w1, bc.w2, bc.n_ab, a.n AS n_a, bb.n AS n_b,
         bc.n_ab * tot.n_total * 1000000 // (a.n * bb.n) AS lift_ppm
  FROM bc JOIN uc a ON bc.w1 = a.word
          JOIN uc bb ON bc.w2 = bb.word, tot
),
top AS (SELECT * FROM scored ORDER BY lift_ppm DESC, w1, w2 LIMIT 50)
SELECT CAST(row_number() OVER (ORDER BY lift_ppm DESC, w1, w2) AS INT)
         AS rank,
       w1, w2, n_ab, n_a, n_b, lift_ppm
FROM top
"""


def lineitem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column statistics profile (``operators/profile.py``): one
    aggregate pass over lineitem, one output row per column — the
    ANALYZE-TABLE shape; the oracle recomputes every cell with
    independent per-column SQL."""
    from mapreducewordcount_spark.operators.profile import profile_columns

    li = load_table(spark, sf_dir, "lineitem")
    return profile_columns(
        li,
        numeric_cols=["l_orderkey", "l_quantity", "l_extendedprice"],
        string_cols=["l_returnflag", "l_linestatus"],
        ts_cols=["l_shipdate"])


def _profile_sql() -> str:
    def num(c):
        return f"""
SELECT '{c}' AS column_name, count(*) AS n_rows,
       count(*) - count({c}) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS DOUBLE) AS min_num,
       CAST(max({c}) AS DOUBLE) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM lineitem"""

    def s(c):
        return f"""
SELECT '{c}', count(*), count(*) - count({c}), count(DISTINCT {c}),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min({c}), max({c})
FROM lineitem"""

    def ts(c):
        return f"""
SELECT '{c}', count(*), count(*) - count({c}), count(DISTINCT {c}),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       strftime(min({c}), '%Y-%m-%d %H:%M:%S'),
       strftime(max({c}), '%Y-%m-%d %H:%M:%S')
FROM lineitem"""

    return " UNION ALL ".join(
        [num("l_orderkey"), num("l_quantity"), num("l_extendedprice"),
         s("l_returnflag"), s("l_linestatus"), ts("l_shipdate")])


def events_rate_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point signal over the event stream: one-sided CUSUM of
    hourly-count deviations from each type's mean rate, via the
    identity ``S_i = cum_i − min(0, min_{j≤i} cum_j)`` — two window
    functions, no recursion, no driver loop. Deviations are scaled
    by ``n_hours`` (``x_i·H − total``) so everything stays BIGINT.
    Defined over OBSERVED hours (gaps carry no zero rows here; feed
    ``operators/gapfill.py`` output to score a dense grid)."""
    events = load_table(spark, sf_dir, "events")
    hourly = (events
              .groupBy("event_type",
                       F.date_trunc("hour", F.col("ts")).alias("hr"))
              .agg(F.count(F.lit(1)).alias("x")))
    per = Window.partitionBy("event_type")
    seq = per.orderBy("hr")
    upto = seq.rowsBetween(Window.unboundedPreceding, 0)
    scored = (hourly
              .withColumn("n_hours", F.count(F.lit(1)).over(per))
              .withColumn("total", F.sum("x").over(per))
              .withColumn("dev", F.col("x") * F.col("n_hours")
                          - F.col("total"))
              .withColumn("cum", F.sum("dev").over(upto))
              .withColumn("cusum", F.col("cum")
                          - F.least(F.min("cum").over(upto), F.lit(0))))
    pick = Window.partitionBy("event_type").orderBy(
        F.col("cusum").desc(), F.col("hr").asc())
    return (scored.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select("event_type",
                    F.col("n_hours").cast("long").alias("n_hours"),
                    F.col("total").cast("long").alias("n_events"),
                    F.col("cusum").cast("long").alias("peak_cusum"),
                    F.date_format("hr", "yyyy-MM-dd HH:mm:ss")
                     .alias("peak_hour")))


EVENTS_CUSUM_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS x
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, hr, x,
         count(*) OVER (PARTITION BY event_type) AS n_hours,
         sum(x) OVER (PARTITION BY event_type) AS total
  FROM hourly
),
c AS (
  SELECT *,
         sum(x * n_hours - total) OVER (
           PARTITION BY event_type ORDER BY hr
           ROWS UNBOUNDED PRECEDING) AS cum
  FROM scored
),
s AS (
  SELECT *,
         cum - least(min(cum) OVER (
           PARTITION BY event_type ORDER BY hr
           ROWS UNBOUNDED PRECEDING), 0) AS cusum
  FROM c
)
SELECT event_type,
       CAST(n_hours AS BIGINT) AS n_hours,
       CAST(total AS BIGINT) AS n_events,
       CAST(cusum AS BIGINT) AS peak_cusum,
       strftime(hr, '%Y-%m-%d %H:%M:%S') AS peak_hour
FROM s
QUALIFY row_number() OVER (PARTITION BY event_type
                           ORDER BY cusum DESC, hr) = 1
"""


HYBRID_TERMS = ("spark", "join", "hash", "vector")
HYBRID_QUERY_VEC = 0   # embeddings.vec_id used as the query vector
RRF_K = 60             # the standard reciprocal-rank-fusion constant
RRF_SCALE = 1_000_000_000
HYBRID_POOL = 100      # per-ranker candidate pool
HYBRID_TOP = 20


def vec_rank_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hybrid retrieval family's shared vector leg: the
    ``HYBRID_POOL``-row (doc_id, rank_vec) frame ranked by cosine to
    the fixed query embedding. TakeOrdered bounds the global work;
    the rank window runs on the already-cut pool."""
    from mapreducewordcount_spark.functions.vectors import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    qv = (emb.filter(F.col("vec_id") == HYBRID_QUERY_VEC)
          .select(F.col("embedding").alias("q_vec")))
    cos = cosine("q_vec", "embedding")
    vec_cut = (emb.filter(F.col("vec_id") != HYBRID_QUERY_VEC)
               .crossJoin(F.broadcast(qv))   # 1-row query frame
               .select(F.col("vec_id").alias("doc_id"),
                       F.round(cos, 6).alias("cos"))
               .orderBy(F.col("cos").desc(), "doc_id")
               .limit(HYBRID_POOL))
    w_vec = Window.orderBy(F.col("cos").desc(), "doc_id")
    return vec_cut.select(
        "doc_id", F.row_number().over(w_vec).alias("rank_vec"))


def vec_rank_ctes() -> str:
    """DuckDB CTE chain computing the identical vector pool —
    terminates in ``vec_rank(doc_id, rank_vec)``; callers append it
    after their own CTEs."""
    return f"""q AS (SELECT embedding AS q_vec FROM embeddings
      WHERE vec_id = {HYBRID_QUERY_VEC}),
scored AS (
  SELECT e.vec_id AS doc_id,
         round(CASE WHEN sqrt(list_dot_product(q.q_vec::DOUBLE[],
                                               q.q_vec::DOUBLE[])) > 0
                     AND sqrt(list_dot_product(e.embedding::DOUBLE[],
                                               e.embedding::DOUBLE[])) > 0
               THEN list_dot_product(q.q_vec::DOUBLE[],
                                     e.embedding::DOUBLE[])
                    / (sqrt(list_dot_product(q.q_vec::DOUBLE[],
                                             q.q_vec::DOUBLE[]))
                       * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                               e.embedding::DOUBLE[])))
               ELSE 0.0 END, 6) AS cos
  FROM embeddings e, q WHERE e.vec_id <> {HYBRID_QUERY_VEC}
),
vec_cut AS (SELECT doc_id, cos FROM scored
            ORDER BY cos DESC, doc_id LIMIT {HYBRID_POOL}),
vec_rank AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_vec
  FROM vec_cut
)"""


def doc_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: a lexical ranking (query-term occurrence
    count) and a vector ranking (cosine to a query embedding) fused
    by reciprocal-rank fusion in INTEGER form — each ranker
    contributes ``RRF_SCALE div (RRF_K + rank)``, an integer per
    term, so the fused score is a sum of integers: exact, order-
    invariant, engine-portable (true float RRF differs only by
    sub-ppb rounding of each reciprocal and gives the same order at
    these pool sizes). Documents and embeddings share the id space
    (doc_id == vec_id — the testdata convention every similarity
    gate query uses).

    Scale shape: each ranker is a TakeOrdered top-``HYBRID_POOL``
    (per-partition heaps), rank windows run on the bounded cut, and
    the fusion is a full-outer join of two 100-row frames — nothing
    global ever sorts. Swap the lexical leg for ``operators/bm25``
    scores when idf weighting matters; the fusion is ranker-agnostic.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))

    ws = tm.words("text")
    terms = F.array(*[F.lit(t) for t in HYBRID_TERMS])
    n_hits = F.size(F.filter(ws, lambda w: F.array_contains(terms, w)))
    tf_cut = (docs.select("doc_id", n_hits.alias("n_hits"))
              .filter(F.col("n_hits") > 0)
              .orderBy(F.col("n_hits").desc(), "doc_id")
              .limit(HYBRID_POOL))
    w_tf = Window.orderBy(F.col("n_hits").desc(), "doc_id")
    tf_rank = tf_cut.select(
        "doc_id", F.row_number().over(w_tf).alias("rank_tf"))

    vec_rank = vec_rank_pool(spark, sf_dir)

    fused = (tf_rank.join(vec_rank, "doc_id", "full_outer")
             .withColumn(
                 "rrf_micro",
                 F.coalesce(F.expr(f"{RRF_SCALE} div ({RRF_K} + rank_tf)"),
                            F.lit(0))
                 + F.coalesce(F.expr(f"{RRF_SCALE} div ({RRF_K} + rank_vec)"),
                              F.lit(0)))
             .orderBy(F.col("rrf_micro").desc(), "doc_id")
             .limit(HYBRID_TOP))
    w_out = Window.orderBy(F.col("rrf_micro").desc(), "doc_id")
    return (fused.withColumn("rank", F.row_number().over(w_out))
            .select("rank", "doc_id", "rrf_micro", "rank_tf", "rank_vec"))


def _hybrid_sql() -> str:
    from mapreducewordcount_spark.queries.text_queries import _WORDS_CTE

    terms = ", ".join(f"'{t}'" for t in HYBRID_TERMS)
    return f"""
WITH {_WORDS_CTE},
tf AS (
  SELECT doc_id,
         len(list_filter(words, x -> list_contains([{terms}], x)))
           AS n_hits
  FROM w
),
tf_cut AS (SELECT doc_id, n_hits FROM tf WHERE n_hits > 0
           ORDER BY n_hits DESC, doc_id LIMIT {HYBRID_POOL}),
tf_rank AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY n_hits DESC, doc_id) AS rank_tf
  FROM tf_cut
),
{vec_rank_ctes()},
fused AS (
  SELECT coalesce(t.doc_id, v.doc_id) AS doc_id,
         coalesce({RRF_SCALE} // ({RRF_K} + t.rank_tf), 0)
           + coalesce({RRF_SCALE} // ({RRF_K} + v.rank_vec), 0)
           AS rrf_micro,
         t.rank_tf, v.rank_vec
  FROM tf_rank t FULL OUTER JOIN vec_rank v ON t.doc_id = v.doc_id
),
top AS (SELECT * FROM fused
        ORDER BY rrf_micro DESC, doc_id LIMIT {HYBRID_TOP})
SELECT CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS INT)
         AS rank,
       doc_id, rrf_micro,
       CAST(rank_tf AS INT) AS rank_tf,
       CAST(rank_vec AS INT) AS rank_vec
FROM top
"""


def cdc_chunk_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk_idx, offset, length, chunk_md5) — the chunk
    table the whole chunk family (``doc_cdc_chunks``,
    ``doc_cdc_chunk_dedup``, ``doc_chunk_share_pairs``,
    ``doc_chunk_gc_report``) consumes."""
    from mapreducewordcount_spark.operators.cdchunk import cdc_chunk_table

    return cdc_chunk_table(spread(load_table(spark, sf_dir, "documents")))


def doc_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup report
    (``operators/cdchunk.py``): the engine's chunk table
    (``cdc_chunk_model``; rolling-hash boundaries — not
    SQL-expressible) is a committed oracle artifact, and DuckDB
    re-verifies EVERY chunk independently via
    ``md5(substring(text, offset+1, length))`` before recomputing the
    per-source dedup accounting — so a wrong boundary, length, or
    hash breaks the gate row, not just a count. ``n_verify_fail``
    must be 0 on both engines."""
    from mapreducewordcount_spark.operators.cdchunk import (
        chunk_dedup_report,
    )

    docs = load_table(spark, sf_dir, "documents")
    rep = chunk_dedup_report(cdc_chunk_model(spark, sf_dir), docs)
    return (rep.select(F.col("grp").alias("source"), "n_chunks",
                       "n_unique_chunks", "total_chars", "dup_chars",
                       "n_verify_fail"))


def _cdc_chunks_sql() -> str:
    from mapreducewordcount_spark.sources.sig_artifacts import (
        DOC_KEY_SQL,
        frame_cte,
    )

    return f"""
WITH {frame_cte('ch', 'doc_cdc_chunks', DOC_KEY_SQL)},
j AS (
  SELECT d.source, ch.length, ch.chunk_md5,
         CASE WHEN md5(substring(d.text, ch."offset" + 1, ch.length))
                   = ch.chunk_md5 THEN 0 ELSE 1 END AS fail
  FROM ch JOIN documents d ON ch.doc_id = d.doc_id
),
per_hash AS (
  SELECT source, chunk_md5, count(*) AS cnt, min(length) AS len,
         sum(fail) AS fails
  FROM j GROUP BY 1, 2
)
SELECT source,
       CAST(sum(cnt) AS BIGINT) AS n_chunks,
       CAST(count(*) AS BIGINT) AS n_unique_chunks,
       CAST(sum(cnt * len) AS BIGINT) AS total_chars,
       CAST(sum((cnt - 1) * len) AS BIGINT) AS dup_chars,
       CAST(sum(fails) AS BIGINT) AS n_verify_fail
FROM per_hash GROUP BY 1
"""


QUERIES = {
    "orders_agg_ivm_minmax": QuerySpec(orders_agg_ivm_minmax,
                                       ORDERS_IVM_MINMAX_SQL),
    "orders_cdc_e2e": QuerySpec(orders_cdc_e2e, ORDERS_CDC_E2E_SQL),
    "doc_length_outliers": QuerySpec(doc_length_outliers,
                                     DOC_LENGTH_OUTLIERS_SQL),
    "doc_quality_calibrated": QuerySpec(doc_quality_calibrated,
                                        _quality_calibrated_sql()),
    "bigram_collocations": QuerySpec(bigram_collocations,
                                     _collocations_sql()),
    "lineitem_profile": QuerySpec(lineitem_profile, _profile_sql()),
    "events_rate_cusum": QuerySpec(events_rate_cusum, EVENTS_CUSUM_SQL),
    "doc_hybrid_search": QuerySpec(doc_hybrid_search, _hybrid_sql()),
    "doc_cdc_chunks": QuerySpec(doc_cdc_chunks, _cdc_chunks_sql()),
}
