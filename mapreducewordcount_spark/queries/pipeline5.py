"""Round-7 session-3 operators: BM25 retrieval, two-pass heavy
hitters, the z-order layout planner, and hot-key join diagnostics.

Oracle notes:

- ``doc_bm25_topk`` — BM25 with the rational (log-free) idf; every
  float literal reaches both engines via ``repr`` and per-term
  contributions are integer-quantized before the per-document sum,
  so the scores hash-match bit-for-bit (see ``operators/bm25.py``).
- ``heavy_hitters_words`` — the engine runs the Misra-Gries two-pass
  (bounded summaries + exact verify) while the oracle computes the
  answer with the INDEPENDENT brute-force groupBy/HAVING — the
  strongest oracle form: a completeness bug in the summary merge
  (a dropped candidate) loses rows the oracle still has.
- ``lineitem_zorder_layout`` / ``join_skew_report`` — pure integer
  arithmetic end-to-end (bit interleave, ``div``-based rescale and
  ppm shares); nothing float-typed crosses the engines except the
  final casts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.tokenize import tokenize_expr
from mapreducewordcount_spark.queries import QuerySpec
from mapreducewordcount_spark.queries.dedup_queries import _WORDS_CTE
from mapreducewordcount_spark.sources.tables import load_table, spread

# query terms with spread document frequencies in the synthetic
# corpus ('spark' appears in ~77% of docs, the others in nearly all —
# the idf spread is what makes the ranking non-degenerate).
BM25_TERMS = ("spark", "join", "hash", "vector")
BM25_K = 20


def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for a fixed query-term set — the
    retrieval primitive for benchmark-adjacent curation review."""
    from mapreducewordcount_spark.operators.bm25 import bm25_topk

    docs = spread(load_table(spark, sf_dir, "documents"))
    return bm25_topk(docs, BM25_TERMS, k=BM25_K)


def _bm25_sql() -> str:
    from mapreducewordcount_spark.operators.bm25 import bm25_oracle_sql

    return bm25_oracle_sql(BM25_TERMS, _WORDS_CTE, k=BM25_K)


#: the batch gate runs three benchmark-style queries at once
BM25_MULTI = {1: ("spark", "join"), 2: ("hash", "merge"),
              3: ("vector", "filter", "scan")}
BM25_MULTI_K = 10


def doc_bm25_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25 — a query TABLE scored in one pass (the
    decontamination shape: many benchmark questions vs the corpus);
    per-query top-k via a query-partitioned window."""
    from mapreducewordcount_spark.operators.bm25 import bm25_batch_topk

    docs = spread(load_table(spark, sf_dir, "documents"))
    queries = spark.createDataFrame(
        [(qid, list(terms)) for qid, terms in BM25_MULTI.items()],
        "query_id long, terms array<string>")
    return bm25_batch_topk(docs, queries, k=BM25_MULTI_K)


def _bm25_multi_sql() -> str:
    from mapreducewordcount_spark.operators.bm25 import SCALE

    values = ", ".join(f"(CAST({qid} AS BIGINT), '{t}')"
                       for qid, terms in BM25_MULTI.items()
                       for t in terms)
    k1p1, b, omb = 1.2 + 1.0, 0.75, 1.0 - 0.75
    return f"""
WITH {_WORDS_CTE},
q AS (SELECT * FROM (VALUES {values}) AS t(query_id, term)),
wl AS (SELECT doc_id, len(words) AS dl, words FROM w),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM wl),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(words) AS term FROM wl)
  WHERE term IN (SELECT DISTINCT term FROM q)
  GROUP BY 1, 2, 3
),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT tf.doc_id, tf.term,
         CAST(round(
           ((CAST(s.n_docs - dft.df AS DOUBLE) + 0.5)
            / (CAST(dft.df AS DOUBLE) + 0.5))
           * ((CAST(tf.tf AS DOUBLE) * {k1p1!r})
              / (CAST(tf.tf AS DOUBLE)
                 + {1.2!r} * ({omb!r}
                             + {b!r} * (CAST(tf.dl AS DOUBLE)
                                        / (CAST(s.total_len AS DOUBLE)
                                           / CAST(s.n_docs AS DOUBLE))))))
           * {float(SCALE)!r}) AS BIGINT) AS c_units
  FROM tf JOIN dft USING (term) CROSS JOIN stats s
),
pqd AS (
  SELECT q.query_id, c.doc_id,
         CAST(sum(c.c_units) AS BIGINT) AS score_units
  FROM contrib c JOIN q ON c.term = q.term
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score_units,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_units DESC, doc_id) AS rk
  FROM pqd
)
SELECT query_id, doc_id,
       CAST(score_units AS DOUBLE) / {float(SCALE)!r} AS score,
       CAST(rk AS INT) AS rank
FROM ranked WHERE rk <= {BM25_MULTI_K}
"""


# phi = 1/100: every word holding >= 1% of the token stream. The
# operator's MG capacity defaults to 128 (> 1/phi, the completeness
# bound); the synthetic corpus's 31-word vocabulary makes the bounded
# summary lossless here — tests/test_heavyhitters.py exercises the
# decrement path on a planted long-tail corpus where capacity <<
# distinct keys.
HH_PHI = (1, 100)


def heavy_hitters_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi-heavy-hitter words via Misra-Gries candidates +
    exact verify (two passes, bounded shuffle)."""
    from mapreducewordcount_spark.operators.heavyhitters import heavy_hitters

    docs = spread(load_table(spark, sf_dir, "documents"))
    tokens = docs.select(
        F.explode(tokenize_expr("text")).alias("word"))
    out = heavy_hitters(tokens, "word",
                        phi_num=HH_PHI[0], phi_denom=HH_PHI[1])
    return out.withColumnRenamed("key", "word")


HEAVY_HITTERS_SQL = f"""
WITH {_WORDS_CTE},
t AS (SELECT unnest(words) AS word FROM w),
tot AS (SELECT count(*) AS n FROM t),
c AS (SELECT word, count(*) AS n_occurrences FROM t GROUP BY 1)
SELECT word,
       CAST(n_occurrences AS BIGINT) AS n_occurrences,
       CAST(n_occurrences * 1000000 // n AS BIGINT) AS share_ppm
FROM c, tot
WHERE n_occurrences * {HH_PHI[1]} >= n * {HH_PHI[0]}
"""


ZO_BITS = 16
ZO_FILE_BITS = 6


def lineitem_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout plan for lineitem clustered on
    (l_partkey, l_suppkey): per-target-file zone maps."""
    from mapreducewordcount_spark.operators.zorder import zorder_file_stats

    li = load_table(spark, sf_dir, "lineitem")
    return zorder_file_stats(li, "l_partkey", "l_suppkey",
                             bits=ZO_BITS, file_bits=ZO_FILE_BITS)


def _zorder_sql() -> str:
    from mapreducewordcount_spark.operators.zorder import interleave_sql

    scale = 1 << ZO_BITS
    shift = 2 * ZO_BITS - ZO_FILE_BITS
    return f"""
WITH mm AS (
  SELECT CAST(min(l_partkey) AS BIGINT) AS mnx,
         CAST(max(l_partkey) AS BIGINT) AS mxx,
         CAST(min(l_suppkey) AS BIGINT) AS mny,
         CAST(max(l_suppkey) AS BIGINT) AS mxy
  FROM lineitem
),
r AS (
  SELECT l_partkey, l_suppkey,
         ((CAST(l_partkey AS BIGINT) - mnx) * {scale}) // (mxx - mnx + 1)
           AS rx,
         ((CAST(l_suppkey AS BIGINT) - mny) * {scale}) // (mxy - mny + 1)
           AS ry
  FROM lineitem, mm
),
z AS (
  SELECT l_partkey, l_suppkey,
         ({interleave_sql('rx', 'ry', ZO_BITS)}) AS zvalue
  FROM r
)
SELECT zvalue >> {shift} AS file_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(l_partkey) AS min_l_partkey,
       max(l_partkey) AS max_l_partkey,
       min(l_suppkey) AS min_l_suppkey,
       max(l_suppkey) AS max_l_suppkey
FROM z GROUP BY 1
"""


SKEW_TOP_N = 10
# demo-scale task target so the gate output exercises the ceil-div
# (events' hottest user holds ~86 rows at sf0.01 -> 3 salt buckets);
# production would pass rows-per-task sized to executor memory.
SKEW_TARGET = 32


def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnostics on events.user_id — the pre-flight report
    that sizes ``salted_join``'s buckets before a 100 TB shuffle."""
    from mapreducewordcount_spark.operators.skewjoin import key_skew_report

    events = load_table(spark, sf_dir, "events")
    return key_skew_report(events, "user_id", top_n=SKEW_TOP_N,
                           target_rows_per_task=SKEW_TARGET)


JOIN_SKEW_SQL = f"""
WITH c AS (
  SELECT user_id, count(*) AS n_rows FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM c
),
top AS (
  SELECT user_id, n_rows FROM c
  ORDER BY n_rows DESC, user_id LIMIT {SKEW_TOP_N}
)
SELECT user_id,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_rows * 1000000 // total_rows AS BIGINT) AS share_ppm,
       CAST(sum(n_rows * 1000000 // total_rows) OVER (
              ORDER BY n_rows DESC, user_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_share_ppm,
       CAST((n_rows + {SKEW_TARGET - 1}) // {SKEW_TARGET} AS BIGINT)
         AS salt_buckets,
       total_rows, n_keys
FROM top, tot
"""


QUOTA_K = 40


def source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source domain cap (Gopher/FineWeb-style): keep the best
    QUOTA_K docs per source by quality, report the per-source cut."""
    from mapreducewordcount_spark.functions import text_metrics as tm
    from mapreducewordcount_spark.operators.quota import quota_cap_report

    docs = spread(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id", "source",
        F.round(tm.quality_score("text"), 4).alias("quality"))
    return quota_cap_report(
        scored, ["source"],
        [F.col("quality").desc(), F.col("doc_id")],
        QUOTA_K, score=F.col("quality"))


def _quota_sql() -> str:
    # analytics.py's words CTE (NOT dedup's): QUALITY_M_CTE needs the
    # raw text column alongside the token array.
    from mapreducewordcount_spark.queries.analytics import (
        QUALITY_EXPR_SQL,
        QUALITY_M_CTE,
        _WORDS_CTE as _WORDS_TEXT_CTE,
    )

    return f"""
WITH {_WORDS_TEXT_CTE},
{QUALITY_M_CTE},
q AS (
  SELECT m.doc_id, d.source, {QUALITY_EXPR_SQL} AS quality
  FROM m JOIN documents d ON m.doc_id = d.doc_id
),
r AS (
  SELECT source, quality,
         row_number() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id) AS rk
  FROM q
),
kept AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
         min(quality) AS cutoff_score
  FROM r WHERE rk <= {QUOTA_K} GROUP BY 1
),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
          FROM q GROUP BY 1)
SELECT s.source, s.n_docs, k.n_kept,
       s.n_docs - k.n_kept AS n_dropped, k.cutoff_score
FROM sizes s JOIN kept k USING (source)
"""


def orders_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals from the CDC change log
    (``operators/scd2.py`` over ``pipeline4.cdc_change_batch``):
    every version of every order as a row with [valid_from,
    valid_to) version bounds; deletes close intervals without
    emitting rows. The oracle rebuilds the log with independent
    UNION ALL/lead SQL, so interval-boundary bugs cannot hide."""
    from mapreducewordcount_spark.operators.scd2 import scd2_history
    from mapreducewordcount_spark.queries.pipeline4 import cdc_change_batch

    orders = load_table(spark, sf_dir, "orders")
    hist = scd2_history(orders, cdc_change_batch(orders),
                        ["o_orderkey"])
    return hist.select("o_orderkey", "valid_from", "valid_to",
                       "is_current",
                       F.round("o_totalprice", 2).alias("price"))


ORDERS_SCD2_SQL = """
WITH log AS (
  SELECT o_orderkey, o_totalprice, 0 AS v, 'U' AS op FROM orders
  UNION ALL
  SELECT o_orderkey, o_totalprice + 1000.0, 2, 'U'
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice * 2, 3, 'U'
  FROM orders WHERE o_orderkey % 21 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice, 4, 'D'
  FROM orders WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT -o_orderkey - 1, o_totalprice, 1, 'U'
  FROM orders WHERE o_orderkey % 11 = 0
),
h AS (
  SELECT *, lead(v) OVER (PARTITION BY o_orderkey ORDER BY v)
            AS valid_to
  FROM log
)
SELECT o_orderkey,
       CAST(v AS INT) AS valid_from,
       CAST(valid_to AS INT) AS valid_to,
       CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INT)
         AS is_current,
       round(o_totalprice, 2) AS price
FROM h WHERE op = 'U'
"""


FUNNEL_STEPS = ("view", "click", "purchase")


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel over the event stream: first view, then a
    click strictly after it, then a purchase strictly after that."""
    from mapreducewordcount_spark.operators.funnel import funnel_counts

    events = load_table(spark, sf_dir, "events")
    return funnel_counts(events, FUNNEL_STEPS)


EVENTS_FUNNEL_SQL = f"""
WITH s1 AS (
  SELECT user_id AS u, min(ts) AS ft FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1
),
s2 AS (
  SELECT e.user_id AS u, min(e.ts) AS ft
  FROM events e JOIN s1 ON e.user_id = s1.u
  WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > s1.ft
  GROUP BY 1
),
s3 AS (
  SELECT e.user_id AS u, min(e.ts) AS ft
  FROM events e JOIN s2 ON e.user_id = s2.u
  WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > s2.ft
  GROUP BY 1
),
counts AS (
  SELECT 1 AS step, '{FUNNEL_STEPS[0]}' AS event_type,
         (SELECT count(*) FROM s1) AS n_users
  UNION ALL
  SELECT 2, '{FUNNEL_STEPS[1]}', (SELECT count(*) FROM s2)
  UNION ALL
  SELECT 3, '{FUNNEL_STEPS[2]}', (SELECT count(*) FROM s3)
)
SELECT CAST(step AS INT) AS step, event_type,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(n_users * 1000000 // (SELECT count(*) FROM s1) AS BIGINT)
         AS conversion_ppm
FROM counts
"""


PR_ITERS = 3
#: supplier nodes are offset into their own id space so the two
#: bipartite sides share one BIGINT node universe
PR_SUPP_BASE = 1_000_000


def supplier_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank on the symmetrized supplier<->part graph
    from lineitem — the iterative-join pattern with a bit-exact
    unrolled-CTE oracle (``operators/pagerank.py``)."""
    from mapreducewordcount_spark.operators.pagerank import (
        pagerank_fixed_point,
    )

    li = load_table(spark, sf_dir, "lineitem")
    fwd = li.select(F.col("l_partkey").cast("long").alias("src"),
                    (F.lit(PR_SUPP_BASE)
                     + F.col("l_suppkey").cast("long")).alias("dst"))
    edges = fwd.unionByName(fwd.select(F.col("dst").alias("src"),
                                       F.col("src").alias("dst")))
    ranks = pagerank_fixed_point(edges, iterations=PR_ITERS)
    return ranks.select("node", F.col("rank").alias("rank_micro"))


def _pagerank_sql() -> str:
    from mapreducewordcount_spark.operators.pagerank import R0

    base = (R0 * 150) // 1000
    prev, ctes = "r0", []
    for i in range(1, PR_ITERS + 1):
        ctes.append(f"""r{i} AS (
  SELECT d.node,
         CAST({base} + (850 * CAST(coalesce(t.s, 0) AS BIGINT)) // 1000
              AS BIGINT) AS pr
  FROM deg d LEFT JOIN (
    SELECT e.dst AS node, sum(r.pr // dg.deg) AS s
    FROM {prev} r
    JOIN deg dg ON r.node = dg.node
    JOIN e ON r.node = e.src
    GROUP BY 1
  ) t ON d.node = t.node
)""")
        prev = f"r{i}"
    joined = ",\n".join(ctes)
    return f"""
WITH e AS (
  SELECT DISTINCT CAST(l_partkey AS BIGINT) AS src,
                  CAST({PR_SUPP_BASE} + l_suppkey AS BIGINT) AS dst
  FROM lineitem
  UNION
  SELECT DISTINCT CAST({PR_SUPP_BASE} + l_suppkey AS BIGINT),
                  CAST(l_partkey AS BIGINT)
  FROM lineitem
),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        FROM e GROUP BY 1),
r0 AS (SELECT node, CAST({R0} AS BIGINT) AS pr FROM deg),
{joined}
SELECT node, pr AS rank_micro FROM {prev}
"""


DSIR_TOP_K = 100


def dsir_weight_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, w_micro) — the DSIR importance weights against the
    lang='en' target, ``dsir_selection``'s model table."""
    from mapreducewordcount_spark.operators import dsir

    docs = spread(load_table(spark, sf_dir, "documents"))
    return dsir.dsir_weights(docs, docs.filter(F.col("lang") == "en"))


def dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance selection (Xie et al. 2023): hashed-n-gram
    importance scores against the lang='en' target model, top-100
    selected. The bucket log-weight table (``dsir_weight_model``) is
    the committed model artifact; both engines recompute features and
    scoring from raw text + that table (``operators/dsir.py``)."""
    from mapreducewordcount_spark.operators import dsir

    docs = spread(load_table(spark, sf_dir, "documents"))
    # featurize ONCE: the pool vector, the target vector and the
    # scoring pass all reuse this persisted frame (3x fewer
    # tokenize+explode passes over the corpus; measured 5.2s -> see
    # SCALE.md). Repeated same-session invocations reuse the one
    # cached plan until the caller clears the cache.
    feats = dsir.doc_bucket_counts(docs).persist()
    target = docs.filter(F.col("lang") == "en")
    # dsir_weight_model's fit, reusing the persisted features
    wt = dsir.dsir_weights(docs, target, feats=feats,
                           target_ids=target.select("doc_id"))
    scores = dsir.dsir_scores(docs, wt, feats=feats)
    topk = (scores.orderBy(F.col("dsir_score_micro").desc(),
                           F.col("doc_id"))
                  .limit(DSIR_TOP_K)
                  .select("doc_id", F.lit(1).alias("__sel")))
    return (scores.join(F.broadcast(topk), "doc_id", "left")
            .select("doc_id", "dsir_score_micro",
                    F.coalesce("__sel", F.lit(0)).cast("int")
                     .alias("selected")))


def _dsir_sql() -> str:
    from mapreducewordcount_spark.operators.dsir import N_BUCKETS, _SALT
    from mapreducewordcount_spark.queries.pipeline2 import _hex4_sql
    from mapreducewordcount_spark.sources import sig_artifacts

    md5_expr = f"md5('{_SALT}' || ng)"
    bucket = f"({_hex4_sql(md5_expr)}) % {N_BUCKETS}"
    return f"""
WITH {_WORDS_CTE},
{sig_artifacts.frame_cte('wt', 'dsir_selection',
                         sig_artifacts.DOC_KEY_SQL)},
ng AS (
  SELECT doc_id, unnest(words) AS ng FROM w
  UNION ALL
  SELECT doc_id, words[i] || ' ' || words[i+1]
  FROM w, unnest(range(1, len(words))) AS t(i)
),
b AS (
  SELECT doc_id, {bucket} AS bucket, count(*) AS c
  FROM ng GROUP BY 1, 2
),
sc AS (
  SELECT b.doc_id,
         CAST(sum(b.c * wt.w_micro) AS BIGINT) AS dsir_score_micro
  FROM b JOIN wt USING (bucket) GROUP BY 1
),
alls AS (
  SELECT d.doc_id,
         coalesce(sc.dsir_score_micro, 0) AS dsir_score_micro
  FROM documents d LEFT JOIN sc USING (doc_id)
),
top AS (
  SELECT doc_id FROM alls
  ORDER BY dsir_score_micro DESC, doc_id LIMIT {DSIR_TOP_K}
)
SELECT a.doc_id, a.dsir_score_micro,
       CAST(CASE WHEN t.doc_id IS NULL THEN 0 ELSE 1 END AS INT)
         AS selected
FROM alls a LEFT JOIN top t USING (doc_id)
"""


def orders_agg_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (``operators/ivm.py``): refresh
    the revenue-by-status aggregate from the CDC change batch via
    delta rules — the snapshot is touched only through a changed-key
    semi-join — while the ORACLE recomputes the view from scratch
    over the merged state. Equality proves the delta path. Money
    flows as integer cents (delta and recompute sum in different
    orders; integer addition is associative, doubles are not)."""
    from mapreducewordcount_spark.operators.ivm import (
        incremental_agg_refresh,
    )
    from mapreducewordcount_spark.queries.pipeline4 import cdc_change_batch

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    snap = orders.withColumn("price_cents", cents)
    changes = cdc_change_batch(orders).withColumn("price_cents", cents)
    out = incremental_agg_refresh(snap, changes, ["o_orderkey"],
                                  "o_orderstatus", "price_cents")
    return out.select("o_orderstatus", F.col("n_rows").alias("n_orders"),
                      (F.col("total").cast("double") / F.lit(100.0))
                      .alias("total_price"))


ORDERS_IVM_SQL = """
WITH merged AS (
  SELECT o_orderstatus,
         CAST(round(CASE WHEN o_orderkey % 21 = 0 THEN o_totalprice * 2
                         WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
                         ELSE o_totalprice END * 100, 0) AS BIGINT)
           AS price_cents
  FROM orders
  WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents
  FROM orders WHERE o_orderkey % 11 = 0  -- inserts at key -k-1
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(price_cents) AS DOUBLE) / 100.0 AS total_price
FROM merged GROUP BY 1
"""


def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (``operators/snapdiff.py``): classify every key
    that differs between the orders snapshot and its CDC-merged
    successor — added / removed / changed with old+new prices. The
    oracle rebuilds the new state independently (CASE/WHERE) and
    diffs in SQL, so a drop-the-delete or miss-the-insert bug in
    either merge or diff surfaces as a row mismatch."""
    from mapreducewordcount_spark.operators.merge import merge_upsert
    from mapreducewordcount_spark.operators.snapdiff import snapshot_diff
    from mapreducewordcount_spark.queries.pipeline4 import cdc_change_batch

    orders = load_table(spark, sf_dir, "orders")
    new = merge_upsert(orders, cdc_change_batch(orders), ["o_orderkey"])
    d = snapshot_diff(orders, new, ["o_orderkey"], ["o_totalprice"])
    return d.select("o_orderkey", "change",
                    F.round("old_o_totalprice", 2)
                     .alias("old_o_totalprice"),
                    F.round("new_o_totalprice", 2)
                     .alias("new_o_totalprice"))


ORDERS_SNAPDIFF_SQL = """
WITH newstate AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 21 = 0 THEN o_totalprice * 2
              WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
              ELSE o_totalprice END AS price
  FROM orders
  WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT -o_orderkey - 1, o_totalprice
  FROM orders WHERE o_orderkey % 11 = 0
),
old AS (SELECT o_orderkey, o_totalprice AS price FROM orders)
SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change,
       round(o.price, 2) AS old_o_totalprice,
       round(n.price, 2) AS new_o_totalprice
FROM old o FULL OUTER JOIN newstate n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR o.price IS DISTINCT FROM n.price
"""


QUERIES = {
    "doc_bm25_topk": QuerySpec(doc_bm25_topk, _bm25_sql()),
    "heavy_hitters_words": QuerySpec(heavy_hitters_words,
                                     HEAVY_HITTERS_SQL),
    "lineitem_zorder_layout": QuerySpec(lineitem_zorder_layout,
                                        _zorder_sql()),
    "join_skew_report": QuerySpec(join_skew_report, JOIN_SKEW_SQL),
    "source_quota_cap": QuerySpec(source_quota_cap, _quota_sql()),
    "orders_scd2_history": QuerySpec(orders_scd2_history,
                                     ORDERS_SCD2_SQL),
    "events_funnel": QuerySpec(events_funnel, EVENTS_FUNNEL_SQL),
    "supplier_part_pagerank": QuerySpec(supplier_part_pagerank,
                                        _pagerank_sql()),
    "dsir_selection": QuerySpec(dsir_selection, _dsir_sql()),
    "doc_bm25_multi": QuerySpec(doc_bm25_multi, _bm25_multi_sql()),
    "orders_agg_ivm": QuerySpec(orders_agg_ivm, ORDERS_IVM_SQL),
    "orders_snapshot_diff": QuerySpec(orders_snapshot_diff,
                                      ORDERS_SNAPDIFF_SQL),
}
