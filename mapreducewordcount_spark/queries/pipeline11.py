"""Round-12 additions: deterministic bottom-k reservoir sampling,
event retention cohorts, and the dedup cluster-size report.

Reference parity: none — extension surface (SURVEY.md §2.5); the
reference engine (/root/reference/src, 549 LoC) has no sampling,
cohort, or clustering layer.

Oracle notes: all three are FULLY SQL-expressible — no artifacts.
The reservoir sample rides the repo's cross-engine md5 recipe; the
retention cohort arithmetic is integer month indexes (no interval
arithmetic, which the two engines round differently); the cluster
stats reuse ``dedup_groups``'s recursive-CTE transitive closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordcount_spark.operators.sampling import (
    RSV_SALT as _RSV_SALT,
    reservoir_hash,
)
from mapreducewordcount_spark.queries import QuerySpec
from mapreducewordcount_spark.sources.tables import load_table

#: per-source reservoir capacity for the gate query
RESERVOIR_K = 20


def doc_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample per source — the distributed form of
    reservoir sampling (Vitter 1985 Algorithm R semantics): keep the
    ``k`` items with the SMALLEST uniform hash per group (bottom-k).
    Both yield a uniform k-subset, but bottom-k is mergeable —
    ``merge(R_a, R_b) = bottom_k(R_a ∪ R_b)`` — so partitions sample
    independently and a partial-agg/top-k heap combines them with no
    sequential scan, no RNG state, and replay-stable results (the
    hash IS the randomness; a retried task picks the same rows).
    That mergeability is also the streaming story: yesterday's
    reservoir plus today's batch re-merge in register time.

    Plan shape: one window top-k per source (rank over
    ``md5(salt‖doc_id)``) — Catalyst runs it as a partial top-k
    before the shuffle, so the wire carries ≤ k rows per source per
    partition, never the corpus. ``n_in_source`` (the group size the
    sample represents) rides the same window pass.

    Output: (source, sample_rank, doc_id, n_chars, n_in_source).
    """
    docs = load_table(spark, sf_dir, "documents")
    hk = reservoir_hash("doc_id")
    w = Window.partitionBy("source").orderBy(hk, "doc_id")
    wn = Window.partitionBy("source")
    return (docs
            .select("source", "doc_id", "n_chars")
            .withColumn("sample_rank", F.row_number().over(w))
            .withColumn("n_in_source",
                        F.count(F.lit(1)).over(wn).cast("long"))
            .filter(F.col("sample_rank") <= RESERVOIR_K)
            .select("source", F.col("sample_rank").cast("int"),
                    "doc_id", "n_chars", "n_in_source"))


DOC_RESERVOIR_SQL = f"""
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5('{_RSV_SALT}' || doc_id),
                                     doc_id) AS sample_rank,
         count(*) OVER (PARTITION BY source) AS n_in_source
  FROM documents
)
SELECT source, CAST(sample_rank AS INT) AS sample_rank, doc_id,
       n_chars, CAST(n_in_source AS BIGINT) AS n_in_source
FROM ranked WHERE sample_rank <= {RESERVOIR_K}
"""


#: per-(source, quality-tier) capacity for the stratified sample
STRATUM_K = 5


def doc_stratified_reservoir(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Quality-stratified reservoir (VERDICT r12 next#6 — the two
    r12 primitives COMPOSED): ``STRATUM_K`` docs per (source,
    quality tier), i.e. the sample a human-eval batch actually
    draws — uniform within each stratum so low-quality strata are
    represented instead of drowned out by volume. Reuses the
    bottom-k-by-hash reservoir verbatim (``operators/sampling`` —
    same salt, same mergeability/replay story as
    :func:`doc_reservoir_sample`, only the partition key widens to
    the stratum) and the discrete quality tiers of the curriculum
    query (``quality_score`` sums of {.3,.2,.3,.2} weights: ≥0.8
    high, ≥0.5 mid, else low — a CASE, no window/ntile needed).

    Plan shape: one tokenizer pass for the quality signals, then a
    single window top-k per stratum (partial top-k before the
    shuffle: ≤ k rows per stratum per partition on the wire, never
    the corpus). ``n_in_stratum`` — the population the k rows
    represent, the Horvitz-Thompson denominator when re-weighting
    eval results — rides the same window pass.

    Output: (source, tier, sample_rank, doc_id, quality,
    n_in_stratum).
    """
    from mapreducewordcount_spark.functions import text_metrics as tm
    from mapreducewordcount_spark.sources.tables import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "source", "doc_id",
        F.round(tm.quality_score("text"), 4).alias("quality"))
    scored = scored.withColumn(
        "tier",
        F.when(F.col("quality") >= 0.8, F.lit("high"))
        .when(F.col("quality") >= 0.5, F.lit("mid"))
        .otherwise(F.lit("low")))
    hk = reservoir_hash("doc_id")
    w = Window.partitionBy("source", "tier").orderBy(hk, "doc_id")
    wn = Window.partitionBy("source", "tier")
    return (scored
            .withColumn("sample_rank", F.row_number().over(w))
            .withColumn("n_in_stratum",
                        F.count(F.lit(1)).over(wn).cast("long"))
            .filter(F.col("sample_rank") <= STRATUM_K)
            .select("source", "tier",
                    F.col("sample_rank").cast("int").alias("sample_rank"),
                    "doc_id", "quality", "n_in_stratum"))


def _stratified_reservoir_sql() -> str:
    from mapreducewordcount_spark.queries.analytics import (
        DOC_QUALITY_SQL,
    )

    return f"""
WITH dq AS ({DOC_QUALITY_SQL}),
t AS (
  SELECT d.source, dq.doc_id, dq.quality,
         CASE WHEN dq.quality >= 0.8 THEN 'high'
              WHEN dq.quality >= 0.5 THEN 'mid'
              ELSE 'low' END AS tier
  FROM dq JOIN documents d ON dq.doc_id = d.doc_id
),
ranked AS (
  SELECT source, tier, doc_id, quality,
         row_number() OVER (PARTITION BY source, tier
                            ORDER BY md5('{_RSV_SALT}' || doc_id),
                                     doc_id) AS sample_rank,
         count(*) OVER (PARTITION BY source, tier) AS n_in_stratum
  FROM t
)
SELECT source, tier, CAST(sample_rank AS INT) AS sample_rank, doc_id,
       quality, CAST(n_in_stratum AS BIGINT) AS n_in_stratum
FROM ranked WHERE sample_rank <= {STRATUM_K}
"""


#: retention horizon (week offsets 0..N reported)
RETENTION_MAX_OFFSET = 6


def events_retention_cohorts(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Classic cohort-retention triangle over the events stream:
    users are cohorted by the WEEK of their FIRST event; for each
    (cohort, week offset) the report counts users active that week
    and the retention rate vs the cohort's size — the table every
    growth dashboard draws, and at pipeline scale the health monitor
    for a user-interaction corpus (a cohort whose retention cliff
    moves is a collection change). Weekly, not monthly: weeks are a
    FIXED-WIDTH integer division of epoch days, so offsets are exact
    subtraction with no calendar arithmetic (month lengths are where
    engines disagree), and the gate corpus — a single month of
    events at every SF — still yields a real triangle.

    Plan shape: one distinct to user-week activity (the corpus
    touch), a per-user min (partial agg), one self-join on user_id
    sharded by the grouping — no window over the raw stream.

    Output: (cohort, offset, cohort_size, n_active, retention);
    ``cohort`` is the ISO date of the week's first day (epoch-aligned
    weeks: day 0 = 1970-01-01).
    """
    ev = load_table(spark, sf_dir, "events")
    epoch = F.to_date(F.lit("1970-01-01"))
    um = (ev.select("user_id",
                    F.floor(F.datediff(F.col("ts").cast("date"),
                                       epoch) / 7)
                    .cast("long").alias("widx"))
          .distinct())
    first = um.groupBy("user_id").agg(F.min("widx").alias("cidx"))
    act = (um.join(first, "user_id")
           .select("user_id", "cidx",
                   (F.col("widx") - F.col("cidx")).cast("int")
                   .alias("offset"))
           .filter(F.col("offset") <= RETENTION_MAX_OFFSET))
    cohort = F.date_add(epoch, (F.col("cidx") * 7).cast("int")) \
        .cast("string")
    by_off = (act.groupBy(cohort.alias("cohort"), "offset")
              .agg(F.countDistinct("user_id").alias("n_active")))
    size = (by_off.filter(F.col("offset") == 0)
            .select("cohort", F.col("n_active").alias("cohort_size")))
    return (by_off.join(size, "cohort")
            .select("cohort", "offset", "cohort_size", "n_active",
                    F.round(F.col("n_active")
                            / F.col("cohort_size").cast("double"), 4)
                    .alias("retention")))


EVENTS_RETENTION_SQL = f"""
WITH um AS (
  SELECT DISTINCT user_id,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(ts AS DATE)) // 7 AS BIGINT) AS widx
  FROM events
),
first AS (SELECT user_id, min(widx) AS cidx FROM um GROUP BY 1),
act AS (
  SELECT um.user_id, f.cidx,
         CAST(um.widx - f.cidx AS INT) AS "offset"
  FROM um JOIN first f USING (user_id)
  WHERE um.widx - f.cidx <= {RETENTION_MAX_OFFSET}
),
by_off AS (
  SELECT CAST(DATE '1970-01-01' + CAST(cidx * 7 AS INT) AS VARCHAR)
           AS cohort,
         "offset", CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
  FROM act GROUP BY 1, 2
),
size AS (SELECT cohort, n_active AS cohort_size FROM by_off
         WHERE "offset" = 0)
SELECT b.cohort, b."offset" AS offset, s.cohort_size, b.n_active,
       round(b.n_active / CAST(s.cohort_size AS DOUBLE), 4)
         AS retention
FROM by_off b JOIN size s USING (cohort)
"""


def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over near-dup connected components —
    the capacity-planning view of a dedup run: how many clusters of
    each size exist, how many documents they hold, and how many rows
    survivor-selection will drop (``size − 1`` per cluster). The
    histogram is what decides whether dedup output is dominated by
    pair noise (many 2-clusters) or template explosions (few huge
    clusters — the rows that blow up survivor selection and deserve
    a manual look BEFORE a 100 TB pass commits to keep-one).

    Composes the committed near-dup pipeline (``shingle_jaccard_pairs``
    → ``dup_groups`` union-find components) with two bounded
    aggregates over every document: a paired document sits in its
    component, any other document is a cluster of its own. The groups
    feed one branch of the plan, so the pair join and the union-find
    run once per action; a zero-weight size-1 row keeps the singleton
    row (n_clusters 0) on a corpus where every document is paired.

    Output: (cluster_size, n_clusters, n_docs, n_dropped).
    """
    from mapreducewordcount_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    groups = dd.dup_groups(dd.shingle_jaccard_pairs(docs, threshold=0.5))
    sizes = (docs.select("doc_id")
             .join(groups, "doc_id", "left")
             .groupBy(F.coalesce("group_id", "doc_id"))
             .agg(F.count(F.lit(1)).alias("sz"))
             .select("sz", F.lit(1).alias("w")))
    no_single = spark.range(1).select(F.lit(1).cast("long").alias("sz"),
                                      F.lit(0).alias("w"))
    return (sizes.unionByName(no_single)
            .groupBy(F.col("sz").alias("cluster_size"))
            .agg(F.sum("w").cast("long").alias("n_clusters"),
                 F.sum(F.col("sz") * F.col("w")).cast("long")
                 .alias("n_docs"))
            .withColumn("n_dropped",
                        (F.col("n_docs") - F.col("n_clusters"))
                        .cast("long")))


def _dedup_cluster_stats_sql() -> str:
    from mapreducewordcount_spark.queries.dedup_queries import (
        _SHINGLES_CTE,
        _WORDS_CTE,
    )

    return f"""
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
comp AS (SELECT id AS doc_id, min(r) AS group_id
         FROM reach GROUP BY id),
sizes AS (SELECT group_id, count(*) AS sz FROM comp GROUP BY 1),
multi AS (
  SELECT CAST(sz AS BIGINT) AS cluster_size,
         CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(sum(sz) AS BIGINT) AS n_docs
  FROM sizes GROUP BY 1
),
tot AS (SELECT count(*) AS total FROM documents),
grp AS (SELECT count(*) AS grouped FROM comp),
single AS (
  SELECT CAST(1 AS BIGINT) AS cluster_size,
         CAST(tot.total - grp.grouped AS BIGINT) AS n_clusters,
         CAST(tot.total - grp.grouped AS BIGINT) AS n_docs
  FROM tot, grp
)
SELECT cluster_size, n_clusters, n_docs,
       CAST(n_docs - n_clusters AS BIGINT) AS n_dropped
FROM (SELECT * FROM multi UNION ALL SELECT * FROM single)
"""


#: 80/10/10 — wider eval bands than the 98/1/1 production split so
#: the gate corpora populate every split and the naive-leakage
#: comparison column has mass to count
LEAKAGE_SPLIT_FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}

#: salt decorrelating the leakage-safe split from the plain
#: dataset_split (':split') and every other md5-keyed decision
_LEAK_SALT = "leak"


def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates
    across splits: the split is keyed on each document's dedup
    CLUSTER REPRESENTATIVE (the min doc id of its component from the
    committed near-dup pipeline; singletons represent themselves), so
    an entire near-dup cluster moves between splits atomically — the
    eval-decontamination discipline a val/test set needs, since a val
    doc with a train near-twin measures memorization, not
    generalization. Composition of two shipped primitives, neither
    changed: ``shingle_jaccard_pairs → dup_groups`` (the
    dedup_cluster_stats lineage) and ``dataset_split`` (salted-md5
    bands, ':leak'-salted so the assignment is independent of the
    production ':split' bands).

    Output: one row per split — n_docs, n_clusters (multi-doc
    clusters wholly inside the split), n_clustered_docs — plus two
    corpus-wide audit columns repeated per row: ``leaked_clusters``
    (clusters straddling splits under THIS assignment — structurally
    0, but computed, not asserted) and ``naive_leaked_clusters``
    (clusters that straddle under the doc_id-keyed split — what the
    operator prevents). At 100 TB the split column is a row-local
    projection downstream of the dedup pass the pipeline already
    runs; the counts are a per-cluster aggregate and one corpus-wide
    row.
    """
    from mapreducewordcount_spark.functions.sampling import (
        dataset_split,
    )
    from mapreducewordcount_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    groups = dd.dup_groups(dd.shingle_jaccard_pairs(docs, threshold=0.5))
    rep_id = F.coalesce("group_id", "doc_id")
    assigned = (docs.select("doc_id")
                .join(groups, "doc_id", "left")
                .select(F.col("group_id").isNotNull().alias("clustered"),
                        rep_id.alias("rep_id"),
                        dataset_split(rep_id, LEAKAGE_SPLIT_FRACS,
                                      salt=_LEAK_SALT).alias("split"),
                        dataset_split("doc_id", LEAKAGE_SPLIT_FRACS,
                                      salt=_LEAK_SALT)
                        .alias("naive_split")))
    names = list(LEAKAGE_SPLIT_FRACS)
    # one row per cluster (an unpaired document is its own): its docs
    # per split and how many splits each assignment spreads it over
    clusters = (assigned.groupBy("rep_id")
                .agg(F.max("clustered").alias("clustered"),
                     F.countDistinct("split").alias("ns"),
                     F.countDistinct("naive_split").alias("nns"),
                     *[F.count(F.when(F.col("split") == s, 1)).alias(s)
                       for s in names]))
    # then ONE corpus-wide row, unrolled to a row per split: the
    # groups feed a single branch, so the pair join and the union-find
    # run once per action
    multi = F.col("clustered")
    totals = clusters.agg(
        F.array(*[F.struct(
            F.lit(s).alias("split"),
            F.sum(s).cast("long").alias("n_docs"),
            F.count(F.when(multi & (F.col(s) > 0), 1))
            .alias("n_clusters"),
            F.sum(F.when(multi, F.col(s)).otherwise(0)).cast("long")
            .alias("n_clustered_docs")) for s in names]).alias("rows"),
        F.count(F.when(multi & (F.col("ns") > 1), 1))
        .alias("leaked_clusters"),
        F.count(F.when(multi & (F.col("nns") > 1), 1))
        .alias("naive_leaked_clusters"))
    return (totals
            .select(F.inline("rows"), "leaked_clusters",
                    "naive_leaked_clusters")
            .filter(F.col("n_docs") > 0)
            .orderBy("split"))


def _leakage_safe_splits_sql() -> str:
    from mapreducewordcount_spark.queries.dedup_queries import (
        _SHINGLES_CTE,
        _WORDS_CTE,
    )
    from mapreducewordcount_spark.queries.pipeline2 import _hex4_sql

    def case(key: str) -> str:
        v = _hex4_sql(f"md5(CAST({key} AS VARCHAR) || ':{_LEAK_SALT}')")
        names = list(LEAKAGE_SPLIT_FRACS)
        cum, whens = 0.0, []
        for name in names[:-1]:
            cum += LEAKAGE_SPLIT_FRACS[name]
            whens.append(f"WHEN {v} < {int(cum * 65536)} "
                         f"THEN '{name}'")
        return "CASE " + " ".join(whens) + f" ELSE '{names[-1]}' END"

    return f"""
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
comp AS (SELECT id AS doc_id, min(r) AS group_id
         FROM reach GROUP BY id),
rep AS (
  SELECT d.doc_id, c.group_id,
         coalesce(c.group_id, d.doc_id) AS rep_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
assigned AS (
  SELECT doc_id, group_id,
         {case('rep_id')} AS split,
         {case('doc_id')} AS naive_split
  FROM rep
),
leaked AS (
  SELECT CAST(coalesce(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS leaked_clusters,
         CAST(coalesce(sum(CASE WHEN nns > 1 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS naive_leaked_clusters
  FROM (SELECT group_id, count(DISTINCT split) AS ns,
               count(DISTINCT naive_split) AS nns
        FROM assigned WHERE group_id IS NOT NULL GROUP BY 1)
),
per_split AS (
  SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT group_id) AS BIGINT) AS n_clusters,
         CAST(sum(CASE WHEN group_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_clustered_docs
  FROM assigned GROUP BY 1
)
SELECT p.split, p.n_docs, p.n_clusters, p.n_clustered_docs,
       l.leaked_clusters, l.naive_leaked_clusters
FROM per_split p CROSS JOIN leaked l
ORDER BY split
"""


QUERIES = {
    "doc_reservoir_sample": QuerySpec(doc_reservoir_sample,
                                      DOC_RESERVOIR_SQL),
    "doc_stratified_reservoir": QuerySpec(doc_stratified_reservoir,
                                          _stratified_reservoir_sql()),
    "events_retention_cohorts": QuerySpec(events_retention_cohorts,
                                          EVENTS_RETENTION_SQL),
    "dedup_cluster_stats": QuerySpec(dedup_cluster_stats,
                                     _dedup_cluster_stats_sql()),
    "leakage_safe_splits": QuerySpec(leakage_safe_splits,
                                     _leakage_safe_splits_sql()),
}
