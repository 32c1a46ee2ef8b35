"""Round-9 operators: chunk-level incremental dedup between crawl
snapshots, hybrid retrieval with the BM25 lexical leg, chunk-share
near-dup pairs, ranker-agreement (truncated RBO) diagnostics,
chunk-store GC planning, and embedding-level (semantic) eval-set
decontamination.

Reference parity: none — all six are extension surface (SURVEY.md
§2.5); the reference engine (549 LoC, /root/reference/src) has no
retrieval, chunking, or storage-lifecycle operators.

Oracle notes:

- ``doc_cdc_chunk_dedup`` — reuses the committed ``doc_cdc_chunks``
  artifact (the chunk table a dedup store persists; boundaries are
  rolling-hash, not SQL-expressible), which holds the same chunk
  table the engine builds in-plan: DuckDB rebuilds the index/batch
  split, the first-in-batch accounting, and the per-source byte
  totals from the artifact with plain SQL. Pure integer accounting — nothing float
  crosses the engines.
- ``doc_hybrid_bm25`` — the ranker-agnostic swap
  ``doc_hybrid_search``'s docstring promises: the lexical pool is
  ``operators/bm25`` (rational idf, integer-quantized contributions
  — already bit-exact cross-engine) instead of the raw term-hit
  count, fused with the identical integer RRF; the vector leg and
  fusion CTEs are shared with ``doc_hybrid_search``
  (``pipeline6.vec_rank_pool`` / ``vec_rank_ctes``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordcount_spark.queries import QuerySpec
from mapreducewordcount_spark.queries.pipeline3 import INDEX_SOURCE
from mapreducewordcount_spark.queries.pipeline6 import (
    HYBRID_POOL,
    HYBRID_TERMS,
    HYBRID_TOP,
    RRF_K,
    RRF_SCALE,
    cdc_chunk_model,
    vec_rank_ctes,
    vec_rank_pool,
)
from mapreducewordcount_spark.sources.tables import load_table, spread


def _chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk table (``cdc_chunk_model``), persisted for the
    queries that read it on several plan branches, so the chunking
    UDF runs once per query. The blocks stay cached until the caller
    that runs the action calls ``spark.catalog.clearCache()``."""
    return cdc_chunk_model(spark, sf_dir).persist()


def doc_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level incremental dedup between crawl snapshots
    (VERDICT r8 next#4): probe the incoming batch's chunks (every
    source but ``src0``) against the stored chunk index (``src0``'s
    chunk hashes — 16-byte keys, the persisted output of the previous
    run), reporting per-source new/duplicate chunk and byte counts.
    Content-defined boundaries mean an insertion in a re-crawled page
    re-flags only the chunks it touches (pinned in
    tests/test_cdchunk.py); see
    ``operators/cdchunk.chunk_incremental_report`` for the plan
    shape. The chunk table (``cdc_chunk_model``) is the committed
    ``doc_cdc_chunks`` artifact, so both engines account over
    identical chunks."""
    from mapreducewordcount_spark.operators.cdchunk import (
        chunk_incremental_report,
    )

    docs = load_table(spark, sf_dir, "documents")
    rep = chunk_incremental_report(_chunks(spark, sf_dir), docs,
                                   INDEX_SOURCE)
    return rep.select(F.col("grp").alias("source"), "n_chunks",
                      "total_chars", "n_dup_index", "dup_index_chars",
                      "n_dup_batch", "dup_batch_chars", "n_new",
                      "new_chars")


def _cdc_chunk_dedup_sql() -> str:
    from mapreducewordcount_spark.operators.cdchunk import packed_rank_sql
    from mapreducewordcount_spark.sources.sig_artifacts import (
        DOC_KEY_SQL,
        frame_cte,
    )

    return f"""
WITH {frame_cte('ch', 'doc_cdc_chunks', DOC_KEY_SQL)},
j AS (
  SELECT ch.doc_id, ch.chunk_idx, ch.length, ch.chunk_md5, d.source
  FROM ch JOIN documents d ON ch.doc_id = d.doc_id
),
idx AS (SELECT DISTINCT chunk_md5 FROM j
        WHERE source = '{INDEX_SOURCE}'),
batch AS (
  SELECT source, chunk_md5, length,
         {packed_rank_sql()} AS rk
  FROM j WHERE source <> '{INDEX_SOURCE}'
),
first AS (SELECT chunk_md5, min(rk) AS first_rk FROM batch GROUP BY 1),
lab AS (
  SELECT b.source, b.length,
         CASE WHEN i.chunk_md5 IS NOT NULL THEN 'dup_of_index'
              WHEN b.rk <> f.first_rk THEN 'dup_in_batch'
              ELSE 'new' END AS status
  FROM batch b
  LEFT JOIN idx i ON b.chunk_md5 = i.chunk_md5
  JOIN first f ON b.chunk_md5 = f.chunk_md5
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(length) AS BIGINT) AS total_chars,
       CAST(count(*) FILTER (status = 'dup_of_index') AS BIGINT)
         AS n_dup_index,
       CAST(coalesce(sum(length) FILTER (status = 'dup_of_index'), 0)
            AS BIGINT) AS dup_index_chars,
       CAST(count(*) FILTER (status = 'dup_in_batch') AS BIGINT)
         AS n_dup_batch,
       CAST(coalesce(sum(length) FILTER (status = 'dup_in_batch'), 0)
            AS BIGINT) AS dup_batch_chars,
       CAST(count(*) FILTER (status = 'new') AS BIGINT) AS n_new,
       CAST(coalesce(sum(length) FILTER (status = 'new'), 0) AS BIGINT)
         AS new_chars
FROM lab GROUP BY 1
"""


def doc_hybrid_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, BM25 edition (VERDICT r8 next#5): the
    lexical pool is the top-``HYBRID_POOL`` BM25 ranking over the
    same query terms (idf-weighted, length-normalized — the ranker
    ``doc_hybrid_search``'s raw hit count approximates), fused with
    the shared cosine pool by the identical integer RRF. Everything
    scale-relevant is inherited: both pools are TakeOrdered-bounded,
    rank windows run on the 100-row cuts, and the fusion is a
    full-outer join of two bounded frames — nothing global sorts."""
    from mapreducewordcount_spark.operators.bm25 import bm25_topk

    docs = spread(load_table(spark, sf_dir, "documents"))
    bm = bm25_topk(docs, HYBRID_TERMS, k=HYBRID_POOL)
    bm_rank = bm.select("doc_id", F.col("rank").alias("rank_bm25"))
    vec_rank = vec_rank_pool(spark, sf_dir)

    fused = (bm_rank.join(vec_rank, "doc_id", "full_outer")
             .withColumn(
                 "rrf_micro",
                 F.coalesce(
                     F.expr(f"{RRF_SCALE} div ({RRF_K} + rank_bm25)"),
                     F.lit(0))
                 + F.coalesce(
                     F.expr(f"{RRF_SCALE} div ({RRF_K} + rank_vec)"),
                     F.lit(0)))
             .orderBy(F.col("rrf_micro").desc(), "doc_id")
             .limit(HYBRID_TOP))
    w_out = Window.orderBy(F.col("rrf_micro").desc(), "doc_id")
    return (fused.withColumn("rank", F.row_number().over(w_out))
            .select("rank", "doc_id", "rrf_micro", "rank_bm25",
                    "rank_vec"))


def _hybrid_bm25_sql() -> str:
    from mapreducewordcount_spark.operators.bm25 import bm25_oracle_sql
    from mapreducewordcount_spark.queries.dedup_queries import _WORDS_CTE

    bm = bm25_oracle_sql(HYBRID_TERMS, _WORDS_CTE, k=HYBRID_POOL)
    return f"""
WITH bm AS ({bm}),
bm_rank AS (SELECT doc_id, rank AS rank_bm25 FROM bm),
{vec_rank_ctes()},
fused AS (
  SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
         coalesce({RRF_SCALE} // ({RRF_K} + b.rank_bm25), 0)
           + coalesce({RRF_SCALE} // ({RRF_K} + v.rank_vec), 0)
           AS rrf_micro,
         b.rank_bm25, v.rank_vec
  FROM bm_rank b FULL OUTER JOIN vec_rank v ON b.doc_id = v.doc_id
),
top AS (SELECT * FROM fused
        ORDER BY rrf_micro DESC, doc_id LIMIT {HYBRID_TOP})
SELECT CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS INT)
         AS rank,
       doc_id, rrf_micro,
       CAST(rank_bm25 AS INT) AS rank_bm25,
       CAST(rank_vec AS INT) AS rank_vec
FROM top
"""


CHUNK_PAIR_MIN_SHARED = 2
CHUNK_FANOUT_CAP = 16


def doc_chunk_share_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup document pairs through the chunk index
    (``operators/cdchunk.chunk_share_pairs``): documents sharing >= 2
    non-boilerplate chunks, with the per-hash fanout cap excluding
    chunks present in > 16 docs from pair space and Jaccard universe
    alike. Completes the dedup ladder's storage-level rung — overlap
    observed from 16-byte keys, no text re-read. The chunk table is
    the committed ``doc_cdc_chunks`` artifact; the oracle recomputes
    the cap, the pair join, and the integer Jaccard from it."""
    from mapreducewordcount_spark.operators.cdchunk import (
        chunk_share_pairs,
    )

    return chunk_share_pairs(_chunks(spark, sf_dir),
                             min_shared=CHUNK_PAIR_MIN_SHARED,
                             fanout_cap=CHUNK_FANOUT_CAP)


def _chunk_share_pairs_sql() -> str:
    from mapreducewordcount_spark.sources.sig_artifacts import (
        DOC_KEY_SQL,
        frame_cte,
    )

    return f"""
WITH {frame_cte('ch', 'doc_cdc_chunks', DOC_KEY_SQL)},
dc AS (SELECT DISTINCT doc_id, chunk_md5, length FROM ch),
freq AS (SELECT chunk_md5, count(*) AS n_docs FROM dc GROUP BY 1),
kept AS (
  SELECT dc.doc_id, dc.chunk_md5, dc.length
  FROM dc JOIN freq USING (chunk_md5)
  WHERE freq.n_docs <= {CHUNK_FANOUT_CAP}
),
sizes AS (SELECT doc_id, count(*) AS n_set FROM kept GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         count(*) AS n_shared,
         CAST(sum(a.length) AS BIGINT) AS shared_chars
  FROM kept a JOIN kept b
    ON a.chunk_md5 = b.chunk_md5 AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {CHUNK_PAIR_MIN_SHARED}
)
SELECT p.a_id, p.b_id,
       CAST(p.n_shared AS BIGINT) AS n_shared, p.shared_chars,
       CAST(p.n_shared * 1000000
            // (sa.n_set + sb.n_set - p.n_shared) AS BIGINT)
         AS jaccard_ppm
FROM pairs p
JOIN sizes sa ON p.a_id = sa.doc_id
JOIN sizes sb ON p.b_id = sb.doc_id
"""


def doc_chunk_gc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-store garbage collection planning — the lifecycle leg of
    the chunk family: when documents are deleted (the registry's CDC
    delete convention, ``doc_id % 13 = 0``), a stored chunk becomes
    reclaimable only when NO live document references it. Each unique
    chunk is attributed to the source of the document that first
    introduced it (min (doc_id, chunk_idx) — the stored copy's
    owner); the report gives per-owner-source stored/reclaimable
    accounting, i.e. how much of each source's contribution to the
    store a purge would actually free.

    Scale shape: reference counting is one groupBy over 16-byte
    hashes (live refs counted with a filtered aggregate — partial-agg
    friendly); the owner doc_id is recovered ARITHMETICALLY from the
    packed min rank (``rk div 1e6``), so ownership costs no extra
    join against the chunk table; the only row-proportional join is
    the broadcast-sized docs(doc_id → source) projection."""
    from mapreducewordcount_spark.operators.cdchunk import packed_rank

    docs = load_table(spark, sf_dir, "documents")
    art = cdc_chunk_model(spark, sf_dir)
    live = (F.col("doc_id") % 13 != 0).cast("long")
    rk = packed_rank(F.col("doc_id"), F.col("chunk_idx"))
    per_hash = (art
                .select("chunk_md5", "length", live.alias("__live"),
                        rk.alias("__rk"))
                .groupBy("chunk_md5")
                .agg(F.min("length").alias("len"),
                     F.sum("__live").alias("n_live_refs"),
                     F.min("__rk").alias("__min_rk")))
    from mapreducewordcount_spark.operators.cdchunk import RK_STRIDE
    owner = per_hash.withColumn(
        "doc_id", F.expr(f"CAST(__min_rk div {RK_STRIDE} AS BIGINT)"))
    j = owner.join(docs.select("doc_id", "source"), "doc_id")
    reclaim = (F.col("n_live_refs") == 0).cast("long")
    return (j.groupBy(F.col("source").alias("owner_source"))
            .agg(F.count(F.lit(1)).alias("n_chunks_owned"),
                 F.sum("len").cast("long").alias("owned_chars"),
                 F.sum(reclaim).alias("n_reclaimable"),
                 F.sum(reclaim * F.col("len")).cast("long")
                 .alias("reclaimable_chars")))


def _chunk_gc_sql() -> str:
    from mapreducewordcount_spark.operators.cdchunk import (
        RK_STRIDE,
        packed_rank_sql,
    )
    from mapreducewordcount_spark.sources.sig_artifacts import (
        DOC_KEY_SQL,
        frame_cte,
    )

    return f"""
WITH {frame_cte('ch', 'doc_cdc_chunks', DOC_KEY_SQL)},
per_hash AS (
  SELECT chunk_md5, min(length) AS len,
         sum(CASE WHEN doc_id % 13 <> 0 THEN 1 ELSE 0 END)
           AS n_live_refs,
         min({packed_rank_sql()}) AS min_rk
  FROM ch GROUP BY 1
),
owned AS (
  SELECT p.*, d.source AS owner_source
  FROM per_hash p
  JOIN documents d ON d.doc_id = p.min_rk // {RK_STRIDE}
)
SELECT owner_source,
       CAST(count(*) AS BIGINT) AS n_chunks_owned,
       CAST(sum(len) AS BIGINT) AS owned_chars,
       CAST(sum(CASE WHEN n_live_refs = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_reclaimable,
       CAST(sum(CASE WHEN n_live_refs = 0 THEN len ELSE 0 END)
            AS BIGINT) AS reclaimable_chars
FROM owned GROUP BY 1
"""


#: semantic decontamination threshold on max cosine-to-eval —
#: injected into both engines via repr; the compare runs on the
#: FULL-precision max (rounding is display-only), so a boundary value
#: cannot flip between engines.
SEMANTIC_DECONTAM_TAU = 0.35


def semantic_decontam_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level eval-set decontamination — the semantic member
    of the decontam family (exact n-gram `decontam_report`, Bloom
    `decontam_bloom_report`, cross-source `source_overlap_matrix`):
    paraphrased eval leakage shares no n-grams but sits close in
    embedding space, so each candidate document is scored by its MAX
    cosine to ANY eval vector and flagged above ``tau``. Eval set =
    ``src0``'s embeddings (the registry's index-source convention);
    candidates = every other source's.

    Scale shape: eval sets are SMALL by nature (benchmarks), so the
    eval side broadcasts and the scan stays map-side; the per-pair
    cosine is the JVM sequential fold (bit-exact vs DuckDB — the ANN
    oracle's proven recipe), and ``max`` + the threshold compare are
    order-invariant at full precision (round(·, 6) is display-only).
    The groupBy(doc) max is partial-aggregating: one row per doc
    leaves each task regardless of |eval|. NORMS ARE PRECOMPUTED once
    per side before the pair join — the identical
    ``sqrt(dot(v, v))`` doubles, evaluated |eval|+|batch| times
    instead of 2·|pairs| times, leaving ONE interpreted fold per pair
    (measured 6.1 s → see SCALE.md; values bit-identical, so the
    oracle's per-pair evaluation still hash-matches).
    """
    from mapreducewordcount_spark.functions.vectors import (
        cosine_from_norms,
        norm,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    with_src = emb.join(
        docs.select(F.col("doc_id").alias("vec_id"), "source"),
        "vec_id")
    ev = (with_src.filter(F.col("source") == INDEX_SOURCE)
          .select(F.col("embedding").alias("ev_vec"))
          .withColumn("__en", norm("ev_vec")))
    batch = (with_src.filter(F.col("source") != INDEX_SOURCE)
             .withColumn("__bn", norm("embedding")))
    cos = cosine_from_norms("ev_vec", "embedding", "__en", "__bn")
    mc = (batch.crossJoin(F.broadcast(ev))
          .select(F.col("vec_id").alias("doc_id"), "source",
                  cos.alias("__cos"))
          .groupBy("doc_id", "source")
          .agg(F.max("__cos").alias("__mc")))
    return (mc.select("doc_id", "source",
                      F.round("__mc", 6).alias("max_eval_cos"),
                      F.when(F.col("__mc") > SEMANTIC_DECONTAM_TAU,
                             "contaminated").otherwise("clean")
                      .alias("status")))


SEMANTIC_DECONTAM_SQL = f"""
WITH ev AS (
  SELECT e.embedding AS ev_vec FROM embeddings e
  JOIN documents d ON e.vec_id = d.doc_id
  WHERE d.source = '{INDEX_SOURCE}'
),
b AS (
  SELECT e.vec_id AS doc_id, d.source, e.embedding
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
  WHERE d.source <> '{INDEX_SOURCE}'
),
mc AS (
  SELECT b.doc_id, b.source,
         max(CASE WHEN sqrt(list_dot_product(ev.ev_vec::DOUBLE[],
                                             ev.ev_vec::DOUBLE[])) > 0
                   AND sqrt(list_dot_product(b.embedding::DOUBLE[],
                                             b.embedding::DOUBLE[])) > 0
             THEN list_dot_product(ev.ev_vec::DOUBLE[],
                                   b.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(ev.ev_vec::DOUBLE[],
                                           ev.ev_vec::DOUBLE[]))
                     * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                             b.embedding::DOUBLE[])))
             ELSE 0.0 END) AS mc
  FROM b, ev GROUP BY 1, 2
)
SELECT doc_id, source, round(mc, 6) AS max_eval_cos,
       CASE WHEN mc > {SEMANTIC_DECONTAM_TAU!r} THEN 'contaminated'
            ELSE 'clean' END AS status
FROM mc
"""


RBO_P = 0.9
RBO_SCALE = 1_000_000_000

#: (1−p)·p^(d−1) for d = 1..HYBRID_POOL, computed ONCE in Python and
#: injected into both engines as identical repr literals — no libm
#: pow crosses the engines (the BM25 float-parity recipe).
RBO_WEIGHTS = tuple((1.0 - RBO_P) * RBO_P ** (d - 1)
                    for d in range(1, HYBRID_POOL + 1))


def hybrid_rank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranker-agreement diagnostics for the hybrid family: per-depth
    overlap between the BM25 and cosine top-100 pools, plus the
    truncated rank-biased-overlap prefix sum (Webber et al. RBO with
    p = 0.9) — the statistic that tells a curation pipeline whether
    two rankers are redundant (high RBO → fusing adds little) or
    complementary. Everything is bounded: two 100-row pools, one
    inner join, a 100-row depth grid; the non-equi depth join and the
    single-partition cumulative window run on O(pool²) and O(pool)
    rows. Integer parity: per-depth RBO terms are quantized to 1e-9
    units from identical repr-injected weight literals, then
    integer-summed — order-invariant, engine-portable."""
    from mapreducewordcount_spark.operators.bm25 import bm25_topk

    docs = spread(load_table(spark, sf_dir, "documents"))
    bm_rank = (bm25_topk(docs, HYBRID_TERMS, k=HYBRID_POOL)
               .select("doc_id", F.col("rank").alias("rank_bm25")))
    vec_rank = vec_rank_pool(spark, sf_dir)
    both = (bm_rank.join(vec_rank, "doc_id")
            .select("doc_id",
                    F.greatest("rank_bm25", "rank_vec").alias("mr")))
    depths = spark.range(1, HYBRID_POOL + 1).select(
        F.col("id").alias("depth"))
    ov = (depths.join(F.broadcast(both),
                      F.col("mr") <= F.col("depth"), "left")
          .groupBy("depth")
          .agg(F.count("doc_id").alias("n_overlap")))
    wt = spark.createDataFrame(
        [(d + 1, w) for d, w in enumerate(RBO_WEIGHTS)],
        "depth long, w double")
    term = F.round(
        F.col("w") * (F.col("n_overlap").cast("double")
                      / F.col("depth").cast("double"))
        * F.lit(float(RBO_SCALE)), 0).cast("long")
    w_cum = (Window.orderBy("depth")
             .rowsBetween(Window.unboundedPreceding, 0))
    return (ov.join(F.broadcast(wt), "depth")
            .withColumn("__term", term)
            .select("depth", "n_overlap",
                    F.expr("CAST(n_overlap * 1000000 div depth "
                           "AS BIGINT)").alias("overlap_ppm"),
                    F.sum("__term").over(w_cum).alias("rbo_units")))


def _rank_overlap_sql() -> str:
    from mapreducewordcount_spark.operators.bm25 import bm25_oracle_sql
    from mapreducewordcount_spark.queries.dedup_queries import _WORDS_CTE

    bm = bm25_oracle_sql(HYBRID_TERMS, _WORDS_CTE, k=HYBRID_POOL)
    wt_rows = ", ".join(f"({d + 1}, {w!r})"
                        for d, w in enumerate(RBO_WEIGHTS))
    return f"""
WITH bm AS ({bm}),
bm_rank AS (SELECT doc_id, rank AS rank_bm25 FROM bm),
{vec_rank_ctes()},
both_m AS (
  SELECT b.doc_id, greatest(b.rank_bm25, v.rank_vec) AS mr
  FROM bm_rank b JOIN vec_rank v USING (doc_id)
),
depths AS (SELECT unnest(range(1, {HYBRID_POOL} + 1)) AS depth),
ov AS (
  SELECT d.depth, count(m.doc_id) AS n_overlap
  FROM depths d LEFT JOIN both_m m ON m.mr <= d.depth
  GROUP BY 1
),
wt(depth, w) AS (VALUES {wt_rows})
SELECT ov.depth, ov.n_overlap,
       CAST(ov.n_overlap * 1000000 // ov.depth AS BIGINT)
         AS overlap_ppm,
       CAST(sum(CAST(round(wt.w * (CAST(ov.n_overlap AS DOUBLE)
                                   / CAST(ov.depth AS DOUBLE))
                           * {float(RBO_SCALE)!r}) AS BIGINT))
            OVER (ORDER BY ov.depth ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS rbo_units
FROM ov JOIN wt ON ov.depth = wt.depth
"""


QUERIES = {
    "doc_cdc_chunk_dedup": QuerySpec(doc_cdc_chunk_dedup,
                                     _cdc_chunk_dedup_sql()),
    "doc_hybrid_bm25": QuerySpec(doc_hybrid_bm25, _hybrid_bm25_sql()),
    "doc_chunk_share_pairs": QuerySpec(doc_chunk_share_pairs,
                                       _chunk_share_pairs_sql()),
    "hybrid_rank_overlap": QuerySpec(hybrid_rank_overlap,
                                     _rank_overlap_sql()),
    "doc_chunk_gc_report": QuerySpec(doc_chunk_gc_report,
                                     _chunk_gc_sql()),
    "semantic_decontam_report": QuerySpec(semantic_decontam_report,
                                          SEMANTIC_DECONTAM_SQL),
}
