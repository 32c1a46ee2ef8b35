"""Dedup + similarity-search queries (the LLM-pipeline extension surface).

Oracle notes:
- ``dedup_exact`` / ``dedup_ngram_pairs`` / ``dedup_embedding_pairs`` /
  ``ann_cosine_topk`` are exactly SQL-expressible → full DuckDB oracles.
- ``dedup_prefix_pairs`` registers ``dedup_ngram_pairs`` (same
  function, same oracle) under the name of its bench row; SCALE.md
  records why no prefix-filtering join backs it.
- ``dedup_minhash_pairs`` shares the *exact-Jaccard* oracle: its LSH
  candidate stage is probabilistic, and the guarantee is
  corpus-measured, not absolute — at 64 hashes / 16 bands a pair AT
  the 0.5 threshold would miss every band with probability ~0.36,
  but every actual ≥0.45 pair in the gate corpora sits at j ≥ 0.89
  (measured sf0.001/sf0.01, DuckDB exact enumeration), where the
  per-pair miss is < 2e-7; the hash family is deterministic, so the
  pass is frozen, not lucky. A corpus with near-threshold pairs
  needs the 128-hash / 64-band (2-row) operating point that
  ``incremental_neardup_report`` uses (at-threshold miss ~1e-8) —
  the exact-verify stage then absorbs the extra low-j candidates.
- ``dedup_simhash_pairs`` / ``dedup_embedding_pairs_lsh`` /
  ``ann_lsh_topk`` / ``ann_ivf_topk`` / ``ann_pq_topk`` depend on
  model steps DuckDB cannot recompute (xxhash64, numpy sign
  projections, k-means, ADC float sums), but
  their JOIN/verify/rerank stages are fully oracled via the
  artifact scheme (``sources/sig_artifacts.py``): the engine's model
  table (signatures / band keys / assignments+routing / ADC shortlist),
  built by the ``*_model`` functions below, is committed as a parquet
  artifact and DuckDB recomputes everything downstream of it — banded
  joins, popcount or cosine verifies, rankings — from the artifact +
  the raw views. The queries themselves consume the model frame
  in-plan. The model steps stay pytest-pinned (parity, planted-pair
  recall, neighbor overlap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.vectors import cosine
from mapreducewordcount_spark.operators import dedup as dd
from mapreducewordcount_spark.operators import similarity as sim
from mapreducewordcount_spark.queries import QuerySpec
from mapreducewordcount_spark.sources import sig_artifacts as _sig_artifacts
from mapreducewordcount_spark.sources.tables import load_table, table_rows

# Words CTE shared by the shingle oracles — mirrors the native
# tokenizer (functions/tokenize.py): whitespace split, ASCII-punct
# ends-strip, lower, drop empties.
_WORDS_CTE = r"""
w AS (
  SELECT doc_id,
         list_filter(
           list_transform(regexp_split_to_array(lower(text), '\s+'),
                          x -> regexp_replace(x, '^[!-/:-@\[-`{-~]+|[!-/:-@\[-`{-~]+$', '', 'g')),
           x -> x <> '') AS words
  FROM documents
)
"""

_SHINGLES_CTE = r"""
sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in range(1, greatest(len(words) - 2, 0) + 1)]) AS shingles
  FROM w WHERE len(words) >= 3
)
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.exact_dedup(docs)


DEDUP_EXACT_SQL = f"""
WITH {_WORDS_CTE}
SELECT md5(array_to_string(words, ' ')) AS fp,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM w GROUP BY 1
"""


def dedup_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.shingle_jaccard_pairs(docs, threshold=0.5)


DEDUP_PAIRS_SQL = f"""
WITH {_WORDS_CTE}, {_SHINGLES_CTE}
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
             / (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
      / (len(a.shingles) + len(b.shingles)
         - len(list_intersect(a.shingles, b.shingles))) >= 0.5
"""


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(docs, threshold=0.5)


def simhash_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — the ``dedup_simhash_pairs`` model table."""
    return dd.simhash_docs(load_table(spark, sf_dir, "documents"))


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the join stage under a full hash
    oracle: the engine-computed signature table (``simhash_model``) is
    the committed artifact (the persisted-index production shape),
    and DuckDB recomputes the same banded join + popcount verify from
    it (``xor`` + ``bit_count``) — flipping this row from rows-only to
    three-check green (VERDICT r5 next#5). The xxhash64 hash family
    itself stays pytest-pinned (parity + planted-pair tests); DuckDB
    cannot recompute it."""
    return dd.signature_hamming_pairs(simhash_model(spark, sf_dir),
                                      id_col="doc_id", sig_col="simhash",
                                      max_hamming=3)


def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return dd.embedding_dup_pairs(emb, threshold=0.45)


DEDUP_EMBEDDING_SQL = """
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
"""


_WINNOW_SEL_CTE = r"""
h AS (
  SELECT doc_id,
         [md5(array_to_string(words[i:i+2], ' '))
          for i in range(1, greatest(len(words) - 2, 0) + 1)] AS hashes
  FROM w
),
sel AS (
  SELECT doc_id,
         list_sort(list_distinct(
           CASE WHEN len(hashes) = 0 THEN CAST([] AS VARCHAR[])
                WHEN len(hashes) < 4 THEN [list_aggregate(hashes, 'min')]
                ELSE [list_aggregate(hashes[i:i+3], 'min')
                      for i in range(1, len(hashes) - 3 + 1)]
           END)) AS selected
  FROM h
)
"""


def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc positional-winnowing fingerprints (MOSS scheme):
    selected-hash count + the sorted selection joined to one string
    (gate-hashable rendering of the array)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = dd.winnow_fingerprint_docs(docs)
    return fp.select("doc_id",
                     F.size("selected").alias("n_selected"),
                     F.concat_ws("|", F.col("selected")).alias("fp"))


DOC_WINNOW_SQL = f"""
WITH {_WORDS_CTE}, {_WINNOW_SEL_CTE}
SELECT doc_id, CAST(len(selected) AS INT) AS n_selected,
       array_to_string(selected, '|') AS fp
FROM sel
"""


def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs by shared winnowing fingerprints —
    complete for shared runs >= w+n-1 = 6 words, generated by a hash
    equi-join (the scalable bucket shape), never a pairwise scan."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.winnow_pairs(docs, min_shared=3)


WINNOW_PAIRS_SQL = f"""
WITH {_WORDS_CTE}, {_WINNOW_SEL_CTE},
e AS (SELECT doc_id, unnest(selected) AS h FROM sel)
SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 3
"""


def dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components (doc_id, group_id)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.shingle_jaccard_pairs(docs, threshold=0.5)
    return dd.dup_groups(pairs)


# transitive closure via recursive CTE over the same pair set; the
# component label is the min reachable doc id — identical contract
DEDUP_GROUPS_SQL = f"""
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
)
SELECT id AS doc_id, min(r) AS group_id
FROM reach GROUP BY id
"""


def lsh_band_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, band, key) sign-LSH band table — the model table of
    ``dedup_embedding_pairs_lsh`` and ``ann_lsh_topk``. The band width
    derives from the row count in the parquet footers, so building it
    runs no Spark job."""
    return dd.embedding_band_keys(
        load_table(spark, sf_dir, "embeddings"),
        corpus_size=table_rows(sf_dir, "embeddings"))


def dedup_embedding_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-pruned semantic near-dups, join+verify under a full hash
    oracle: ``dd.embedding_dup_pairs_lsh(emb, threshold=0.45)`` itself.
    Its in-plan (id, band, key) band table is ``lsh_band_model``'s,
    which is the committed artifact, and DuckDB recomputes the
    candidate equi-join PLUS the exact-cosine verify from it and the
    raw embeddings view — so everything downstream of the
    (pytest-pinned, numpy-computed) banding is value-checked. Recall
    vs the exact operator stays pinned in tests."""
    return dd.embedding_dup_pairs_lsh(
        load_table(spark, sf_dir, "embeddings"), threshold=0.45,
        corpus_size=table_rows(sf_dir, "embeddings"))


LSH_PAIRS_SQL = f"""
WITH {_sig_artifacts.frame_cte('kb', 'dedup_embedding_pairs_lsh')},
cand AS (
  SELECT DISTINCT a.id AS a_id, b.id AS b_id
  FROM kb a JOIN kb b
    ON a.band = b.band AND a."key" = b."key" AND a.id < b.id
)
SELECT c.a_id, c.b_id,
       round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                    eb.embedding::DOUBLE[]), 4) AS cos
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.a_id
JOIN embeddings eb ON eb.vec_id = c.b_id
WHERE list_cosine_similarity(ea.embedding::DOUBLE[],
                             eb.embedding::DOUBLE[]) >= 0.45
"""


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact ANN baseline: 5 nearest for query vecs 0-9."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    return sim.cosine_topk(emb, queries, k=5)


ANN_COSINE_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(CASE WHEN sqrt(list_dot_product(q.q_vec::DOUBLE[], q.q_vec::DOUBLE[])) > 0
                     AND sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) > 0
               THEN list_dot_product(q.q_vec::DOUBLE[], e.embedding::DOUBLE[])
                    / (sqrt(list_dot_product(q.q_vec::DOUBLE[], q.q_vec::DOUBLE[]))
                       * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
               ELSE 0.0 END, 6) AS cos
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
       cos
FROM scored
QUALIFY rank <= 5
"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate ANN with the probe+rerank under a
    full hash oracle: the corpus band table (``lsh_band_model``,
    identical construction to ``sim.lsh_topk``'s — same planes, same
    derived width) is the committed artifact; query rows (vec_id <
    10) probe its buckets, and the exact-cosine re-rank runs on
    candidates only. DuckDB recomputes probe, join, cosine and
    ranking from the same artifact + the raw embeddings view; the
    banding itself stays pytest-pinned (recall vs exact top-k).
    Output matches ``sim.lsh_topk(emb, queries, k=5)``."""
    emb = load_table(spark, sf_dir, "embeddings")
    kb = lsh_band_model(spark, sf_dir)
    qb = (kb.filter(F.col("id") < 10)
          .select(F.col("id").alias("query_id"), "band", "key"))
    return sim.shortlist_rerank(sim.lsh_probe(kb, qb), emb, emb, k=5,
                                query_id_col="vec_id")


_GUARDED_COS_6 = """round(CASE WHEN sqrt(list_dot_product(eq.embedding::DOUBLE[], eq.embedding::DOUBLE[])) > 0
                     AND sqrt(list_dot_product(en.embedding::DOUBLE[], en.embedding::DOUBLE[])) > 0
               THEN list_dot_product(eq.embedding::DOUBLE[], en.embedding::DOUBLE[])
                    / (sqrt(list_dot_product(eq.embedding::DOUBLE[], eq.embedding::DOUBLE[]))
                       * sqrt(list_dot_product(en.embedding::DOUBLE[], en.embedding::DOUBLE[])))
               ELSE 0.0 END, 6)"""


ANN_LSH_SQL = f"""
WITH {_sig_artifacts.frame_cte('kb', 'ann_lsh_topk')},
cand AS (
  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
  FROM kb q JOIN kb c
    ON q.band = c.band AND q."key" = c."key"
   AND q.id < 10 AND c.id <> q.id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id, {_GUARDED_COS_6} AS cos
  FROM cand
  JOIN embeddings eq ON eq.vec_id = cand.query_id
  JOIN embeddings en ON en.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
       cos
FROM scored
QUALIFY rank <= 5
"""


def _ann_queries(emb: DataFrame) -> DataFrame:
    """The ANN probe batch: vec_ids 0-9 as (query_id, embedding)."""
    return (emb.filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("query_id"), "embedding"))


def ivf_topk_model(spark: SparkSession,
                   sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """``ann_ivf_topk``'s two model tables: the (id, list_id)
    assignment and the (query_id, list_id) probe routing."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cent = sim.ivf_build(emb, n_lists=16, kmeans_iters=2)
    return (assigned.select(F.col("neighbor_id").alias("id"), "list_id"),
            sim.ivf_route(_ann_queries(emb), cent))


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF centroid-routed approximate ANN with the rerank under a
    full hash oracle: the two model tables (``ivf_topk_model``) — the
    (id, list_id) assignment and the (query_id, list_id) probe
    routing, both products of the numpy k-means/argmax steps that SQL
    can't replicate — are committed artifacts, and DuckDB recomputes
    the probed-list join, exact cosine and top-k ranking from those
    artifacts + the raw embeddings view. Recall vs brute force stays
    pytest-pinned. Output matches ``sim.ivf_topk(emb, queries, k=5)``
    (same build parameters)."""
    emb = load_table(spark, sf_dir, "embeddings")
    asn, routed = ivf_topk_model(spark, sf_dir)
    assigned_vecs = (asn
                     .join(emb.select(F.col("vec_id").alias("id"),
                                      F.col("embedding").alias("c_vec")),
                           "id")
                     .select(F.col("id").alias("neighbor_id"), "c_vec",
                             "list_id"))
    return sim.ivf_rerank(assigned_vecs, routed, _ann_queries(emb), k=5)


ANN_IVF_SQL = f"""
WITH {_sig_artifacts.frame_cte('asn', 'ann_ivf_topk_assign')},
{_sig_artifacts.frame_cte('routed', 'ann_ivf_topk_routed')},
cand AS (
  SELECT r.query_id, a.id AS neighbor_id
  FROM routed r JOIN asn a USING (list_id)
  WHERE a.id <> r.query_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id, {_GUARDED_COS_6} AS cos
  FROM cand
  JOIN embeddings eq ON eq.vec_id = cand.query_id
  JOIN embeddings en ON en.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
       cos
FROM scored
QUALIFY rank <= 5
"""


def pq_shortlist_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_pq_topk``'s ADC shortlist."""
    from mapreducewordcount_spark.operators.pq import pq_shortlist

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_shortlist(emb, _ann_queries(emb))


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 8×16 codebooks, ADC prefilter, exact
    cosine re-rank (recall measured in tests; 32× vector compression
    is the 100 TB memory story — see operators/pq.py). The ADC
    shortlist (``pq_shortlist_model``) — the float-sum model stage SQL
    can't replicate bit-for-bit — is the committed artifact and
    DuckDB recomputes the exact rerank + ranking from it. Output
    matches ``pq_topk(emb, queries, k=5)``."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.shortlist_rerank(pq_shortlist_model(spark, sf_dir), emb,
                                _ann_queries(emb), k=5)


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed ANN — the realistic 100 TB serving shape
    (FAISS IndexIVFPQ): the coarse quantizer routes each query to
    ``n_probe`` inverted lists (pruning the corpus scan ~n_lists/
    n_probe-fold), PQ-ADC scores ONLY the routed candidates from
    8-byte codes (32× memory) encoding the RESIDUAL
    ``vector − centroid[list]`` (VERDICT r10 next#7 — the full
    IndexIVFPQ recipe; ``operators/pq.ivfpq_shortlist``), and exact
    cosine re-ranks the ADC shortlist. The shortlist
    (``ivfpq_shortlist_model``) — downstream of all three float model
    stages SQL can't replicate — is the committed artifact; DuckDB
    recomputes the exact rerank + ranking from it (the ann_pq_topk
    recipe). Residual recall ≥ raw-encoding recall is pytest-pinned
    alongside the single-stage variants."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.shortlist_rerank(ivfpq_shortlist_model(spark, sf_dir), emb,
                                _ann_queries(emb), k=5)


def ivfpq_shortlist_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_ivfpq_topk``'s residual IVF+PQ ADC shortlist."""
    from mapreducewordcount_spark.operators.pq import ivfpq_shortlist

    emb = load_table(spark, sf_dir, "embeddings")
    queries = _ann_queries(emb)
    assigned, cent = sim.ivf_build(emb, n_lists=16, kmeans_iters=2)
    routed = sim.ivf_route(queries, cent, n_probe=4)
    return ivfpq_shortlist(assigned, cent, queries, routed, refine=32)


#: the committed recall sweep: n_lists=16, so 16 probes IS the
#: exhaustive scan — the curve's right edge is PQ-only error
IVFPQ_PROBES = (1, 2, 4, 8, 16)


def ivfpq_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5-vs-``n_probe`` curve for residual IVF+PQ (VERDICT r11
    next#7): the serving trade-off — how many inverted lists a query
    must probe to reach a given recall — as a committed lookup table
    instead of a rerun. One row per ``IVFPQ_PROBES`` value:
    ``hits_at_5`` (approx∩exact over the top-5s) and ``recall_at_5``
    against the exact cosine scan. The routed candidate sets are
    nested, but the ``refine=32`` ADC cutoff means recall is NOT
    structurally monotone in n_probe — a larger pool can evict a
    true neighbor from the ADC top-32 (ADVICE r12). The pinned test
    asserts monotonicity only as an EMPIRICAL property of this
    hash-seeded corpus (the exact pinned values are the regression
    check); the SCALE.md table is this query's output.

    Plan shape (single-pass sweep, VERDICT r12 next#4): the index is
    built ONCE (``ivf_build`` + residual ``ivfpq_build``), routing
    runs ONCE at ``max(IVFPQ_PROBES)`` with ``route_rank`` kept, and
    ADC scores each candidate ONCE — every smaller level is derived
    as the ``route_rank <= p`` prefix with its per-level ADC cutoff
    reproduced by a shared-window running count
    (``operators/pq.ivfpq_shortlist_sweep``), bitwise-identical to
    the per-level calls it replaced at ~half the scoring work. The
    (n_probe-tagged) shortlist union (``ivfpq_recall_model``) —
    downstream of the three float model stages SQL can't replicate —
    is the committed artifact; DuckDB recomputes BOTH reranks (approx
    per level, exact from raw embeddings) and the recall arithmetic
    from it."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _ann_queries(emb)
    sl_all = ivfpq_recall_model(spark, sf_dir)

    q = queries.select("query_id", F.col("embedding").alias("q_vec"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("c_vec"))
    wa = (Window.partitionBy("n_probe", "query_id")
          .orderBy(F.col("cos").desc(), F.col("neighbor_id")))
    approx = (sl_all.join(F.broadcast(q), "query_id")
              .join(c, "neighbor_id")
              .withColumn("cos", F.round(cosine("q_vec", "c_vec"), 6))
              .withColumn("__r", F.row_number().over(wa))
              .filter(F.col("__r") <= 5)
              .select("n_probe", "query_id", "neighbor_id"))
    exact = (sim.cosine_topk(emb, queries, k=5)
             .select("query_id", "neighbor_id"))
    hits = (approx.join(exact, ["query_id", "neighbor_id"])
            .groupBy("n_probe")
            .agg(F.count(F.lit(1)).alias("__hits")))
    probes = spark.createDataFrame([(p,) for p in IVFPQ_PROBES],
                                   "n_probe int")
    totals = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    return (probes.join(hits, "n_probe", "left")
            .crossJoin(F.broadcast(totals))
            .select("n_probe", "n_queries",
                    F.coalesce("__hits", F.lit(0)).cast("long")
                    .alias("hits_at_5"),
                    F.round(F.coalesce("__hits", F.lit(0))
                            / (F.lit(5.0) * F.col("n_queries")), 4)
                    .alias("recall_at_5")))


def ivfpq_recall_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ivfpq_recall_curve``'s n_probe-tagged shortlist union."""
    from mapreducewordcount_spark.operators import pq

    emb = load_table(spark, sf_dir, "embeddings")
    queries = _ann_queries(emb)
    assigned, cent = sim.ivf_build(emb, n_lists=16, kmeans_iters=2)
    prebuilt = pq.ivfpq_build(assigned, cent)
    routed = sim.ivf_route(queries, cent, n_probe=max(IVFPQ_PROBES),
                           with_rank=True)
    return pq.ivfpq_shortlist_sweep(assigned, cent, queries, routed,
                                    IVFPQ_PROBES, refine=32,
                                    prebuilt=prebuilt)


#: vec_id % MOD == MOD−1 is the "new batch" in the append scenario
#: (~20% of the corpus) — integer arithmetic both engines share
IVFPQ_APPEND_MOD = 5

#: drift ratio at/above which the report flags a re-train: the new
#: batch's mean squared residual is ≥ 1.5× the base corpus's in that
#: list, i.e. the frozen centroids are describing the new data ~50%
#: worse than the data they were trained on
IVFPQ_RETRAIN_DRIFT = 1.5


def ivfpq_append_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ivfpq_append_report``'s per-vector table: (vec_id, list_id,
    is_new, µ-scaled integer residual norm) after building the index
    on the base corpus and appending the new batch."""
    from mapreducewordcount_spark.operators import pq

    emb = load_table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % IVFPQ_APPEND_MOD == IVFPQ_APPEND_MOD - 1
    base, batch = emb.filter(~is_new), emb.filter(is_new)
    assigned_base, cent = sim.ivf_build(base, n_lists=16,
                                        kmeans_iters=2)
    _codes_base, books = pq.ivfpq_build(assigned_base, cent)
    assigned_new, _codes_new = pq.ivfpq_append(batch, cent, books)

    def res2_rows(assigned: DataFrame, flag: bool) -> DataFrame:
        # the SHARED µ-scaled integer residual norm (pq.res2_micro —
        # one definition with the streaming maintenance loop). Float
        # arithmetic stays ENGINE-side (the artifact pins it);
        # everything downstream aggregates exact integers.
        return (pq.ivfpq_residuals(assigned, cent)
                .select(F.col("neighbor_id").alias("vec_id"),
                        "list_id", F.lit(flag).alias("is_new"),
                        pq.res2_micro("res").alias("res2_u")))

    return (res2_rows(assigned_base, False)
            .unionByName(res2_rows(assigned_new, True)))


def ivfpq_append_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN maintenance report (VERDICT r12 next#5): the
    scenario is an index BUILT on the base corpus (vec_id % 5 ≠ 4 —
    centroids and PQ codebooks trained before the batch existed),
    then a new batch (vec_id % 5 = 4) appended via
    ``operators/pq.ivfpq_append`` — assigned to the frozen coarse
    quantizer and residual-encoded against the frozen codebooks, no
    re-train, no touch of the stored codes. Composed-index
    correctness (append ∪ stored ≡ from-scratch encode with the same
    artifacts) is pytest-pinned per-row; THIS query is the
    capacity/staleness view the consumer watches: per inverted list,
    how many base vs appended vectors it holds and how much worse
    the frozen centroid describes the new data.

    Output (one row per list): n_base, n_new, mean squared residual
    norm of each side (6dp), ``drift_ratio`` = new/base mean (4dp),
    and ``retrain`` — true when drift ≥ 1.5, the signal that the
    coarse quantizer has gone stale for incoming data. At 100 TB the
    same report is a ~n_lists-row aggregate over the assignment
    table the append path writes anyway.

    Oracle: the model stages (k-means, float residual norms) are not
    SQL-replicable, so the per-vector table (vec_id, list_id,
    is_new, µ-scaled integer residual norm) is the committed
    artifact (``ivfpq_append_model``); BOTH engines compute the
    report — integer sums, then the identical round()-of-double-
    division expressions — from that table."""
    agg = (ivfpq_append_model(spark, sf_dir).groupBy("list_id")
           .agg(F.sum(F.when(~F.col("is_new"), 1).otherwise(0))
                .cast("long").alias("n_base"),
                F.sum(F.when(F.col("is_new"), 1).otherwise(0))
                .cast("long").alias("n_new"),
                F.sum(F.when(~F.col("is_new"), F.col("res2_u"))
                      .otherwise(0)).alias("s_base"),
                F.sum(F.when(F.col("is_new"), F.col("res2_u"))
                      .otherwise(0)).alias("s_new")))
    mean_base = (F.col("s_base") / F.nullif(F.col("n_base"), F.lit(0))
                 / F.lit(1e6))
    mean_new = (F.col("s_new") / F.nullif(F.col("n_new"), F.lit(0))
                / F.lit(1e6))
    drift = F.round(mean_new / mean_base, 4)
    return (agg.select(F.col("list_id").cast("long"),
                       "n_base", "n_new",
                       F.round(mean_base, 6).alias("mean_res2_base"),
                       F.round(mean_new, 6).alias("mean_res2_new"),
                       drift.alias("drift_ratio"),
                       F.coalesce(drift >= IVFPQ_RETRAIN_DRIFT,
                                  F.lit(False)).alias("retrain"))
            .orderBy("list_id"))


IVFPQ_APPEND_SQL = f"""
WITH {_sig_artifacts.frame_cte('a', 'ivfpq_append_assign')},
agg AS (
  SELECT list_id,
         CAST(sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT)
           AS n_base,
         CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
         sum(CASE WHEN NOT is_new THEN res2_u ELSE 0 END) AS s_base,
         sum(CASE WHEN is_new THEN res2_u ELSE 0 END) AS s_new
  FROM a GROUP BY list_id
)
SELECT CAST(list_id AS BIGINT) AS list_id, n_base, n_new,
       round(s_base / nullif(n_base, 0) / 1000000.0, 6)
         AS mean_res2_base,
       round(s_new / nullif(n_new, 0) / 1000000.0, 6)
         AS mean_res2_new,
       round((s_new / nullif(n_new, 0) / 1000000.0)
             / (s_base / nullif(n_base, 0) / 1000000.0), 4)
         AS drift_ratio,
       coalesce(round((s_new / nullif(n_new, 0) / 1000000.0)
                      / (s_base / nullif(n_base, 0) / 1000000.0), 4)
                >= {IVFPQ_RETRAIN_DRIFT}, FALSE) AS retrain
FROM agg
ORDER BY list_id
"""


IVFPQ_RECALL_SQL = f"""
WITH {_sig_artifacts.frame_cte('sl', 'ivfpq_recall_shortlists')},
scored AS (
  SELECT sl.n_probe, sl.query_id, sl.neighbor_id,
         {_GUARDED_COS_6} AS cos
  FROM sl
  JOIN embeddings eq ON eq.vec_id = sl.query_id
  JOIN embeddings en ON en.vec_id = sl.neighbor_id
),
approx AS (
  SELECT n_probe, query_id, neighbor_id
  FROM (SELECT *, row_number() OVER (
          PARTITION BY n_probe, query_id
          ORDER BY cos DESC, neighbor_id) AS rn
        FROM scored)
  WHERE rn <= 5
),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings
      WHERE vec_id < 10),
ex_scored AS (
  SELECT eq.query_id, en.vec_id AS neighbor_id,
         {_GUARDED_COS_6} AS cos
  FROM q eq JOIN embeddings en ON en.vec_id <> eq.query_id
),
exact AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id
          ORDER BY cos DESC, neighbor_id) AS rn
        FROM ex_scored)
  WHERE rn <= 5
),
probes AS (SELECT unnest({list(IVFPQ_PROBES)}) AS n_probe),
hits AS (
  SELECT a.n_probe, count(*) AS c
  FROM approx a JOIN exact e
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY 1
),
nq AS (SELECT count(*) AS n FROM q)
SELECT CAST(p.n_probe AS INT) AS n_probe,
       CAST(nq.n AS BIGINT) AS n_queries,
       CAST(coalesce(h.c, 0) AS BIGINT) AS hits_at_5,
       round(coalesce(h.c, 0) / (5.0 * nq.n), 4) AS recall_at_5
FROM probes p
LEFT JOIN hits h ON h.n_probe = p.n_probe
CROSS JOIN nq
"""


ANN_IVFPQ_SQL = f"""
WITH {_sig_artifacts.frame_cte('sl', 'ann_ivfpq_topk_shortlist')},
scored AS (
  SELECT sl.query_id, sl.neighbor_id, {_GUARDED_COS_6} AS cos
  FROM sl
  JOIN embeddings eq ON eq.vec_id = sl.query_id
  JOIN embeddings en ON en.vec_id = sl.neighbor_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
       cos
FROM scored
QUALIFY rank <= 5
"""


ANN_PQ_SQL = f"""
WITH {_sig_artifacts.frame_cte('sl', 'ann_pq_topk_shortlist')},
scored AS (
  SELECT sl.query_id, sl.neighbor_id, {_GUARDED_COS_6} AS cos
  FROM sl
  JOIN embeddings eq ON eq.vec_id = sl.query_id
  JOIN embeddings en ON en.vec_id = sl.neighbor_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
       cos
FROM scored
QUALIFY rank <= 5
"""


# ann_lsh_topk / ann_ivf_topk lead: they were the registry tail in
# round 1 and never reached the driver gate (see queries/__init__.py).
QUERIES = {
    "ann_lsh_topk": QuerySpec(ann_lsh_topk, ANN_LSH_SQL),
    "ann_ivf_topk": QuerySpec(ann_ivf_topk, ANN_IVF_SQL),
    "ann_pq_topk": QuerySpec(ann_pq_topk, ANN_PQ_SQL),
    "ann_ivfpq_topk": QuerySpec(ann_ivfpq_topk, ANN_IVFPQ_SQL),
    "ivfpq_recall_curve": QuerySpec(ivfpq_recall_curve,
                                    IVFPQ_RECALL_SQL),
    "ivfpq_append_report": QuerySpec(ivfpq_append_report,
                                     IVFPQ_APPEND_SQL),
    "ann_cosine_topk": QuerySpec(ann_cosine_topk, ANN_COSINE_SQL),
    "dedup_exact": QuerySpec(dedup_exact, DEDUP_EXACT_SQL),
    "dedup_ngram_pairs": QuerySpec(dedup_ngram_pairs, DEDUP_PAIRS_SQL),
    "dedup_prefix_pairs": QuerySpec(dedup_ngram_pairs, DEDUP_PAIRS_SQL),
    "dedup_minhash_pairs": QuerySpec(dedup_minhash_pairs, DEDUP_PAIRS_SQL),
    "dedup_simhash_pairs": QuerySpec(
        dedup_simhash_pairs,
        _sig_artifacts.clique_pairs_sql("dedup_simhash_pairs", 3)),
    "dedup_groups": QuerySpec(dedup_groups, DEDUP_GROUPS_SQL),
    "doc_winnow_fingerprints": QuerySpec(doc_winnow_fingerprints,
                                         DOC_WINNOW_SQL),
    "dedup_winnow_pairs": QuerySpec(dedup_winnow_pairs, WINNOW_PAIRS_SQL),
    "dedup_embedding_pairs": QuerySpec(dedup_embedding_pairs, DEDUP_EMBEDDING_SQL),
    "dedup_embedding_pairs_lsh": QuerySpec(dedup_embedding_pairs_lsh,
                                           LSH_PAIRS_SQL),
}
