"""Product quantization (PQ) for embedding ANN — the memory-scale path.

At 100 TB of embeddings the limiting resource is bytes per vector:
a 64-dim float32 vector is 256 B; PQ with m=8 subspaces × 256
centroids stores 8 B — a 32× compression that turns a cluster-sized
corpus into a per-executor-cache-sized one. This is the standard
trade (public method: Jégou et al. 2011, *Product Quantization for
Nearest Neighbor Search*; the FAISS IndexPQ design):

- **Train** (write-time, once): k-means per subspace on a BOUNDED
  deterministic corpus sample, driver-side — exactly how FAISS
  trains (sampled, central). The sample is the n_train smallest ids
  by ``xxhash64`` (stable across runs/retries); the collect is
  bounded by construction, not a data-path collect.
- **Encode** (write-time, once): every vector → m uint8 codes via a
  vectorized Arrow batch pass (numpy argmin over the codebook —
  the classic case where a Pandas UDF beats a 128-term codegen
  expression). Map-side, zero shuffle.
- **Query** (read-time): ADC — per query, an m×k lookup table of
  subspace distances is computed driver-side (tiny), broadcast via
  closure, and each encoded vector scores as m table lookups. The
  ADC pass prefilters to ``refine`` candidates per query; exact
  cosine re-ranks only those, so the output contract matches
  ``cosine_topk`` (query_id, neighbor_id, rank, cos).

Approximate by design; recall vs the exact scan is pinned in tests
like LSH/IVF. Since round 6 the gate row is a FULL hash oracle via
the artifact scheme: the ADC shortlist (the float-sum model stage
SQL can't replicate bit-for-bit) is committed, and DuckDB
recomputes the exact-cosine rerank + ranking from it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreducewordcount_spark.operators.similarity import shortlist_rerank


def _train_codebooks(samples, m: int, k: int, iters: int, seed: int = 13):
    """Driver-side per-subspace Lloyd k-means on the sampled vectors.

    numpy is vectorized and the sample is bounded (n_train rows), so
    this is milliseconds — the same central training FAISS does.
    Deterministic: seeded shuffle-free init (first k distinct sample
    rows per subspace), argmin ties to the lowest index.
    """
    import numpy as np

    x = np.asarray(samples, dtype=np.float64)
    n, dim = x.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    books = []
    for j in range(m):
        sub = x[:, j * d:(j + 1) * d]
        # init: k distinct-ish rows in hash-sample order
        cent = sub[:k].copy()
        if len(cent) < k:  # degenerate tiny corpus: pad by repetition
            reps = -(-k // max(len(cent), 1))
            cent = np.tile(cent, (reps, 1))[:k]
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(axis=0)
        books.append(cent.tolist())
    return books


def pq_build(corpus: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding", m: int = 8, k: int = 16,
             n_train: int = 1024, kmeans_iters: int = 3
             ) -> tuple[DataFrame, list]:
    """→ (codes, codebooks): per-vector uint8 code arrays + the
    m×k×(dim/m) codebook (plain Python lists — the model artifact).

    ``codes`` carries (id, codes array<int>); persist it partitioned
    however the serving layer wants — it is ~m bytes/vector.
    """
    sample = [r[0] for r in
              (corpus.orderBy(F.xxhash64(F.col(id_col).cast("string")),
                              id_col)
               .limit(n_train)
               .select(vec_col)
               .collect())]
    books = _train_codebooks(sample, m, k, kmeans_iters)
    return pq_encode(corpus, books, id_col=id_col,
                     vec_col=vec_col), books


def pq_encode(corpus: DataFrame, books: list, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode a corpus against EXISTING codebooks — the append half
    of ``pq_build`` (VERDICT r12 next#5). Per-vector subspace argmin
    over the broadcast-in-closure codebooks: zero shuffle, and a
    row's code depends only on that row + the model artifact, so
    encoding a new batch separately and unioning equals re-encoding
    the whole corpus with the same books (pytest-pinned)."""
    def encode(batches):
        import numpy as np
        import pandas as pd

        cents = [np.asarray(b, dtype=np.float64) for b in books]
        d = cents[0].shape[1]
        for pdf in batches:
            vecs = np.asarray(list(pdf["__vec"]), dtype=np.float64)
            out = np.empty((len(vecs), len(cents)), dtype=np.int32)
            for j, cent in enumerate(cents):
                sub = vecs[:, j * d:(j + 1) * d]
                d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                out[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({"neighbor_id": pdf["__id"],
                                "codes": list(out)})

    return (corpus
            .select(F.col(id_col).alias("__id"),
                    F.col(vec_col).alias("__vec"))
            .mapInPandas(encode, schema="neighbor_id long, codes array<int>"))


def _adc_tables_df(queries: DataFrame, books: list,
                   query_id_col: str, vec_col: str,
                   passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Distributed ADC-table build: (query_id, flattened m·k table).

    Only the CODEBOOKS ride the closure (m×k×(dim/m) doubles — a few
    KB regardless of batch size); each query row computes its own
    subspace-distance table map-side, so the build scales to any
    query-batch size with zero shuffle and no driver collect.
    ``passthrough`` names extra LONG columns carried verbatim onto
    the output (the residual IVF+PQ path keys its per-(query, list)
    tables on ``list_id``)."""
    def build(batches):
        import numpy as np
        import pandas as pd

        cents = [np.asarray(b, dtype=np.float64) for b in books]
        d = cents[0].shape[1]
        for pdf in batches:
            vecs = np.asarray(list(pdf["__vec"]), dtype=np.float64)
            tabs = [((vecs[:, j * d:(j + 1) * d][:, None, :]
                      - cent[None, :, :]) ** 2).sum(axis=2)
                    for j, cent in enumerate(cents)]  # each rows×k
            out = {"query_id": pdf["__id"],
                   "adc_tab": list(np.concatenate(tabs, axis=1))}
            for c in passthrough:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    schema = ("query_id long, adc_tab array<double>"
              + "".join(f", {c} long" for c in passthrough))
    return (queries
            .select(F.col(query_id_col).alias("__id"),
                    F.col(vec_col).alias("__vec"),
                    *[F.col(c) for c in passthrough])
            .mapInPandas(build, schema=schema))


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
            id_col: str = "vec_id", vec_col: str = "embedding",
            query_id_col: str = "query_id", m: int = 8, n_cent: int = 16,
            refine: int = 32) -> DataFrame:
    """One-shot PQ ANN: ``pq_shortlist`` (build + ADC prefilter) +
    ``similarity.shortlist_rerank`` (exact cosine re-rank) — split so
    the gate query can materialize the shortlist as an oracle artifact.

    Anything serving repeated query batches should ``pq_build`` once,
    persist the codes, and run only the ADC+refine read path. The ADC
    pass touches codes only (m ints/vector); the exact re-rank joins
    back the ``refine`` surviving candidate vectors per query.
    """
    cand = pq_shortlist(corpus, queries, id_col, vec_col, query_id_col,
                        m, n_cent, refine)
    return shortlist_rerank(cand, corpus, queries, k, id_col, vec_col,
                            query_id_col)


def pq_shortlist(corpus: DataFrame, queries: DataFrame,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 query_id_col: str = "query_id", m: int = 8,
                 n_cent: int = 16, refine: int = 32,
                 candidates: DataFrame | None = None) -> DataFrame:
    """(query_id, neighbor_id) ADC shortlist — the ``refine``
    lowest-ADC candidates per query (ties on neighbor_id). The model
    half of PQ ANN: everything here rides the trained codebooks and
    the float ADC sums, which SQL can't replicate bit-for-bit; the
    gate commits this table and the oracle recomputes the exact
    rerank downstream of it.

    The query batch is collected and its per-query ADC tables are
    computed driver-side; they ship inside the ``mapInPandas``
    closure and every code row is scored against every query with
    numpy lookups. The closure (Q × m × n_cent doubles) is
    re-serialized per task, which suits the bounded batches the
    registry sends (10 queries).

    ``candidates`` (optional frame naming the query under
    ``query_id_col`` (or canonical ``query_id``) and the corpus
    vector under ``id_col`` (or canonical ``neighbor_id``)) restricts
    the ADC scan to those pairs — the IVF+PQ composition seam: a
    coarse quantizer prunes the corpus per query BEFORE any ADC work,
    turning the inherent O(N×Q) scan into O(routed×Q). Scoring then
    rides two equi-joins (codes on neighbor_id, ADC tables built
    map-side by ``_adc_tables_df`` on query_id) and the codegen
    lookup fold ``_adc_fold``. The tables join carries no forced
    broadcast hint (ADVICE r10): AQE broadcasts it while the query
    batch fits and degrades to a shuffle join — not a job abort — at
    the ~1 GB/1M-query scale."""
    codes, books = pq_build(corpus, id_col, vec_col, m=m, k=n_cent)
    if candidates is not None:
        qtab = _adc_tables_df(queries, books, query_id_col, vec_col)
        cand = candidates
        for want, param in (("query_id", query_id_col),
                            ("neighbor_id", id_col)):
            if want not in cand.columns:
                if param not in cand.columns:
                    raise ValueError(
                        f"candidates needs a {want!r} or {param!r} "
                        f"column; has {cand.columns}")
                cand = cand.withColumnRenamed(param, want)
        scored = (cand.select("query_id", "neighbor_id")
                  .join(codes, "neighbor_id")
                  .join(qtab, "query_id")
                  .withColumn("adc", _adc_fold(m, n_cent))
                  .select("query_id", "neighbor_id", "adc"))
    else:
        qrows = queries.select(F.col(query_id_col).alias("query_id"),
                               F.col(vec_col).alias("q_vec")).collect()
        import numpy as np

        cents = [np.asarray(b, dtype=np.float64) for b in books]
        d = cents[0].shape[1]
        # per-query ADC tables: table[q][j][c] = ||q_sub_j - cent_jc||²
        tables = {}
        for r in qrows:
            q = np.asarray(r.q_vec, dtype=np.float64)
            tables[r.query_id] = [
                (((q[j * d:(j + 1) * d])[None, :] - cents[j]) ** 2).sum(axis=1)
                for j in range(len(cents))]

        def adc(batches):
            import numpy as np
            import pandas as pd

            qids = list(tables)
            tabs = {qid: np.stack(tables[qid]) for qid in qids}  # m×k
            for pdf in batches:
                code_mat = np.stack(pdf["codes"].to_list())  # rows×m
                rows_idx = np.arange(code_mat.shape[1])
                out_q, out_n, out_d = [], [], []
                for qid in qids:
                    dist = tabs[qid][rows_idx, code_mat].sum(axis=1)
                    out_q.extend([qid] * len(dist))
                    out_n.extend(pdf["neighbor_id"])
                    out_d.extend(dist)
                yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n,
                                    "adc": out_d})

        scored = codes.mapInPandas(
            adc, schema="query_id long, neighbor_id long, adc double")

    wa = (Window.partitionBy("query_id")
          .orderBy(F.col("adc"), F.col("neighbor_id")))
    return (scored
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("__r", F.row_number().over(wa))
            .filter(F.col("__r") <= refine)
            .select("query_id", "neighbor_id"))


def _adc_fold(m: int, n_cent: int):
    """The codegen ADC lookup fold: sum over subspaces of
    ``adc_tab[j·n_cent + codes[j]]``."""
    return F.aggregate(
        F.zip_with("codes", F.sequence(F.lit(0), F.lit(m - 1)),
                   lambda c, j: F.element_at(
                       F.col("adc_tab"),
                       (j * n_cent + c + 1).cast("int"))),
        F.lit(0.0), lambda acc, x: acc + x)


def ivfpq_build(assigned: DataFrame, centroids: DataFrame,
                m: int = 8, n_cent: int = 16) -> tuple[DataFrame, list]:
    """Write-time half of residual IVF+PQ: residual-encode the
    assigned corpus (``vector − centroid[list]`` via a broadcast
    join + codegen ``zip_with`` subtract, map-side) and train/encode
    the PQ codebooks on the residuals. → (codes, books), exactly
    ``pq_build``'s contract. Split out of :func:`ivfpq_shortlist` so
    a caller serving MANY query batches — or sweeping ``n_probe``
    for a recall curve — trains and encodes ONCE; the per-batch read
    path is routing + ADC only, which is the real serving shape
    (FAISS builds the index once too)."""
    return pq_build(ivfpq_residuals(assigned, centroids),
                    id_col="neighbor_id", vec_col="res",
                    m=m, k=n_cent)


def ivfpq_residuals(assigned: DataFrame,
                    centroids: DataFrame) -> DataFrame:
    """(neighbor_id, res, list_id): the residual frame ``vector −
    centroid[list]`` — one broadcast join + codegen ``zip_with``
    subtract, map-side, zero shuffle. Shared by the build path
    (:func:`ivfpq_build`), the append path (:func:`ivfpq_append`)
    and the drift report, so all three quantize against the
    identical arithmetic."""
    return (assigned
            .join(F.broadcast(centroids), "list_id")
            .select("neighbor_id",
                    F.zip_with("c_vec", "cent_vec",
                               lambda a, b: a - b).alias("res"),
                    "list_id"))


def res2_micro(res_col: str = "res"):
    """µ-scaled integer squared residual norm:
    ``floor(‖res‖² · 1e6)`` as a LONG column — the drift statistic
    shared by the batch report
    (``queries/dedup_queries.ivfpq_append_report``) and the streaming
    index-maintenance loop, ONE definition so the two sides can't
    drift apart (the ``reservoir_hash`` discipline). Float math stays
    engine-side; every consumer downstream aggregates exact
    integers."""
    return (F.floor(F.aggregate(
        F.transform(res_col, lambda x: x.cast("double") * x),
        F.lit(0.0), lambda acc, x: acc + x) * 1e6).cast("long"))


def ivfpq_append(batch: DataFrame, centroids: DataFrame, books: list,
                 id_col: str = "vec_id", vec_col: str = "embedding"
                 ) -> tuple[DataFrame, DataFrame]:
    """Incremental index maintenance (VERDICT r12 next#5): encode a
    NEW embedding batch against the EXISTING model artifacts —
    coarse centroids and PQ codebooks — with no re-train and no
    touch of the stored codes. → ``(assigned_new, codes_new)``; the
    composed index is ``stored_codes ∪ codes_new`` (and
    ``stored_assigned ∪ assigned_new``).

    Correctness rests on per-row independence: a vector's list
    assignment and residual code depend only on that vector plus the
    model artifacts, never on other rows — so append-then-union is
    bitwise-identical to a from-scratch ``ivf_assign`` +
    ``ivfpq_build``-style encode of the full corpus with the same
    artifacts (pytest-pinned, and the property FAISS's ``add()``
    relies on too). What append CANNOT fix is model staleness: if
    the batch's distribution has moved, its residuals grow and ADC
    quality decays — the per-list residual-norm drift report
    (``queries/dedup_queries.ivfpq_append_report``) is the re-train
    trigger."""
    from mapreducewordcount_spark.operators.similarity import ivf_assign

    assigned_new = ivf_assign(batch, centroids, id_col=id_col,
                              vec_col=vec_col)
    codes_new = pq_encode(ivfpq_residuals(assigned_new, centroids),
                          books, id_col="neighbor_id", vec_col="res")
    return assigned_new, codes_new


def ivfpq_shortlist(assigned: DataFrame, centroids: DataFrame,
                    queries: DataFrame, routed: DataFrame,
                    vec_col: str = "embedding",
                    query_id_col: str = "query_id", m: int = 8,
                    n_cent: int = 16, refine: int = 32,
                    prebuilt: tuple[DataFrame, list] | None = None
                    ) -> DataFrame:
    """RESIDUAL-encoded IVF+PQ shortlist — the full FAISS IndexIVFPQ
    recipe (VERDICT r10 next#7): PQ codes quantize the residual
    ``vector − centroid[list]`` rather than the raw vector. Residuals
    concentrate near the origin once the coarse quantizer has
    absorbed the between-list variance, so the same 8-byte budget
    spends its centroids on a much tighter distribution — the
    accuracy the IVF+PQ shape is known for (Jégou et al. 2011 §IV.B).

    Inputs are the IVF build/route outputs (``operators/similarity``):
    ``assigned`` (neighbor_id, c_vec, list_id), ``centroids``
    (list_id, cent_vec), ``routed`` (query_id, list_id). Plan shape:

    - corpus residuals: one broadcast join on list_id + a codegen
      ``zip_with`` subtract (map-side, zero shuffle), then the
      standard bounded-sample train + Arrow-batch encode;
    - query residuals are PER (query, probe-list) — ``q − c_L`` for
      each routed list — so the ADC tables frame carries
      (query_id, list_id, m·k table), Q × n_probe rows;
    - scoring joins codes on neighbor_id and tables on
      (query_id, list_id): each candidate is ADC-scored against the
      residual table OF ITS OWN LIST (a vector belongs to exactly one
      list, so the pair appears once). No forced broadcast — AQE
      picks it while the routed batch fits.

    Output contract matches ``pq_shortlist``: the ``refine``
    lowest-ADC (query_id, neighbor_id) rows per query, self-pairs
    excluded — feed to ``similarity.shortlist_rerank`` for the
    exact tail.

    ``prebuilt`` takes an :func:`ivfpq_build` result so repeated
    query batches (or an ``n_probe`` sweep) skip the train+encode.
    """
    codes, books = (prebuilt if prebuilt is not None
                    else ivfpq_build(assigned, centroids, m, n_cent))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec"))
    qres = (routed
            .join(F.broadcast(q), "query_id")
            .join(F.broadcast(centroids), "list_id")
            .select("query_id", "list_id",
                    F.zip_with("q_vec", "cent_vec",
                               lambda a, b: a - b).alias("qres")))
    qtab = _adc_tables_df(qres, books, "query_id", "qres",
                          passthrough=("list_id",))
    cand = (routed
            .join(assigned.select("neighbor_id", "list_id"), "list_id")
            .select("query_id", "list_id", "neighbor_id"))
    scored = (cand
              .join(codes, "neighbor_id")
              .join(qtab, ["query_id", "list_id"])
              .withColumn("adc", _adc_fold(m, n_cent))
              .select("query_id", "neighbor_id", "adc"))
    wa = (Window.partitionBy("query_id")
          .orderBy(F.col("adc"), F.col("neighbor_id")))
    return (scored
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("__r", F.row_number().over(wa))
            .filter(F.col("__r") <= refine)
            .select("query_id", "neighbor_id"))


def ivfpq_shortlist_sweep(assigned: DataFrame, centroids: DataFrame,
                          queries: DataFrame, routed_ranked: DataFrame,
                          probes, vec_col: str = "embedding",
                          query_id_col: str = "query_id", m: int = 8,
                          n_cent: int = 16, refine: int = 32,
                          prebuilt: tuple[DataFrame, list] | None = None
                          ) -> DataFrame:
    """Every ``n_probe`` level's :func:`ivfpq_shortlist` in ONE
    routing + ONE ADC pass (VERDICT r12 next#4).

    The per-level candidate sets are nested (``ivf_route`` orders
    lists nearest-first with a stable tie-break, so level ``p`` is
    exactly the ``route_rank <= p`` prefix of the max level), which
    makes the sweep derivable from a single scoring pass:

    - ``routed_ranked`` routes once at ``max(probes)`` WITH the
      ``route_rank`` column (``ivf_route(..., with_rank=True)``);
    - ADC scores each candidate once against its own list's residual
      table — identical arithmetic to the per-level calls;
    - one window per query ordered by ``(adc, neighbor_id)`` carries
      a running count of candidates with ``route_rank <= p`` for
      each level: for a row IN level ``p`` that running count IS its
      ``row_number`` within the level, so ``<= refine`` reproduces
      the per-level ADC cutoff exactly — including the legitimate
      non-monotonicity where a larger pool evicts a true neighbor
      from the top-``refine``. All level counters share one window
      spec, so Catalyst computes them in a single Window operator
      (one shuffle), and only rows that make at least one shortlist
      survive to the explode.

    Output: (n_probe, query_id, neighbor_id) — per level, exactly
    the rows ``ivfpq_shortlist`` at that ``n_probe`` would return
    (equivalence is pytest-pinned). Vs. per-level calls the plan
    drops from ``len(probes)`` route+ADC passes over nested sets
    (~2× the corpus re-scored at the committed 1/2/4/8/16 sweep) to
    one pass over the max level."""
    probe_levels = sorted(set(int(p) for p in probes))
    codes, books = (prebuilt if prebuilt is not None
                    else ivfpq_build(assigned, centroids, m, n_cent))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec"))
    ranked = routed_ranked.select(
        "query_id", "list_id", F.col("route_rank").cast("long"))
    qres = (ranked
            .join(F.broadcast(q), "query_id")
            .join(F.broadcast(centroids), "list_id")
            .select("query_id", "list_id", "route_rank",
                    F.zip_with("q_vec", "cent_vec",
                               lambda a, b: a - b).alias("qres")))
    qtab = _adc_tables_df(qres, books, "query_id", "qres",
                          passthrough=("list_id", "route_rank"))
    cand = (ranked.select("query_id", "list_id")
            .join(assigned.select("neighbor_id", "list_id"), "list_id")
            .select("query_id", "list_id", "neighbor_id"))
    scored = (cand
              .join(codes, "neighbor_id")
              .join(qtab, ["query_id", "list_id"])
              .withColumn("adc", _adc_fold(m, n_cent))
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id", "route_rank", "adc"))
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("adc"), F.col("neighbor_id"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # one select → one Window operator for all level counters (the
    # withColumn form left 5 stacked Window nodes; same single
    # shuffle, but 5 passes over the sorted partition)
    scored = scored.select(
        "*", *[F.sum(F.when(F.col("route_rank") <= p, 1)
                     .otherwise(0)).over(w).alias(f"__rk{p}")
               for p in probe_levels])
    in_levels = F.filter(
        F.array(*[F.when((F.col("route_rank") <= p)
                         & (F.col(f"__rk{p}") <= refine), F.lit(p))
                  for p in probe_levels]),
        lambda x: x.isNotNull())
    return (scored
            .select("query_id", "neighbor_id",
                    F.explode(in_levels).alias("n_probe"))
            .select(F.col("n_probe").cast("int").alias("n_probe"),
                    "query_id", "neighbor_id"))
