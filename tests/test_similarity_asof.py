"""ANN recall + as-of join semantics (constructed ground truth)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mapreducewordcount_spark.operators.asof import asof_join_backward
from mapreducewordcount_spark.operators.similarity import cosine_topk, lsh_topk
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def emb(spark):
    from mapreducewordcount_spark.sources.tables import load_table

    return load_table(spark, SF_ORACLE, "embeddings")


def _queries(emb):
    return (emb.filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("query_id"), "embedding"))


def test_lsh_recall_at_5(spark, emb):
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, _queries(emb), k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in lsh_topk(emb, _queries(emb), k=5).collect()}
    recall = len(exact & approx) / len(exact)
    # r6 OR-banding (64 bands × derived width) on random-ish 64-d
    # data whose true neighbors sit near cos 0.5 — the adversarial
    # regime; measured 0.58 at sf0.01. The contract is "approximate
    # but useful", pinned here
    assert recall >= 0.4, f"LSH recall collapsed: {recall}"


def test_ivf_recall_at_5(spark, emb):
    from mapreducewordcount_spark.operators.similarity import ivf_topk

    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, _queries(emb), k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in ivf_topk(emb, _queries(emb), k=5).collect()}
    recall = len(exact & approx) / len(exact)
    # near-random 64-d vectors are IVF's adversarial case; with
    # n_probe/n_lists = 1/4 of the corpus scanned, recall must beat
    # the random-scan baseline (~0.25) decisively
    assert recall >= 0.4, f"IVF recall collapsed: {recall}"


def test_cosine_topk_excludes_self_and_ranks(spark, emb):
    rows = cosine_topk(emb, _queries(emb), k=5).collect()
    by_q = {}
    for r in rows:
        assert r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, []).append((r.rank, r.cos))
    for q, rs in by_q.items():
        rs.sort()
        assert [r for r, _ in rs] == [1, 2, 3, 4, 5]
        cs = [c for _, c in rs]
        assert cs == sorted(cs, reverse=True)


def _planted(spark):
    """Hand-placed 4-d corpus: ids 2 and 3 are parallel to id 1 (a cos
    tie at exactly 1.0), id 4 sits at 45 degrees, id 5 is the zero
    vector, id 6 is orthogonal to id 1."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [2.0, 0.0, 0.0, 0.0]),
         (3, [3.0, 0.0, 0.0, 0.0]), (4, [1.0, 1.0, 0.0, 0.0]),
         (5, [0.0, 0.0, 0.0, 0.0]), (6, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (10, [0.0, 0.0, 1.0, 0.0]),
         (11, [0.0, 0.0, 0.0, 0.0])],
        "query_id long, embedding array<float>")
    return corpus, queries


def test_shortlist_rerank_ties_zero_norm_and_k(spark):
    """The one exact top-k re-rank: ties on cos break by ascending
    neighbor_id, a zero-norm vector on either side scores exactly 0.0,
    each query keeps at most k rows, and a query with fewer than k
    candidates keeps all of them."""
    from mapreducewordcount_spark.operators.similarity import (
        shortlist_rerank,
    )

    corpus, queries = _planted(spark)
    cand = spark.createDataFrame(
        [(1, 6), (1, 5), (1, 4), (1, 3), (1, 2),  # more than k
         (10, 6), (10, 5),                        # fewer than k
         (11, 2)],                                # zero-norm query
        "query_id long, neighbor_id long")
    got = sorted(tuple(r) for r in
                 shortlist_rerank(cand, corpus, queries, k=3).collect())
    assert got == [
        (1, 2, 1, 1.0), (1, 3, 2, 1.0), (1, 4, 3, 0.707107),
        (10, 5, 1, 0.0), (10, 6, 2, 0.0),
        (11, 2, 1, 0.0)]


def test_lsh_probe_rerank_excludes_self_matches(spark):
    """A query that is also a corpus vector agrees with itself on every
    band; the probe → re-rank path must still never return it as its
    own neighbor."""
    from mapreducewordcount_spark.operators.dedup import embedding_band_keys
    from mapreducewordcount_spark.operators.similarity import (
        lsh_probe,
        shortlist_rerank,
    )

    corpus, queries = _planted(spark)
    kb = embedding_band_keys(corpus, dim=4, n_bands=4, band_width=2)
    qb = (embedding_band_keys(queries, "query_id", dim=4, n_bands=4,
                              band_width=2)
          .select(F.col("id").alias("query_id"), "band", "key"))
    cand = lsh_probe(kb, qb)
    assert cand.filter(F.col("query_id") == 1).count() > 0
    assert cand.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0
    rows = shortlist_rerank(cand, corpus, queries, k=5).collect()
    assert rows and all(r.query_id != r.neighbor_id for r in rows)
    via_op = lsh_topk(corpus, queries, k=5, dim=4, n_bands=4,
                      band_width=2).collect()
    assert sorted(map(tuple, via_op)) == sorted(map(tuple, rows))


def test_asof_backward_semantics(spark):
    TS = dt.datetime
    left = spark.createDataFrame(
        [(1, 10, TS(2024, 1, 5)), (2, 10, TS(2024, 1, 1)),
         (3, 10, TS(2023, 12, 31)), (4, 20, TS(2024, 2, 1))],
        "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(10, TS(2024, 1, 1), 100), (10, TS(2024, 1, 4), 101),
         (20, TS(2024, 3, 1), 102)],
        "user_id long, otime timestamp, oid long")

    got = {r.event_id: r.oid for r in asof_join_backward(
        left, right, left_on="user_id", right_on="user_id",
        left_time="ts", right_time="otime", right_cols=["oid"],
        how="inner").collect()}
    # event 1: latest right <= Jan5 is Jan4 (101); event 2: exactly-at
    # ties are INCLUSIVE (100); event 3: no earlier right row — dropped;
    # event 4: user 20's only order is later — dropped
    assert got == {1: 101, 2: 100}

    left_join = {r.event_id: r.oid for r in asof_join_backward(
        left, right, left_on="user_id", right_on="user_id",
        left_time="ts", right_time="otime", right_cols=["oid"],
        how="left").collect()}
    assert left_join == {1: 101, 2: 100, 3: None, 4: None}


def test_ivf_kmeans_improves_recall(spark, emb):
    """Lloyd rounds must not hurt recall vs the raw sampled
    centroids (on near-random vectors the lift is modest but the
    refined centroids cover the space at least as well), and the
    refined build must stay deterministic across runs."""
    from mapreducewordcount_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, _queries(emb), k=5).collect()}

    def recall(iters):
        approx = {(r.query_id, r.neighbor_id)
                  for r in ivf_topk(emb, _queries(emb), k=5,
                                    kmeans_iters=iters).collect()}
        return len(exact & approx) / len(exact)

    r0, r2 = recall(0), recall(2)
    assert r2 >= r0 - 0.05, f"k-means degraded recall: {r0} -> {r2}"
    assert recall(2) == r2, "k-means build must be deterministic"


def test_ivf_kmeans_empty_list_keeps_centroid(spark):
    """A centroid whose list goes empty after reassignment must
    survive with its previous vector, not vanish (n_lists is part of
    the index contract)."""
    from mapreducewordcount_spark.operators.similarity import ivf_build

    rows = [(i, [float(i % 2)] * 4) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, cent = ivf_build(df, n_lists=4, kmeans_iters=3)
    assert cent.count() == 4
    assert assigned.select("neighbor_id").distinct().count() == 20


def test_pq_recall_at_5(spark, emb):
    from mapreducewordcount_spark.operators.pq import pq_topk

    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, _queries(emb), k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in pq_topk(emb, _queries(emb), k=5).collect()}
    recall = len(exact & approx) / len(exact)
    # ADC keeps the refine=32 best compressed-distance candidates per
    # query before exact re-rank; on near-random 64-d data (PQ's
    # adversarial case) that must decisively beat a random 32/N scan
    assert recall >= 0.4, f"PQ recall collapsed: {recall}"


def test_pq_shortlist_model_construction_runs_two_jobs(spark):
    """Building the registry's PQ shortlist runs exactly two Spark
    jobs before any action: the codebook training-sample collect and
    the query-batch collect that feeds the closure ADC tables."""
    from mapreducewordcount_spark.queries.dedup_queries import (
        pq_shortlist_model,
    )
    from mapreducewordcount_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    load_table(spark, SF_SMOKE, "embeddings")  # ship the package first
    try:
        sc.setJobGroup("pq_shortlist_construct", "pq shortlist build")
        pq_shortlist_model(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(tracker.getJobIdsForGroup("pq_shortlist_construct")) == 2


def test_pq_codes_are_compact_and_deterministic(spark, emb):
    from mapreducewordcount_spark.operators.pq import pq_build

    codes_df, books = pq_build(emb, m=8, k=16)
    rows = {r.neighbor_id: list(r.codes) for r in codes_df.collect()}
    assert len(rows) == emb.count()
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c)
               for c in rows.values())
    # deterministic rebuild: same sample, same training, same codes
    codes2, books2 = pq_build(emb, m=8, k=16)
    assert books == books2
    assert {r.neighbor_id: list(r.codes)
            for r in codes2.collect()} == rows


def test_ivfpq_recall_and_containment(spark, emb):
    """The composed IVF+PQ path: recall must beat the random baseline
    (it scans n_probe/n_lists of the corpus AND compresses to codes —
    the doubly-approximate case), and its shortlist must be contained
    in the IVF routing (PQ only reorders the routed candidates)."""
    from mapreducewordcount_spark.operators import similarity as sim
    from mapreducewordcount_spark.operators.pq import pq_shortlist

    q = _queries(emb)
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, q, k=5).collect()}
    assigned, cent = sim.ivf_build(emb, n_lists=16, kmeans_iters=2)
    routed = sim.ivf_route(q, cent, n_probe=4)
    cand = (routed.join(assigned.select("neighbor_id", "list_id"),
                        "list_id")
            .select("query_id", "neighbor_id"))
    sl = pq_shortlist(emb, q, refine=32, candidates=cand)
    sl_rows = {(r.query_id, r.neighbor_id) for r in sl.collect()}
    cand_rows = {(r.query_id, r.neighbor_id) for r in cand.collect()}
    assert sl_rows <= cand_rows          # containment: IVF prunes first
    approx = {(r.query_id, r.neighbor_id)
              for r in sim.shortlist_rerank(sl, emb, q, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    # doubly approximate: must still decisively beat the random
    # 32/N-scan baseline on near-random 64-d vectors
    assert recall >= 0.3, f"IVF+PQ recall collapsed: {recall}"

    # RESIDUAL encoding (VERDICT r10 next#7 — the gate query's path):
    # same routing, PQ codes quantize vector − centroid[list]. Its
    # shortlist obeys the same containment, and on the planted corpus
    # its recall must be at least the raw-encoding recall (residuals
    # concentrate once the coarse quantizer absorbs between-list
    # variance — the IndexIVFPQ accuracy argument).
    from mapreducewordcount_spark.operators.pq import ivfpq_shortlist

    rsl = ivfpq_shortlist(assigned, cent, q, routed, refine=32)
    rsl_rows = {(r.query_id, r.neighbor_id) for r in rsl.collect()}
    assert rsl_rows <= cand_rows
    r_approx = {(r.query_id, r.neighbor_id)
                for r in sim.shortlist_rerank(rsl, emb, q, k=5).collect()}
    r_recall = len(exact & r_approx) / len(exact)
    assert r_recall >= recall, \
        f"residual encoding regressed recall: {r_recall} < {recall}"


def test_pq_candidates_seam_edge_cases(spark, emb):
    """The IVF+PQ composition seam: an empty candidate frame yields
    an empty shortlist (no crash, no fallback to the full scan), and
    self-pairs are excluded exactly as in the unrestricted path."""
    from pyspark.sql import functions as F

    from mapreducewordcount_spark.operators.pq import pq_shortlist

    q = _queries(emb)
    empty = (emb.select(F.col("vec_id").alias("query_id"),
                        F.col("vec_id").alias("neighbor_id"))
             .filter(F.lit(False)))
    assert pq_shortlist(emb, q, refine=8, candidates=empty).count() == 0

    # self-pairs only -> all excluded
    selfp = q.select("query_id",
                     F.col("query_id").alias("neighbor_id"))
    assert pq_shortlist(emb, q, refine=8, candidates=selfp).count() == 0


def test_ivfpq_append_composes_to_from_scratch_encode(spark, emb):
    """VERDICT r12 next#5: append-then-union must be BITWISE the
    from-scratch index built with the same frozen model artifacts —
    per-row independence of assignment + residual encoding is the
    property FAISS add() relies on, pinned here end-to-end:
    assignments, codes, and a served shortlist all agree."""
    from mapreducewordcount_spark.operators import pq
    from mapreducewordcount_spark.operators import similarity as sim
    from mapreducewordcount_spark.operators.similarity import ivf_assign

    base = emb.filter(F.col("vec_id") % 5 != 4)
    batch = emb.filter(F.col("vec_id") % 5 == 4)
    assert batch.count() > 0 and base.count() > 0

    assigned_base, cent = sim.ivf_build(base, n_lists=16,
                                        kmeans_iters=2)
    codes_base, books = pq.ivfpq_build(assigned_base, cent)
    assigned_new, codes_new = pq.ivfpq_append(batch, cent, books)

    # composed = stored ∪ appended
    comp_assign = {(r.neighbor_id, r.list_id) for r in
                   assigned_base.select("neighbor_id", "list_id")
                   .collect()}
    comp_assign |= {(r.neighbor_id, r.list_id) for r in
                    assigned_new.select("neighbor_id", "list_id")
                    .collect()}
    comp_codes = {r.neighbor_id: tuple(r.codes)
                  for r in codes_base.collect()}
    comp_codes.update({r.neighbor_id: tuple(r.codes)
                       for r in codes_new.collect()})

    # from-scratch: assign + encode the FULL corpus against the SAME
    # frozen artifacts (cent, books)
    scratch_assigned = ivf_assign(emb, cent)
    scratch_codes = pq.pq_encode(
        pq.ivfpq_residuals(scratch_assigned, cent), books,
        id_col="neighbor_id", vec_col="res")
    assert comp_assign == {(r.neighbor_id, r.list_id) for r in
                           scratch_assigned
                           .select("neighbor_id", "list_id").collect()}
    assert comp_codes == {r.neighbor_id: tuple(r.codes)
                          for r in scratch_codes.collect()}

    # and the SERVED path over the composed index equals serving the
    # from-scratch one (same routed shortlist for a query batch)
    q = _queries(emb)
    routed = sim.ivf_route(q, cent, n_probe=4)
    comp_sl = pq.ivfpq_shortlist(
        assigned_base.unionByName(assigned_new), cent, q, routed,
        refine=32,
        prebuilt=(codes_base.unionByName(codes_new), books))
    scratch_sl = pq.ivfpq_shortlist(
        scratch_assigned, cent, q, routed, refine=32,
        prebuilt=(scratch_codes, books))
    assert ({(r.query_id, r.neighbor_id) for r in comp_sl.collect()}
            == {(r.query_id, r.neighbor_id)
                for r in scratch_sl.collect()})


def test_ivfpq_append_drift_report_invariants(spark, emb):
    """The drift report accounts for every vector exactly once
    (Σ n_base + Σ n_new = corpus), base/new splits match the
    vec_id%5 scenario, means are positive, and retrain fires iff the
    rounded drift ratio crosses the committed 1.5 threshold."""
    from mapreducewordcount_spark.queries.dedup_queries import (
        IVFPQ_RETRAIN_DRIFT,
        ivfpq_append_report,
    )

    rows = ivfpq_append_report(spark, SF_ORACLE).collect()
    assert rows
    n = emb.count()
    n_new_expect = emb.filter(F.col("vec_id") % 5 == 4).count()
    assert sum(r.n_base + r.n_new for r in rows) == n
    assert sum(r.n_new for r in rows) == n_new_expect
    for r in rows:
        assert r.n_base >= 0 and r.n_new >= 0
        if r.n_base:
            assert r.mean_res2_base > 0
        if r.n_new:
            assert r.mean_res2_new > 0
        if r.drift_ratio is not None:
            assert r.retrain == (r.drift_ratio >= IVFPQ_RETRAIN_DRIFT)
        else:
            assert r.retrain is False


def _stepwise_planes(dim: int, n_planes: int, seed: int = 42):
    """The plane LCG stepped once per coordinate in Python — the
    reference for ``_fixed_planes``'s jump-ahead."""
    planes, state = [], seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005
                     + 1442695040888963407) % (1 << 64)
            row.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
        planes.append(row)
    return planes


@pytest.mark.parametrize("dim,n_planes,seed", [
    (64, 576, 42), (64, 640, 42), (8, 16, 42), (4, 8, 42), (1, 1, 42),
    (3, 7, 7), (5, 3, (1 << 64) - 1)])
def test_fixed_planes_match_stepwise_lcg(dim, n_planes, seed):
    """The jump-ahead planes are bit-identical to the stepwise LCG."""
    import numpy as np

    from mapreducewordcount_spark.operators.similarity import _fixed_planes

    got = _fixed_planes(dim, n_planes, seed)
    want = np.array(_stepwise_planes(dim, n_planes, seed), dtype=np.float64)
    assert got.shape == (n_planes, dim)
    assert got.tobytes() == want.tobytes()


@pytest.mark.parametrize("name", ["dedup_embedding_pairs_lsh",
                                  "lsh_band_model"])
def test_lsh_construction_runs_no_jobs(spark, name):
    """Building an LSH query runs no Spark job: the band width comes
    from the embeddings' parquet footers, not from a ``count()``."""
    from mapreducewordcount_spark.queries import all_queries
    from mapreducewordcount_spark.queries.dedup_queries import lsh_band_model
    from mapreducewordcount_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    build = (lsh_band_model if name == "lsh_band_model"
             else all_queries()[name].spark_fn)
    sc = spark.sparkContext
    load_table(spark, SF_SMOKE, "embeddings")  # ship the package first
    group = f"construct:{name}"
    try:
        sc.setJobGroup(group, f"build {name}")
        build(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
