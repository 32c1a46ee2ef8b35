"""Fixed-point PageRank: hand-computed ranks, fixed-point identity,
determinism under repartitioning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducewordcount_spark.operators.pagerank import (
    R0,
    pagerank_fixed_point,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_two_cycle_is_a_fixed_point(spark):
    e = _edges(spark, [(1, 2), (2, 1)])
    for iters in (1, 3):
        got = {r["node"]: r["rank"]
               for r in pagerank_fixed_point(e, iterations=iters).collect()}
        # contrib = R0, rank = 0.15*R0 + 0.85*R0 = R0: stable forever
        assert got == {1: R0, 2: R0}


def test_star_hand_computed(spark):
    e = _edges(spark, [(1, 2), (2, 1), (1, 3), (3, 1)])
    it1 = {r["node"]: r["rank"]
           for r in pagerank_fixed_point(e, iterations=1).collect()}
    # hub: 150000 + 850*(1e6 + 1e6) div 1000; leaves: half-share of hub
    assert it1 == {1: 1_850_000, 2: 575_000, 3: 575_000}
    it2 = {r["node"]: r["rank"]
           for r in pagerank_fixed_point(e, iterations=2).collect()}
    assert it2 == {1: 1_127_500, 2: 936_250, 3: 936_250}


def test_duplicate_edges_collapse(spark):
    e = _edges(spark, [(1, 2), (1, 2), (2, 1)])
    got = {r["node"]: r["rank"]
           for r in pagerank_fixed_point(e, iterations=1).collect()}
    assert got == {1: R0, 2: R0}


def test_partitioning_invariance(spark):
    pairs = [(i, (i * 7) % 23) for i in range(23)] + \
            [((i * 7) % 23, i) for i in range(23)]
    a = {r["node"]: r["rank"] for r in
         pagerank_fixed_point(_edges(spark, pairs).repartition(1),
                              iterations=3).collect()}
    b = {r["node"]: r["rank"] for r in
         pagerank_fixed_point(_edges(spark, pairs).repartition(16),
                              iterations=3).collect()}
    assert a == b  # integer arithmetic: no summation-order drift


def test_total_rank_is_conserved_up_to_div_leak(spark):
    pairs = [(i, (i + 1) % 10) for i in range(10)] + \
            [((i + 1) % 10, i) for i in range(10)]
    got = pagerank_fixed_point(_edges(spark, pairs), iterations=3)
    total = got.agg(F.sum("rank")).collect()[0][0]
    n = 10
    # each div loses < 1 micro-unit per (node, iteration)
    assert n * R0 - 3 * 2 * n <= total <= n * R0


def test_iterations_validated(spark):
    with pytest.raises(ValueError):
        pagerank_fixed_point(_edges(spark, [(1, 2), (2, 1)]), iterations=0)
