"""Sketch-aggregate accuracy vs exact.

``sketch_hll_report`` (the HLL half) is artifact-oracled in the
registry sweep; its tolerance against exact distinct counts is
pinned here. ``sketch_stats`` computes the EXACT discrete percentile
(DuckDB-oracled bit-for-bit) because GK ``approx_percentile`` is
merge-order-sensitive; its rank rule and partition invariance are
pinned here.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from mapreducewordcount_spark.queries.analytics3 import (
    sketch_hll_report,
    sketch_stats,
)
from mapreducewordcount_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE


def test_sketches_within_tolerance_of_exact(spark):
    """HLL tracks the exact form: within 3·rsd of exact distinct
    counts."""
    hll = {r.l_returnflag: r for r in
           sketch_hll_report(spark, SF_ORACLE).collect()}
    l = load_table(spark, SF_ORACLE, "lineitem")
    exact = {r.l_returnflag: r for r in
             (l.groupBy("l_returnflag")
              .agg(F.count_distinct(F.col("l_partkey")).alias("parts"))
              .collect())}
    assert set(exact) == set(hll)
    for flag, e in exact.items():
        h = hll[flag]
        assert h.n_parts_exact == e.parts  # the report's exact half
        assert abs(h.approx_parts - e.parts) / e.parts < 0.05  # 2% rsd
        assert h.within_3rsd


def test_exact_percentile_disc_rank_rule(spark):
    """The gate form's contract, replayed in pure Python: the
    discrete percentile is ``sorted(vals)[ceil(q·n) − 1]`` (the
    SQL-standard smallest-value-with-cume_dist ≥ q) — an ACTUAL data
    value, never an interpolation, which is what makes the oracle
    comparison bit-exact on doubles. Pinned per returnflag at
    sf0.01."""
    got = {r.l_returnflag: r for r in
           sketch_stats(spark, SF_ORACLE).collect()}
    l = load_table(spark, SF_ORACLE, "lineitem")
    by_flag: dict = {}
    for r in l.select("l_returnflag", "l_extendedprice").collect():
        by_flag.setdefault(r.l_returnflag, []).append(r.l_extendedprice)
    assert set(got) == set(by_flag)
    for flag, vals in by_flag.items():
        vals.sort()
        n = len(vals)
        assert got[flag].n_rows == n
        for q, col in ((0.25, "price_p25"), (0.5, "price_p50"),
                       (0.75, "price_p75")):
            want = vals[math.ceil(q * n) - 1]
            assert getattr(got[flag], col) == want, (flag, col)


def test_hll_and_count_are_partition_invariant(spark):
    """The artifact-oracle boundary for the sketch family: HLL++
    merges by register-wise max (merge-order-free) and count is
    exact, so both are identical under any partitioning — which is
    what lets sketch_hll_report pin Spark's HLL values in a committed
    artifact; GK approx_percentile is merge-ORDER-sensitive (measured
    at sf0.01: p50(A) = 52826.91 / 52832.76 / 52833.8 at 32/1/64
    partitions), which is why ``sketch_stats`` computes exact
    percentiles instead."""
    l = load_table(spark, SF_ORACLE, "lineitem")
    outs = []
    for parts in (1, 7, 64):
        rows = (l.repartition(parts).groupBy("l_returnflag")
                .agg(F.approx_count_distinct("l_partkey", rsd=0.02)
                     .alias("ap"),
                     F.count(F.lit(1)).alias("n"))
                .orderBy("l_returnflag").collect())
        outs.append([(r.l_returnflag, r.ap, r.n) for r in rows])
    assert outs[0] == outs[1] == outs[2]


def test_exact_percentiles_are_partition_invariant(spark):
    """The flip side of the GK sensitivity: the gate form must be
    partitioning-invariant (it is — the percentile is a function of
    the sorted multiset, not the merge order)."""
    l = load_table(spark, SF_ORACLE, "lineitem")
    outs = []
    for parts in (1, 7, 64):
        rows = (l.repartition(parts).groupBy("l_returnflag")
                .agg(F.expr("percentile_disc(0.5) WITHIN GROUP "
                            "(ORDER BY l_extendedprice)").alias("p50"))
                .orderBy("l_returnflag").collect())
        outs.append([(r.l_returnflag, r.p50) for r in rows])
    assert outs[0] == outs[1] == outs[2]


def test_window_percentiles_equal_percentile_disc(spark):
    """Round 13: the exact sketch_stats form moved from three
    percentile_disc buffer aggregates to one cume_dist window + a
    min(when) groupBy. The two must agree bit-for-bit, including on
    tie-heavy groups and boundary group sizes (n divisible by 4, by
    2, and neither)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(7)
    rows = []
    for g, n in (("A", 16), ("B", 15), ("C", 2), ("D", 1), ("E", 8)):
        vals = [round(rng.uniform(1, 50), 2) for _ in range(n)]
        # plant ties: duplicate half the values
        vals += vals[: n // 2]
        rows += [(g, v) for v in vals]
    df = spark.createDataFrame(rows, "g string, x double")

    disc = {tuple(r) for r in df.groupBy("g").agg(
        *[F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY x)")
          .alias(f"p{i}") for i, q in
          enumerate((0.25, 0.5, 0.75))]).collect()}
    w = Window.partitionBy("g").orderBy("x")
    win = {tuple(r) for r in
           df.select("g", "x", F.cume_dist().over(w).alias("cd"))
           .groupBy("g")
           .agg(*[F.min(F.when(F.col("cd") >= q, F.col("x")))
                  .alias(f"p{i}") for i, q in
                  enumerate((0.25, 0.5, 0.75))]).collect()}
    assert disc == win
