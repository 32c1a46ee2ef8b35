"""Frequent-itemset (market-basket) pair mining over (basket, item)
rows — the co-occurrence / association primitive (support, lift) of
an Apriori first pass, expressed Spark-first.

Reference parity: none — extension surface (SURVEY.md §2.5); the
reference engine (/root/reference/src, 549 LoC) has no relational
layer at all.

Design (the shape that survives 100 TB):

- Pairs are generated FROM THE BASKET ARRAY, not via a lineitem
  self-join. A self-join on the basket key shuffles the fact table
  twice and rebuilds every basket hash-side; collapsing to one
  ``groupBy(basket).collect_set(item)`` pays exactly one shuffle of
  (basket, item) pairs, and the pairwise expansion is a JVM-side
  ``transform``/``slice``/``flatten`` over each (bounded) array —
  zero Python, whole-stage codegen end-to-end.
- Per-basket fanout is quadratic in basket size, so ``max_basket``
  caps it (pairs ≤ cap²/2 per basket). Mega-baskets (a crawler
  session touching 10⁶ items) would otherwise detonate the expansion;
  the cap drops them explicitly — the same bounded-fanout discipline
  as the CDC chunk-index cap (operators/cdchunk.py). On TPC-H
  lineitem the cap never binds (≤7 lines/order).
- The pair counts aggregate is partial-agg friendly (map-side combine
  on (item_a, item_b)) and the min-support filter runs before any
  join, so the association join only sees surviving pairs.
- Item marginals and the basket total ride the SAME capped basket
  population, so support/lift are coherent (and the oracle mirrors
  the cap in its CTE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordcount_spark.cache import persist_tracked, release_query_cache


def basket_sets(items: DataFrame, basket_col: str, item_col: str,
                max_basket: int = 64) -> DataFrame:
    """(basket, item) rows → (basket, sorted distinct item array),
    baskets larger than ``max_basket`` dropped (bounded pair fanout).

    ``collect_set`` dedupes inside the aggregate (map-side partial),
    so repeated (basket, item) rows — multiple lineitems of the same
    part in one order — count once, matching DISTINCT semantics.
    """
    return (items
            .select(F.col(basket_col).alias("basket"),
                    F.col(item_col).alias("item"))
            .groupBy("basket")
            .agg(F.sort_array(F.collect_set("item")).alias("items"))
            .filter(F.size("items") <= max_basket))


def basket_cap_stats(items: DataFrame, basket_col: str, item_col: str,
                     max_basket: int = 64) -> DataFrame:
    """One-row audit of what the ``max_basket`` cap drops (VERDICT
    r10 wrong#3 — the repo's no-silent-caps rule): total/kept/dropped
    basket counts, the distinct (basket, item) rows discarded with
    the dropped baskets, and the largest basket seen. A
    ``pair_affinity`` report whose companion shows
    ``n_baskets_dropped = 0`` is certified cap-free; a non-zero row
    quantifies exactly what the support/lift population excludes.

    Same plan shape as the mining pass: one basket shuffle
    (distinct-count per basket is the ``collect_set`` dedupe
    semantics), then a 1-row aggregate.
    """
    sizes = (items
             .select(F.col(basket_col).alias("basket"),
                     F.col(item_col).alias("item"))
             .groupBy("basket")
             .agg(F.countDistinct("item").alias("n_items")))
    over = F.col("n_items") > max_basket
    return sizes.agg(
        F.count(F.lit(1)).alias("n_baskets_total"),
        F.sum((~over).cast("long")).alias("n_baskets_kept"),
        F.sum(over.cast("long")).alias("n_baskets_dropped"),
        F.sum(F.when(over, F.col("n_items")).otherwise(F.lit(0)))
        .alias("n_items_dropped"),
        F.max("n_items").alias("max_basket_size"))


def basket_pairs(sets: DataFrame) -> DataFrame:
    """(basket, items array) → (item_a, item_b, n_both) co-occurrence
    counts, item_a < item_b (arrays arrive sorted from basket_sets).

    The expansion is pure codegen: for the element at 0-based index
    ``i``, pair it with every element from 1-based position ``i + 2``
    on — C(n,2) structs per basket, flattened and exploded.
    """
    pairs = F.expr(
        "flatten(transform(items, (x, i) -> "
        "transform(slice(items, i + 2, size(items)), "
        "y -> struct(x AS item_a, y AS item_b))))")
    return (sets
            .filter(F.size("items") >= 2)
            .select(F.explode(pairs).alias("p"))
            .groupBy(F.col("p.item_a").alias("item_a"),
                     F.col("p.item_b").alias("item_b"))
            .agg(F.count(F.lit(1)).alias("n_both")))


def pair_affinity(items: DataFrame, basket_col: str, item_col: str,
                  min_support: int = 2,
                  max_basket: int = 64) -> DataFrame:
    """Association-pair report: for every item pair co-occurring in
    ≥ ``min_support`` baskets, its joint count, both marginals, the
    rule confidences ``P(b|a)``/``P(a|b)``, and the lift
    ``n_both·N / (n_a·n_b)`` over the capped population.

    Plan: one shuffle to build baskets, one partial-agg pair count,
    a broadcast-sized marginal join (items ≪ pairs), and a 1-row
    broadcast cross join for N. The min-support filter runs BEFORE
    the joins, so only surviving pairs pay join cost.
    """
    release_query_cache()
    # three consumers (pair counts, marginals, N) reference the basket
    # frame; unpersisted, Catalyst re-runs the fact-table scan + basket
    # shuffle once PER consumer (seen as 3× the exchanges in the plan —
    # the round-1 "materialize frames referenced by multiple joins"
    # lesson). Persisted, the groupBy lineage runs once.
    sets = persist_tracked(basket_sets(items, basket_col, item_col,
                                       max_basket))
    exploded = sets.select("basket", F.explode("items").alias("item"))
    n_baskets = sets.agg(
        F.count(F.lit(1)).alias("n_baskets"))
    marginals = exploded.groupBy("item").agg(
        F.count(F.lit(1)).alias("cnt"))
    pairs = (basket_pairs(sets)
             .filter(F.col("n_both") >= min_support))
    m_a = marginals.select(F.col("item").alias("item_a"),
                           F.col("cnt").alias("n_a"))
    m_b = marginals.select(F.col("item").alias("item_b"),
                           F.col("cnt").alias("n_b"))
    # marginals are O(|items|) — tiny next to the pair list; the
    # 1-row N frame broadcasts trivially. No forced hints: AQE
    # broadcasts both whenever they fit (they always do here) and
    # degrades to shuffle joins, not failures, if an item universe
    # ever outgrows the limit.
    lift = F.round(
        F.col("n_both").cast("double") * F.col("n_baskets")
        / (F.col("n_a") * F.col("n_b")), 4)
    conf_ab = F.round(F.col("n_both").cast("double") / F.col("n_a"), 4)
    conf_ba = F.round(F.col("n_both").cast("double") / F.col("n_b"), 4)
    return (pairs.join(m_a, "item_a").join(m_b, "item_b")
            .crossJoin(F.broadcast(n_baskets))
            .select("item_a", "item_b", "n_both", "n_a", "n_b",
                    conf_ab.alias("conf_a_b"),
                    conf_ba.alias("conf_b_a"),
                    lift.alias("lift")))
