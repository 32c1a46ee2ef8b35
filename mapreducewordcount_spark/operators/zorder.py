"""Z-order (Morton curve) data-layout planner.

At 100 TB, scan cost is dominated by how well file-level zone maps
(parquet min/max) prune for the predicates users actually run. A sort
on one column gives perfect pruning on that column and none on any
other; interleaving the bits of two (or more) columns — the Morton /
Z-order curve, what Delta's ``OPTIMIZE ZORDER BY`` and Hudi/Iceberg
clustering implement — makes files narrow in BOTH dimensions, so
point/range predicates on either column skip most files.

This operator computes the layout plan:

- min/max of each dimension (one aggregate, broadcast back as a
  1-row frame) rescale every value to a ``bits``-bit rank with pure
  integer arithmetic ``((v - min) * 2^bits) div (max - min + 1)`` —
  no floats, so the plan is deterministic and cross-engine exact;
- the two ranks are bit-interleaved into the z-value (x in even
  bits, y in odd bits);
- the target file is the z-value's top ``file_bits`` bits — fixed
  z-prefix ranges, which is how a range-partitioned rewrite
  (``repartitionByRange(z)``) lays files out when the curve is
  balanced. No global ``row_number`` is needed: the prefix binning
  keeps the plan a single projection + one aggregate, where a
  rank-then-chunk assignment would force a global sort with a
  sequential pass. (Uneven bins at skewed extremes are the
  compaction planner's job — ``operators/compaction.py``.)

The per-file min/max stats the layout query reports are exactly the
zone maps a writer would persist; the pruning win is pinned by
``tests/test_zorder.py`` (z-layout files touched by a mid-range
2-D predicate << linear-layout files touched).

Reference parity: none — extension surface (§2.5); the reference's
only layout decision is LPT file-packing (``src/driver.py:41-68``),
covered by Spark's size-sorted file packing under
``sources/text.per_file_splits``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _rank_expr(col: str, mn: str, mx: str, bits: int) -> str:
    # integer rescale to [0, 2^bits): exact at any key magnitude
    # (BIGINT div, no float rounding), monotone, min->0, max->2^bits-1.
    # The cast matters: int32 keys overflow at (v-min)*2^16 once the
    # domain passes ~32k — promote before the multiply.
    return (f"((cast({col} as bigint) - {mn}) * {1 << bits})"
            f" div (cast({mx} as bigint) - {mn} + 1)")


def interleave_bits(x: Column, y: Column, bits: int) -> Column:
    """Morton-interleave two ``bits``-bit non-negative ranks:
    x in even bit positions, y in odd."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)),
                                 2 * i))
        terms.append(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)),
                                 2 * i + 1))
    return reduce(lambda a, b: a + b, terms)


def interleave_sql(x: str, y: str, bits: int) -> str:
    """The identical interleave as portable SQL (DuckDB >> & <<)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def zorder_layout(df: DataFrame, xcol: str, ycol: str, *,
                  bits: int = 16, file_bits: int = 6) -> DataFrame:
    """Assign every row its z-value and target file.

    Returns ``df`` plus ``zvalue`` and ``file_id`` (the z-value's top
    ``file_bits`` bits — at most ``2^file_bits`` files).
    """
    if not 1 <= file_bits <= 2 * bits:
        raise ValueError("file_bits must be in [1, 2*bits]")
    mm = df.agg(F.min(xcol).alias("__minx"), F.max(xcol).alias("__maxx"),
                F.min(ycol).alias("__miny"), F.max(ycol).alias("__maxy"))
    ranked = (df.join(F.broadcast(mm))
                .withColumn("__rx", F.expr(
                    _rank_expr(xcol, "__minx", "__maxx", bits)))
                .withColumn("__ry", F.expr(
                    _rank_expr(ycol, "__miny", "__maxy", bits))))
    z = interleave_bits(F.col("__rx"), F.col("__ry"), bits)
    return (ranked.withColumn("zvalue", z)
                  .withColumn("file_id",
                              F.shiftright(F.col("zvalue"),
                                           2 * bits - file_bits))
                  .drop("__minx", "__maxx", "__miny", "__maxy",
                        "__rx", "__ry"))


def zorder_file_stats(df: DataFrame, xcol: str, ycol: str, *,
                      bits: int = 16, file_bits: int = 6) -> DataFrame:
    """Per-target-file zone-map report for the planned layout:
    ``(file_id, n_rows, min/max of each dimension)`` — the stats a
    rewrite would give every file's parquet footer."""
    laid = zorder_layout(df, xcol, ycol, bits=bits, file_bits=file_bits)
    return (laid.groupBy("file_id")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.min(xcol).alias(f"min_{xcol}"),
                     F.max(xcol).alias(f"max_{xcol}"),
                     F.min(ycol).alias(f"min_{ycol}"),
                     F.max(ycol).alias(f"max_{ycol}")))
