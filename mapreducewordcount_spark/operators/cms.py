"""Count-min sketch over a token stream — the mergeable frequency
sketch (Cormode & Muthukrishnan 2005) for when the exact vocabulary
no longer fits a shuffle.

Placement in the sketch family: `heavy_hitters_words` finds the
heavy keys exactly (Misra-Gries + verify), `sketch_hll_report`
validates distinct-count sketches, and CMS is the point-FREQUENCY
sketch: DEPTH independent hash rows of WIDTH counters; estimate =
min over rows of the addressed counter — never an underestimate,
overestimate bounded by collisions (≤ 2N/WIDTH with probability
1 − 2^−DEPTH per the classic bound).

Why this one is FULLY oracled with no artifact (unlike GK
percentiles, which are merge-order-sensitive, so ``sketch_stats``
gates the exact ``percentile_disc`` form instead): every CMS cell
is an INTEGER SUM over rows selected by a deterministic hash —
merge-order- and partition-invariant — and the hash is the engine's
cross-engine recipe (md5 first-4-hex-digits mod WIDTH, exactly
uniform because WIDTH divides 65536). DuckDB rebuilds the identical
sketch from raw text and the identical estimates from the sketch.

Scale shape: the build is one partial-agg ``groupBy(depth, cell)``
bounded at DEPTH × WIDTH rows regardless of corpus size (map-side
combine collapses each task to its live cells before the shuffle);
probes broadcast the ≤ DEPTH×WIDTH sketch and stay map-side.

Reference parity: none (extension surface §2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.buckets import hex4

WIDTH = 2048        # must divide 65536 (exact-uniform md5-hex4 fold)
DEPTH = 4
_SALT = "cms"       # row d salts as f"cms{d}:"


def _cell(word_col, d: int):
    return F.pmod(hex4(F.concat(F.lit(f"{_SALT}{d}:"), word_col)),
                  F.lit(WIDTH))


def cms_build(words: DataFrame, word_col: str = "word") -> DataFrame:
    """(d, cell, c) — the sketch table, ≤ DEPTH × WIDTH rows. One
    pass: each word row emits its DEPTH cell addresses (posexplode of
    a DEPTH-length array, a zero-shuffle projection), then one
    partial-aggregating groupBy."""
    cells = F.array(*[_cell(F.col(word_col), d) for d in range(DEPTH)])
    return (words.select(F.posexplode(cells).alias("d", "cell"))
            .groupBy("d", "cell")
            .agg(F.count(F.lit(1)).alias("c")))


def cms_estimate(probes: DataFrame, sketch: DataFrame,
                 word_col: str = "word") -> DataFrame:
    """min-over-rows point estimates for ``probes``: (word,
    cms_count). The sketch broadcasts (≤ DEPTH×WIDTH rows); the probe
    side never shuffles more than its own (word, d) fanout."""
    cells = F.array(*[_cell(F.col(word_col), d) for d in range(DEPTH)])
    addressed = probes.select(F.col(word_col).alias("word"),
                              F.posexplode(cells).alias("d", "cell"))
    return (addressed.join(F.broadcast(sketch), ["d", "cell"])
            .groupBy("word")
            .agg(F.min("c").alias("cms_count")))
