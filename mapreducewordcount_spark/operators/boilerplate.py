"""Cross-document boilerplate-line detection.

Per-doc repetition (``functions/repetition.py``) is a narrow map;
*boilerplate* — the same nav header / footer / cookie banner line
appearing across many documents of one source — is inherently a
corpus-level aggregate: the unit of repetition spans documents, so
one shuffle is unavoidable. The scale discipline is to make that
shuffle as narrow as possible:

- explode **distinct** lines per doc (duplicate lines inside a doc
  don't change the doc-frequency count, so dedup before the shuffle);
- shuffle ``(group, xxhash64(line))`` — a 16-ish-byte key — instead
  of raw line strings (a cookie banner is hundreds of bytes ×
  billions of rows). Collision risk is n²/2⁶⁵ per group — negligible
  below ~10⁹ distinct lines per source;
- explode ONCE: doc-frequency is a **partial-aggregated**
  ``groupBy(group, hash).count()`` joined back onto the exploded
  lines. The earlier in-place window form
  (``count() over (partition by group, hash)``) saved the join but
  had no map-side combine and AQE cannot split a window partition —
  a corpus-universal line (cookie banner, empty footer) would land
  its entire occurrence set in ONE task at 100 TB. The groupBy
  collapses the hot key to one row per upstream task before the
  shuffle, and the join-back is a skewed equi-join AQE *can* split
  (the count side is one row per key). One extra small shuffle of
  (key, count) rows buys away the straggler. The naive three-branch
  formulation (counts / flagged / totals as separate joins) re-scans
  and re-explodes the corpus three times — confirmed by ``.explain``
  and rejected. The join-back does derive the exploded frame twice
  (count side + probe side — two column-pruned scans of
  (id, group, text)); that doubled narrow scan is the price of the
  partial aggregate, and it is the right trade: scans split and
  parallelize arbitrarily, a hot window partition does not.

No reference parity: the reference (549-line word-count,
/root/reference/src/) has no document pipeline; extension scope per
SURVEY.md §2.5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.repetition import lines


def boilerplate_report(docs: DataFrame, min_docs: int = 3,
                       id_col: str = "doc_id", text_col: str = "text",
                       group_col: str = "source") -> DataFrame:
    """Per doc: distinct-line count, how many of those lines are
    boilerplate (appear in ≥ ``min_docs`` docs of the same group),
    and the boilerplate fraction.

    Returns one row per input doc (zero counts for line-less docs).
    """
    base = docs.select(id_col, group_col, text_col)
    per_doc_lines = (base
                     .select(id_col, group_col,
                             F.explode(F.array_distinct(lines(text_col)))
                             .alias("line"))
                     .withColumn("line_key", F.xxhash64("line"))
                     .drop("line"))
    # doc-frequency as a PARTIAL AGGREGATE + join-back (not a window):
    # lines are distinct per doc, so count(*) per (group, line_key) ==
    # number of docs with the line; the hot key map-side-combines and
    # the skewed probe join is AQE-splittable (module docstring).
    counts = (per_doc_lines
              .groupBy(group_col, "line_key")
              .agg(F.count(F.lit(1)).alias("df")))
    per_doc = (per_doc_lines
               .join(counts, [group_col, "line_key"])
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_lines"),
                    F.sum((F.col("df") >= min_docs).cast("long"))
                    .alias("n_boiler_lines")))
    out = (base.select(id_col)
           .join(per_doc, id_col, "left")
           .select(
               F.col(id_col),
               F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
               F.coalesce("n_boiler_lines", F.lit(0))
               .alias("n_boiler_lines")))
    return out.withColumn(
        "boiler_fraction",
        F.when(F.col("n_lines") > 0,
               F.round(F.col("n_boiler_lines").cast("double")
                       / F.col("n_lines"), 6)).otherwise(F.lit(0.0)))
