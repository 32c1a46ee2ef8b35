"""Corpus-wide duplicate-line removal (the C4 rule, as a rewrite).

``operators/boilerplate.py`` *measures* cross-document repetition;
this operator *applies* the classic C4 cleanup (public method:
Raffel et al. 2020, *Exploring the Limits of Transfer Learning…*,
§2.2: "we discarded all but one of any three-sentence span occurring
more than once" — the line-granular variant every web pipeline runs):
every line occurrence except the corpus-wide FIRST one is removed,
and documents are rebuilt from their surviving lines in original
order.

Determinism contract: "first" = smallest (doc_id, line position) —
the same total order on any engine, so the whole rewrite is
DuckDB-oracle-checkable.

Scale shape (same discipline as boilerplate/dupspans):

- explode lines ONCE with positions;
- the first-occurrence decision is
  ``groupBy(xxhash64(line)).agg(min(struct(doc_id, pos, line)))`` —
  a partial aggregate, NOT a window. ``min`` map-side-combines, so a
  corpus-universal line (empty line, cookie banner — guaranteed in
  web data) reduces to ONE candidate row per upstream task before
  the shuffle; the shuffle then moves one short row per
  (task, distinct line), never the full occurrence set of a hot
  line. The window form this replaced
  (``row_number over (partition by hash)``) had no partial agg and
  AQE cannot split a window partition — a 10⁹-occurrence line became
  one straggler task at 100 TB. The struct min is ordered by
  (doc_id, pos) — unique per occurrence, so the trailing ``line``
  field rides along without ever tie-breaking. The shuffle is keyed
  on an 8-byte hash, never on raw line strings; 2⁻⁶⁴ collisions
  would merge two distinct lines — the standard accepted trade;
- the rebuild is one groupBy(doc_id) assembling surviving lines via
  an in-array sort on position — no second corpus scan, no window
  over the full text.

Two shuffles total (line-hash, doc_id) at any corpus size, both
partial-aggregated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.repetition import lines


def strip_duplicate_lines(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """→ (doc_id, text_clean, n_lines, n_kept): every doc rebuilt
    with only the corpus-wide first occurrence of each line.

    Docs whose every line was seen earlier come back with
    ``text_clean = ''`` (drop or keep downstream is a policy call —
    curation usually drops empties at the quality gate).
    """
    occ = (docs
           .select(F.col(id_col).alias("doc_id"),
                   F.posexplode(lines(text_col)).alias("pos", "line")))
    # first occurrence per line as a PARTIAL AGGREGATE: min over
    # (doc_id, pos, line) structs — (doc_id, pos) is unique, so this
    # is exactly "smallest (doc_id, pos) carrying its line text", and
    # every task pre-combines hot lines to a single candidate row.
    kept = (occ
            .groupBy(F.xxhash64("line").alias("__line_key"))
            .agg(F.min(F.struct("doc_id", "pos", "line")).alias("first"))
            .select(F.col("first.doc_id").alias("doc_id"),
                    F.col("first.pos").alias("pos"),
                    F.col("first.line").alias("line")))
    rebuilt = (kept
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_kept"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos", "line"))),
                            lambda s: s["line"]),
                        "\n").alias("text_clean")))
    base = docs.select(F.col(id_col).alias("doc_id"),
                       F.size(lines(text_col)).alias("n_lines"))
    return (base
            .join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("text_clean", F.lit("")).alias("text_clean"),
                    "n_lines",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept")))
