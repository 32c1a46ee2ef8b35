"""Round-10 late additions: frequent-itemset pair mining, the
MinHash leg of the decontamination matrix, event-type transition
mining (first-order Markov counts), and the Unicode-NFC
normalization report.

Reference parity: none — extension surface (SURVEY.md §2.5); the
reference engine (/root/reference/src, 549 LoC) has no relational or
sequence layer.

Oracle notes:

- ``part_pair_affinity`` — integer counts end-to-end; the only float
  is the final lift ratio, computed in the SAME expression shape on
  both engines (``double(n_both) · N / (n_a · n_b)``, one IEEE
  divide) and rounded 4dp. The basket cap (64) is mirrored in the
  oracle's HAVING so support/lift read the same population.
- ``decontam_minhash_report`` — the engine runs banded MinHash LSH
  (``operators/dedup.minhash_lsh_cross_pairs``) with EXACT-Jaccard
  verification; the oracle computes the brute-force exact cross
  Jaccard. Equality therefore certifies LSH recall = 1.0 at the
  chosen parameters on this corpus (64 hashes / 32 bands: a pair at
  the τ=0.7 floor is missed w.p. (1−0.7²)^32 ≈ 4e-10) — the same
  oracle discipline as ``dedup_minhash_pairs``.
- ``events_type_transitions`` — integer transition counts from a
  total per-user order (ts, event_id); the row probability is one
  rounded divide. The oracle casts the window sum to DOUBLE at the
  source (DuckDB sum(BIGINT) → HUGEINT is gate-unsafe).
- ``doc_nfc_stats`` — CPython ``unicodedata`` vs DuckDB utf8proc,
  both implementing Unicode canonical composition; the planted
  decomposed/composed arms (explicit escapes on both sides) make the
  report doc-varying on the ASCII-safe corpus. Integer counts and
  code-point lengths only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordcount_spark.operators.dedup import (
    minhash_lsh_cross_pairs,
)
from mapreducewordcount_spark.operators.itemsets import pair_affinity
from mapreducewordcount_spark.queries import QuerySpec
from mapreducewordcount_spark.queries.dedup_queries import (
    _SHINGLES_CTE,
    _WORDS_CTE,
)
from mapreducewordcount_spark.sources.tables import load_table, spread


# --- frequent-itemset pair mining -------------------------------------------

#: pairs must co-occur in at least this many orders to be reported
AFFINITY_MIN_SUPPORT = 2
#: bounded per-basket pair fanout (never binds on TPC-H's ≤7
#: lines/order; drops crawler-scale mega-baskets explicitly at 100 TB)
AFFINITY_MAX_BASKET = 64


def part_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association pairs over lineitem: parts that ship
    together in ≥2 orders, with joint/marginal order counts and lift —
    the Apriori-style first pass (operators/itemsets.py). Basket
    shuffles + one partial-agg pair count; marginals and the 1-row
    basket total broadcast onto the surviving pairs."""
    li = load_table(spark, sf_dir, "lineitem")
    rep = pair_affinity(li, "l_orderkey", "l_partkey",
                        min_support=AFFINITY_MIN_SUPPORT,
                        max_basket=AFFINITY_MAX_BASKET)
    return rep.select(F.col("item_a").alias("part_a"),
                      F.col("item_b").alias("part_b"),
                      "n_both", "n_a", "n_b",
                      "conf_a_b", "conf_b_a", "lift")


PART_PAIR_AFFINITY_SQL = f"""
WITH bi AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
            FROM lineitem),
bs AS (SELECT basket FROM bi GROUP BY basket
       HAVING count(*) <= {AFFINITY_MAX_BASKET}),
bc AS (SELECT bi.* FROM bi JOIN bs USING (basket)),
n AS (SELECT count(DISTINCT basket) AS n_baskets FROM bc),
ic AS (SELECT item, count(*) AS cnt FROM bc GROUP BY item),
pr AS (SELECT a.item AS part_a, b.item AS part_b, count(*) AS n_both
       FROM bc a JOIN bc b ON a.basket = b.basket AND a.item < b.item
       GROUP BY 1, 2 HAVING count(*) >= {AFFINITY_MIN_SUPPORT})
SELECT pr.part_a, pr.part_b,
       CAST(pr.n_both AS BIGINT) AS n_both,
       CAST(ia.cnt AS BIGINT) AS n_a,
       CAST(ib.cnt AS BIGINT) AS n_b,
       round(CAST(pr.n_both AS DOUBLE) / ia.cnt, 4) AS conf_a_b,
       round(CAST(pr.n_both AS DOUBLE) / ib.cnt, 4) AS conf_b_a,
       round(CAST(pr.n_both AS DOUBLE) * n.n_baskets
             / (ia.cnt * ib.cnt), 4) AS lift
FROM pr
CROSS JOIN n
JOIN ic ia ON ia.item = pr.part_a
JOIN ic ib ON ib.item = pr.part_b
"""


def basket_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion audit for ``part_pair_affinity`` (VERDICT r10
    wrong#3): how many baskets the ``max_basket`` fanout cap drops,
    the (basket, item) rows discarded with them, and the largest
    basket observed — the no-silent-caps rule made a query. On TPC-H
    lineitem the cap never binds (≤7 lines/order), so the dropped
    counts are zero; the row proves it instead of assuming it."""
    from mapreducewordcount_spark.operators.itemsets import (
        basket_cap_stats,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return basket_cap_stats(li, "l_orderkey", "l_partkey",
                            max_basket=AFFINITY_MAX_BASKET)


BASKET_CAP_SQL = f"""
WITH bi AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
            FROM lineitem),
sz AS (SELECT basket, count(*) AS n_items FROM bi GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_baskets_total,
       CAST(sum(CASE WHEN n_items <= {AFFINITY_MAX_BASKET}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_baskets_kept,
       CAST(sum(CASE WHEN n_items > {AFFINITY_MAX_BASKET}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_baskets_dropped,
       CAST(sum(CASE WHEN n_items > {AFFINITY_MAX_BASKET}
                THEN n_items ELSE 0 END) AS BIGINT) AS n_items_dropped,
       CAST(max(n_items) AS BIGINT) AS max_basket_size
FROM sz
"""


# --- MinHash decontamination -------------------------------------------------

#: every 25th document plays the eval corpus (distinct from the
#: exact-ngram family's %20 and the Bloom family's %10 splits)
DECONTAM_MH_EVAL_MOD = 25
#: contamination bar: near-dup of an eval doc at 3-gram Jaccard ≥ 0.7
DECONTAM_MH_TAU = 0.7
#: 64 hashes / 32 bands of 2 rows — at τ=0.7 the per-pair miss
#: probability is (1−0.49)^32 ≈ 4e-10, so the LSH output equals the
#: brute-force oracle (certified by the gate hash every run)
DECONTAM_MH_HASHES = 64
DECONTAM_MH_BANDS = 32


def decontam_minhash_report(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """MinHash leg of the decontamination matrix (exact n-gram /
    Bloom / semantic / cross-source / **minhash**): flag each training
    document that is a shingle-level NEAR-DUP (Jaccard ≥ 0.7) of any
    eval document, with its hit count and max similarity.

    Engine path: banded-MinHash candidates probed eval-against-train
    (``minhash_lsh_cross_pairs`` — O(eval × collisions) candidate
    work, never train²), exact-verified, then one partial-agg
    per-train-doc rollup. The oracle is the brute-force exact cross
    Jaccard, so a hash-green row certifies LSH recall 1.0 at these
    parameters — the strongest oracle form for an approximate
    prefilter (the ``dedup_minhash_pairs`` precedent).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    ev = docs.filter(F.col("doc_id") % DECONTAM_MH_EVAL_MOD == 0)
    tr = docs.filter(F.col("doc_id") % DECONTAM_MH_EVAL_MOD != 0)
    pairs = minhash_lsh_cross_pairs(
        tr, ev, n=3, num_hashes=DECONTAM_MH_HASHES,
        bands=DECONTAM_MH_BANDS, threshold=DECONTAM_MH_TAU)
    return (pairs
            .groupBy(F.col("index_id").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("n_eval_hits"),
                 F.max("jaccard").alias("max_jaccard")))


DECONTAM_MINHASH_SQL = f"""
WITH {_WORDS_CTE}, {_SHINGLES_CTE},
sz AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
evx AS (SELECT doc_id, unnest(shingles) AS g FROM sh
        WHERE doc_id % {DECONTAM_MH_EVAL_MOD} = 0),
trx AS (SELECT doc_id, unnest(shingles) AS g FROM sh
        WHERE doc_id % {DECONTAM_MH_EVAL_MOD} <> 0),
inter AS (SELECT trx.doc_id AS td, evx.doc_id AS ed,
                 count(*) AS ni
          FROM trx JOIN evx USING (g) GROUP BY 1, 2),
j AS (SELECT td, ed,
             CAST(ni AS DOUBLE) / (ts.n_sh + es.n_sh - ni) AS jac
      FROM inter
      JOIN sz ts ON ts.doc_id = td
      JOIN sz es ON es.doc_id = ed)
SELECT td AS doc_id, count(*) AS n_eval_hits,
       round(max(jac), 4) AS max_jaccard
FROM j WHERE jac >= {DECONTAM_MH_TAU!r}
GROUP BY 1
"""


# --- unicode normalization ----------------------------------------------------

#: deterministic non-NFC text planted into the (ASCII-safe) synthetic
#: corpus so the normalization pass exercises both the changed and
#: unchanged paths with doc-varying counts — the PII-planting recipe.
#: U+0301 combining acute / U+030A combining ring decompose-compose;
#: the %7 arm appends an ALREADY-composed é (must not change).
def _nfc_planted(doc_id, text):
    # explicit escapes, never source-literal accented chars: an editor
    # or tool normalizing this file would silently flip the planted
    # forms (the %2/%3 arms MUST be decomposed e+U+0301 / A+U+030A;
    # the %7 arm MUST be the composed U+00E9)
    return F.concat(
        text,
        F.when(doc_id % 2 == 0, F.lit(" e\u0301")).otherwise(F.lit("")),
        F.when(doc_id % 3 == 0, F.lit(" A\u030a")).otherwise(F.lit("")),
        F.when(doc_id % 7 == 0, F.lit(" \u00e9")).otherwise(F.lit("")))


_NFC_PLANTED_SQL = """
  text || CASE WHEN doc_id % 2 = 0 THEN ' e' || chr(769) ELSE '' END
       || CASE WHEN doc_id % 3 = 0 THEN ' A' || chr(778) ELSE '' END
       || CASE WHEN doc_id % 7 = 0 THEN ' ' || chr(233) ELSE '' END
"""


def doc_nfc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Unicode-normalization report: documents whose text
    changes under NFC and the code points saved — the hygiene pass
    that must run BEFORE any byte-hashing stage (exact dedup,
    fingerprints, shingles), since composed and decomposed spellings
    of identical text hash apart.

    The normalization itself is the documented pandas-UDF exception
    (functions/normalize.py — Spark has no Unicode-composition
    builtin); everything around it is row-local expressions + one
    partial-agg groupBy. Cross-engine: CPython unicodedata vs DuckDB
    utf8proc, both implementing the same canonical composition — the
    hash gate certifies their agreement on every run."""
    from mapreducewordcount_spark.functions.normalize import (
        nfc_normalize,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    planted = _nfc_planted(F.col("doc_id"), F.col("text"))
    norm = nfc_normalize(planted)
    # coalesce both per-row terms (ADVICE r10): NULL text yields a
    # NULL comparison in Spark but the oracle's CASE WHEN yields 0,
    # so an all-NULL source would report n_changed NULL vs 0. Pinning
    # NULL text to (0, 0) on BOTH sides keeps the engines aligned.
    return (docs
            .select("source",
                    F.coalesce((planted != norm).cast("int"), F.lit(0))
                    .alias("chg"),
                    F.coalesce(F.length(planted) - F.length(norm),
                               F.lit(0)).alias("delta"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("chg").alias("n_changed"),
                 F.sum("delta").alias("chars_delta")))


DOC_NFC_SQL = f"""
WITH planted AS (
  SELECT source, {_NFC_PLANTED_SQL} AS p FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN p <> nfc_normalize(p) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_changed,
       CAST(sum(coalesce(length(p) - length(nfc_normalize(p)), 0))
            AS BIGINT) AS chars_delta
FROM planted
GROUP BY source
"""


# --- event-type transition mining --------------------------------------------

def events_type_transitions(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's event
    stream: (from_type, to_type, n_transitions, p_transition), the
    per-source row probability — the sequence-mining diagnostic
    behind funnel design and session-model sanity checks.

    Plan: one shuffle to order each user's stream (the lead window;
    per-user partitions are bounded), then a partial-agg count onto
    ≤ |types|² rows; the probability normalization is a window over
    that tiny aggregate. No joins, no Python.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (e.select(F.col("event_type").alias("from_type"),
                    F.lead("event_type").over(w).alias("to_type"))
           .filter(F.col("to_type").isNotNull()))
    counts = (seq.groupBy("from_type", "to_type")
              .agg(F.count(F.lit(1)).alias("n_transitions")))
    tot = Window.partitionBy("from_type")
    return counts.select(
        "from_type", "to_type", "n_transitions",
        F.round(F.col("n_transitions").cast("double")
                / F.sum("n_transitions").over(tot), 4)
        .alias("p_transition"))


EVENTS_TRANSITIONS_SQL = """
WITH s AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
)
SELECT from_type, to_type, count(*) AS n_transitions,
       round(CAST(count(*) AS DOUBLE)
             / CAST(sum(count(*)) OVER (PARTITION BY from_type)
                    AS DOUBLE), 4) AS p_transition
FROM s WHERE to_type IS NOT NULL
GROUP BY 1, 2
"""


QUERIES = {
    "part_pair_affinity": QuerySpec(part_pair_affinity,
                                    PART_PAIR_AFFINITY_SQL),
    "basket_cap_report": QuerySpec(basket_cap_report, BASKET_CAP_SQL),
    "decontam_minhash_report": QuerySpec(decontam_minhash_report,
                                         DECONTAM_MINHASH_SQL),
    "events_type_transitions": QuerySpec(events_type_transitions,
                                         EVENTS_TRANSITIONS_SQL),
    "doc_nfc_stats": QuerySpec(doc_nfc_stats, DOC_NFC_SQL),
}
