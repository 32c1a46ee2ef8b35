"""Round-7 training-data operators: exact-substring dedup and the
edit-distance similarity join.

Oracle notes:

- ``part_name_fuzzy_pairs`` — the STRONGEST oracle form in the
  registry: the engine runs the PassJoin segment/probe candidate
  scheme (``operators/editdist.py``) while DuckDB recomputes the
  answer with a completely INDEPENDENT algorithm (brute-force
  length-filtered ``levenshtein`` over all pairs — quadratic is fine
  at oracle scale), so a recall bug in the banding cannot hide
  behind a shared candidate structure. Both engines implement
  classic unit-cost Levenshtein.

- ``exact_substring_dedup`` — the engine shuffles ``xxhash64`` L-gram
  keys while the oracle groups the L-gram STRINGS themselves (the
  ``doc_dup_spans`` precedent: equality of the two relations is exact
  up to a 2^-64 birthday collision in the hash, which the committed
  corpora don't exhibit).
  Everything downstream — occurrence counting, interval merge
  (gaps-and-islands), span stats, and the token-level rewrite — is
  replicated in portable SQL; the cleaned TEXT itself is hash-checked,
  so a single off-by-one span boundary fails the gate. The oracle
  rebuilds kept text with a position anti-join; the Spark side uses an
  indexed array filter instead because a position-level range join
  would plan as a broadcast nested loop (see
  ``operators/exact_substring.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducewordcount_spark.queries import QuerySpec
from mapreducewordcount_spark.queries.dedup_queries import _WORDS_CTE
from mapreducewordcount_spark.sources.tables import load_table, spread

# Lee et al. 2022 publish L=50 (BPE tokens); the synthetic corpus
# averages ~54 words/doc, so the gate runs the same operator at L=15 —
# long enough that no span arises by chance, short enough that the
# planted near-identical docs produce real spans to verify.
ESD_MIN_TOKENS = 15


def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022 ExactSubstr semantics):
    per doc, every duplicated >=L-token span located, merged maximal,
    and removed from the token stream."""
    from mapreducewordcount_spark.operators.exact_substring import (
        exact_substring_dedup as esd,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    return esd(docs, min_tokens=ESD_MIN_TOKENS, min_count=2)


_L = ESD_MIN_TOKENS

EXACT_SUBSTRING_SQL = rf"""
WITH {_WORDS_CTE},
g AS (
  SELECT doc_id, i AS s,
         array_to_string(words[i:i+{_L - 1}], ' ') AS ng
  FROM w, unnest(range(1, len(words) - {_L - 2})) AS t(i)
),
dup AS (SELECT ng FROM g GROUP BY ng HAVING count(*) >= 2),
cov AS (SELECT g.doc_id, g.s, g.s + {_L - 1} AS e
        FROM g JOIN dup USING (ng)),
brk AS (
  SELECT doc_id, s, e,
         CASE WHEN s > coalesce(max(e) OVER (
                  PARTITION BY doc_id ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -1) + 1
              THEN 1 ELSE 0 END AS b
  FROM cov
),
isl AS (
  SELECT doc_id, s, e,
         sum(b) OVER (PARTITION BY doc_id ORDER BY s) AS sid
  FROM brk
),
spans AS (
  SELECT doc_id, min(s) AS ss, max(e) AS se
  FROM isl GROUP BY doc_id, sid
),
per AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_dup_spans,
         CAST(sum(se - ss + 1) AS BIGINT) AS n_dup_tokens
  FROM spans GROUP BY 1
),
tok AS (
  SELECT doc_id, i AS pos, words[i] AS word
  FROM w, unnest(range(1, len(words) + 1)) AS t(i)
),
kept AS (
  SELECT t.doc_id, t.pos, t.word
  FROM tok t
  WHERE NOT EXISTS (SELECT 1 FROM spans sp
                    WHERE sp.doc_id = t.doc_id
                      AND t.pos BETWEEN sp.ss AND sp.se)
),
ct AS (
  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS cleaned_text
  FROM kept GROUP BY 1
)
SELECT w.doc_id,
       CAST(len(w.words) AS BIGINT) AS n_tokens,
       CAST(coalesce(per.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(coalesce(per.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
       coalesce(ct.cleaned_text, '') AS cleaned_text
FROM w LEFT JOIN per USING (doc_id) LEFT JOIN ct USING (doc_id)
"""


FUZZY_TAU = 2


def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join (PassJoin partition scheme): all
    part-name pairs within Levenshtein 2 in star form — identical
    names emit (min-key representative, member, 0) rows, the banded
    join runs over distinct names. The testdata draws p_name from a
    64-name pool with cliques of hundreds, so the full pairwise form
    is O(clique²) output (5.5M rows at sf0.1 vs 20k in star form) —
    exactly the blowup collapse_identical exists to kill."""
    from mapreducewordcount_spark.operators.editdist import editdist_pairs

    part = spread(load_table(spark, sf_dir, "part"))
    return editdist_pairs(part, "p_partkey", "p_name", tau=FUZZY_TAU,
                          collapse_identical=True)


PART_FUZZY_SQL = f"""
WITH reps AS (
  SELECT p_name AS s, min(p_partkey) AS rid FROM part GROUP BY 1
),
star AS (
  SELECT r.rid AS a_id, p.p_partkey AS b_id, 0 AS dist
  FROM part p JOIN reps r ON p.p_name = r.s AND p.p_partkey <> r.rid
),
near AS (
  SELECT a.rid AS a_id, b.rid AS b_id,
         levenshtein(a.s, b.s) AS dist
  FROM reps a JOIN reps b
    ON a.rid < b.rid
   AND abs(length(a.s) - length(b.s)) <= {FUZZY_TAU}
  WHERE levenshtein(a.s, b.s) <= {FUZZY_TAU}
)
SELECT a_id, b_id, CAST(dist AS INT) AS dist FROM star
UNION ALL
SELECT a_id, b_id, CAST(dist AS INT) AS dist FROM near
"""


def cdc_change_batch(orders: DataFrame) -> DataFrame:
    """The deterministic CDC change log both the merge gate query and
    the SCD2 history gate query apply to the orders snapshot:
    updates at version 2 (+1000.00 for keys %7), conflicting later
    updates at version 3 (doubled price for keys %21 — latest-wins
    must override the v2 row), deletes at version 4 (keys %13 —
    delete beats both earlier updates on overlapping keys), and
    inserts under fresh negative keys (%11).

    The +1000.0 / *2 transforms are EXACT in IEEE double (no
    round-boundary risk cross-engine)."""
    key = F.col("o_orderkey")
    u2 = (orders.filter(key % 7 == 0)
          .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
          .withColumn("_version", F.lit(2)).withColumn("_op", F.lit("U")))
    u3 = (orders.filter(key % 21 == 0)
          .withColumn("o_totalprice", F.col("o_totalprice") * 2)
          .withColumn("_version", F.lit(3)).withColumn("_op", F.lit("U")))
    dels = (orders.filter(key % 13 == 0)
            .withColumn("_version", F.lit(4)).withColumn("_op", F.lit("D")))
    # fresh keys are strictly negative: plain -key would map the
    # corpus's real o_orderkey = 0 onto itself and collide the insert
    # with that key's version-4 delete
    ins = (orders.filter(key % 11 == 0)
           .withColumn("o_orderkey", -key - 1)
           .withColumn("_version", F.lit(1)).withColumn("_op", F.lit("U")))
    return u2.unionByName(u3).unionByName(dels).unionByName(ins)


def orders_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (operators/merge.py): apply the deterministic change
    batch (``cdc_change_batch``) to the orders snapshot, then
    summarize the merged snapshot per order status.

    The oracle reconstructs the merged state with independent
    CASE/WHERE semantics rather than the engine's anti-join + union
    plan — so precedence bugs (update-after-delete, stale-version
    wins) cannot hide."""
    from mapreducewordcount_spark.operators.merge import merge_upsert

    orders = load_table(spark, sf_dir, "orders")
    updates = cdc_change_batch(orders)
    merged = merge_upsert(orders, updates, ["o_orderkey"])
    return (merged
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_price")))


ORDERS_CDC_SQL = """
WITH merged AS (
  SELECT o_orderstatus,
         CASE WHEN o_orderkey % 21 = 0 THEN o_totalprice * 2
              WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
              ELSE o_totalprice END AS price
  FROM orders
  WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderstatus, o_totalprice AS price
  FROM orders WHERE o_orderkey % 11 = 0  -- inserts at key -k-1
)
SELECT o_orderstatus, count(*) AS n_orders,
       round(sum(price), 2) AS total_price
FROM merged GROUP BY 1
"""


QUERIES = {
    "exact_substring_dedup": QuerySpec(exact_substring_dedup,
                                       EXACT_SUBSTRING_SQL),
    "part_name_fuzzy_pairs": QuerySpec(part_name_fuzzy_pairs,
                                       PART_FUZZY_SQL),
    "orders_cdc_merge": QuerySpec(orders_cdc_merge, ORDERS_CDC_SQL),
}
