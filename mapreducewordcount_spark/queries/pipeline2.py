"""Training-data pipeline batch 2 (round 3): repetition signals,
cross-document boilerplate, sequence packing, mixture planning.

Extension scope per SURVEY.md §2.5 — the reference engine
(/root/reference/src/, 549-line word-count) has no document
pipeline; these are the Gopher-rule / dataset-assembly passes a
100 TB training-data build runs after dedup and hygiene.

Oracle discipline (same as pipeline_queries.py): integer counts and
length arithmetic wherever possible; the only doubles are ratios
rounded to 6dp on both sides; window frames and orderings are total
(doc_id tiebreaks) so both engines resolve identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.repetition import (
    lines,
    dup_line_char_fraction,
    dup_line_fraction,
    top_word_fraction,
)
from mapreducewordcount_spark.operators.boilerplate import boilerplate_report
from mapreducewordcount_spark.operators.packing import (
    mixture_plan,
    pack_sequences,
)
from mapreducewordcount_spark.queries import QuerySpec
from mapreducewordcount_spark.sources import sig_artifacts as _sig_artifacts
from mapreducewordcount_spark.sources.tables import load_table, spread

#: DuckDB twin of functions/repetition._lines — split on newline,
#: trim, drop empties (Spark F.trim / DuckDB trim both strip spaces).
_LINES_CTE = r"""
ln AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)),
                                    x -> trim(x)),
                     x -> length(x) > 0) AS ls
  FROM documents
)
"""


# --- per-doc repetition signals ---------------------------------------------

def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule repetition signals per document — duplicate-line
    fraction, duplicate-line *character* fraction, top-word
    dominance. Narrow map over the scan; the only possible Exchange
    is ``spread()``'s parallelism top-up, which no-ops once the
    source scan already has full parallelism (plan-pinned in
    tests/test_plans.py)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.round(dup_line_fraction("text"), 6).alias("dup_line_frac"),
        F.round(dup_line_char_fraction("text"), 6).alias("dup_char_frac"),
        F.round(top_word_fraction("text"), 6).alias("top_word_frac"))


DOC_REPETITION_SQL = rf"""
WITH {_LINES_CTE},
w AS (
  SELECT doc_id,
         list_filter(
           list_transform(regexp_split_to_array(lower(text), '\s+'),
                          x -> regexp_replace(x, '^[!-/:-@\[-`{{-~]+|[!-/:-@\[-`{{-~]+$', '', 'g')),
           x -> x <> '') AS words
  FROM documents
),
tw AS (SELECT doc_id, unnest(words) AS word FROM w),
twc AS (SELECT doc_id, word, count(*) AS c FROM tw GROUP BY 1, 2),
twa AS (SELECT doc_id, max(c) AS best, sum(c) AS n FROM twc GROUP BY 1)
SELECT d.doc_id,
       round(CASE WHEN len(ln.ls) > 0
             THEN 1.0 - CAST(len(list_distinct(ln.ls)) AS DOUBLE) / len(ln.ls)
             ELSE 0.0 END, 6) AS dup_line_frac,
       round(CASE WHEN COALESCE(list_sum(list_transform(ln.ls, x -> length(x))), 0) > 0
             THEN CAST(list_sum(list_transform(ln.ls, x -> length(x)))
                       - list_sum(list_transform(list_distinct(ln.ls), x -> length(x))) AS DOUBLE)
                  / list_sum(list_transform(ln.ls, x -> length(x)))
             ELSE 0.0 END, 6) AS dup_char_frac,
       round(CASE WHEN COALESCE(twa.n, 0) > 0
             THEN CAST(twa.best AS DOUBLE) / twa.n
             ELSE 0.0 END, 6) AS top_word_frac
FROM documents d
JOIN ln USING (doc_id)
LEFT JOIN twa USING (doc_id)
"""


# --- cross-document boilerplate ---------------------------------------------

def boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: distinct lines, lines shared by ≥3 docs of the same
    source (boilerplate), and the boilerplate fraction."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return boilerplate_report(docs, min_docs=3)


BOILERPLATE_SQL = rf"""
WITH {_LINES_CTE},
dl AS (SELECT doc_id, unnest(list_distinct(ls)) AS line FROM ln),
docsrc AS (SELECT doc_id, source FROM documents),
df AS (
  SELECT s.source, d.line, count(*) AS n_docs
  FROM dl d JOIN docsrc s USING (doc_id)
  GROUP BY 1, 2
),
boiler AS (SELECT source, line FROM df WHERE n_docs >= 3),
flagged AS (
  SELECT d.doc_id, count(*) AS n_boiler_lines
  FROM dl d JOIN docsrc s USING (doc_id)
  JOIN boiler b ON b.source = s.source AND b.line = d.line
  GROUP BY 1
),
counts AS (SELECT doc_id, count(*) AS n_lines FROM dl GROUP BY 1)
SELECT d.doc_id,
       COALESCE(c.n_lines, 0) AS n_lines,
       COALESCE(f.n_boiler_lines, 0) AS n_boiler_lines,
       CASE WHEN COALESCE(c.n_lines, 0) > 0
            THEN round(CAST(COALESCE(f.n_boiler_lines, 0) AS DOUBLE)
                       / c.n_lines, 6)
            ELSE 0.0 END AS boiler_fraction
FROM documents d
LEFT JOIN counts c USING (doc_id)
LEFT JOIN flagged f USING (doc_id)
"""


# --- sequence packing -------------------------------------------------------

def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into 512-token training sequences, 4 shards per
    source (see operators/packing.py for the shard-parallel design)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return pack_sequences(docs, budget_tokens=512, n_shards=4)


PACK_SQL = r"""
WITH d AS (
  SELECT doc_id, source, doc_id % 4 AS shard,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, source, shard, n_tokens,
       CAST(floor(COALESCE(sum(n_tokens) OVER (
             PARTITION BY source, shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / 512.0) AS BIGINT) AS seq_id
FROM d
"""


# --- mixture planning -------------------------------------------------------

#: target language mixture (fixed so the oracle can embed it)
MIX_WEIGHTS = {"en": 0.5, "de": 0.15, "fr": 0.15, "es": 0.1, "zh": 0.1}
MIX_BUDGET = 1_000_000


def training_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token inventory + sampling rate per language for a 1M-token
    mixture at the MIX_WEIGHTS targets."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return mixture_plan(docs, MIX_WEIGHTS, MIX_BUDGET, group_col="lang")


_WEIGHTS_SQL = "(VALUES " + ", ".join(
    f"('{k}', {v})" for k, v in MIX_WEIGHTS.items()) + ") AS wt(lang, w)"

MIXTURE_SQL = rf"""
WITH inv AS (
  SELECT lang, count(*) AS n_docs,
         -- CAST the sum itself: DuckDB sum(BIGINT) returns HUGEINT,
         -- which the driver gate's hasher renders differently than
         -- Spark's bigint even when every value is identical.
         CAST(sum(CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT)) AS BIGINT) AS tokens_available
  FROM documents GROUP BY 1
)
SELECT inv.lang, inv.n_docs, inv.tokens_available,
       round(COALESCE(wt.w, 0.0) / {sum(MIX_WEIGHTS.values())!r}, 6) AS weight,
       CAST(floor(COALESCE(wt.w, 0.0) / {sum(MIX_WEIGHTS.values())!r} * {MIX_BUDGET}) AS BIGINT) AS tokens_target,
       CASE WHEN inv.tokens_available > 0
            THEN round(CAST(floor(COALESCE(wt.w, 0.0) / {sum(MIX_WEIGHTS.values())!r} * {MIX_BUDGET}) AS BIGINT)
                       / CAST(inv.tokens_available AS DOUBLE), 6)
            ELSE 0.0 END AS sample_rate
FROM inv LEFT JOIN {_WEIGHTS_SQL} ON inv.lang = wt.lang
"""


# --- unigram LM quality -----------------------------------------------------

#: small on purpose: with the synthetic corpus's ~31-word vocabulary,
#: a 16-word cap forces real truncation, so the OOV smoothing path is
#: exercised instead of vacuously covered.
LM_VMAX = 16


def doc_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean per-token log-probability under a corpus unigram model
    (Laplace smoothing, top-16 vocab). Build pass = one tiny groupBy;
    apply pass = zero-shuffle literal-map fold."""
    from mapreducewordcount_spark.operators.lmscore import (
        build_unigram_model,
        unigram_logprob,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    vocab, oov = build_unigram_model(docs, v_max=LM_VMAX)
    return unigram_logprob(docs, vocab, oov)


_W_CTE = r"""
w AS (
  SELECT doc_id,
         list_filter(
           list_transform(regexp_split_to_array(lower(text), '\s+'),
                          x -> regexp_replace(x, '^[!-/:-@\[-`{-~]+|[!-/:-@\[-`{-~]+$', '', 'g')),
           x -> x <> '') AS words
  FROM documents
)
"""

LM_QUALITY_SQL = rf"""
WITH {_W_CTE},
tok AS (
  SELECT doc_id, i AS pos, words[i] AS word
  FROM w, unnest(range(1, len(words) + 1)) AS t(i)
),
c AS (SELECT word, count(*) AS c FROM tok GROUP BY 1),
v AS (SELECT word, c FROM c ORDER BY c DESC, word LIMIT {LM_VMAX}),
p AS (
  SELECT (SELECT COALESCE(sum(c), 0) FROM c)
         + (SELECT count(*) FROM v) + 1 AS denom
),
lp AS (
  SELECT t.doc_id, t.pos,
         ln((CASE WHEN v.word IS NULL THEN 1 ELSE v.c + 1 END)
            / (SELECT CAST(denom AS DOUBLE) FROM p)) AS logp
  FROM tok t LEFT JOIN v USING (word)
),
agg AS (
  SELECT doc_id, count(*) AS n_words,
         round(sum(logp ORDER BY pos) / count(*), 4) AS lm_score
  FROM lp GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(a.n_words, 0) AS n_words,
       COALESCE(a.lm_score, 0.0) AS lm_score
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


# --- duplicate-span stats ---------------------------------------------------

def doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup signal: fraction of each doc's word
    5-gram occurrences whose 5-gram appears ≥2 times corpus-wide."""
    from mapreducewordcount_spark.operators.dupspans import (
        duplicate_span_stats,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    return duplicate_span_stats(docs, n=5, min_count=2)


DUP_SPANS_SQL = rf"""
WITH {_W_CTE},
g AS (
  SELECT doc_id, list_aggregate(words[i:i+4], 'string_agg', ' ') AS ng
  FROM w, unnest(range(1, len(words) - 3)) AS t(i)
),
df AS (SELECT ng, count(*) AS c FROM g GROUP BY 1),
per AS (
  SELECT g.doc_id, count(*) AS n_ngrams,
         -- CAST: DuckDB sum() yields HUGEINT (hash-drifts vs Spark bigint)
         CAST(sum(CASE WHEN df.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_ngrams
  FROM g JOIN df USING (ng)
  GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(p.n_ngrams, 0) AS n_ngrams,
       COALESCE(p.n_dup_ngrams, 0) AS n_dup_ngrams,
       CASE WHEN COALESCE(p.n_ngrams, 0) > 0
            THEN round(CAST(p.n_dup_ngrams AS DOUBLE) / p.n_ngrams, 6)
            ELSE 0.0 END AS dup_fraction
FROM documents d LEFT JOIN per p USING (doc_id)
"""


# --- entropy / compressibility signals --------------------------------------

def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character Shannon entropy (bits/char) — narrow map,
    entropy fold over sorted distinct chars (order-pinned floats)."""
    from mapreducewordcount_spark.functions.text_metrics import char_entropy

    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", F.round(char_entropy("text"), 4).alias("entropy_bits"))


CHAR_ENTROPY_SQL = r"""
WITH cs AS (
  SELECT doc_id,
         CASE WHEN length(text) >= 1
              THEN list_transform(range(1, length(text) + 1),
                                  i -> substring(text, i, 1))
              ELSE [] END AS chars
  FROM documents
),
u AS (
  SELECT doc_id, chars, list_sort(list_distinct(chars)) AS uniq
  FROM cs
)
SELECT doc_id,
       CASE WHEN len(chars) > 0 THEN
         round(list_aggregate(
           list_transform(uniq,
             d -> -(CAST(len(list_filter(chars, x -> x = d)) AS DOUBLE)
                    / len(chars))
                  * log2(CAST(len(list_filter(chars, x -> x = d)) AS DOUBLE)
                         / len(chars))),
           'sum'), 4)
       ELSE 0.0 END AS entropy_bits
FROM u
"""


def zlib_size_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, comp_bytes) — ``doc_compression_ratio``'s zlib table."""
    from mapreducewordcount_spark.functions.text_metrics import (
        compressed_size_udf,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id",
                       compressed_size_udf()("text").alias("comp_bytes"))


def doc_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc zlib compressibility (compressed/raw bytes, level 6).
    Thresholds pinned on planted repetitive-vs-natural text in
    tests/test_text_metrics.py.

    Round 6: the zlib byte count (``zlib_size_model``) — the only
    non-SQL piece — is a committed artifact, and DuckDB recomputes
    the denominator (``octet_length`` of the UTF-8 text), the
    division and the rounding from it, flipping this row from
    rows-only to a full value-hash check of the ratio arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    return (zlib_size_model(spark, sf_dir)
            .join(docs.select("doc_id", "text"), "doc_id")
            .select("doc_id",
                    F.when(F.octet_length("text") > 0,
                           F.round(F.col("comp_bytes")
                                   / F.octet_length("text").cast("double"),
                                   6))
                    .otherwise(F.lit(0.0)).alias("zlib_ratio")))


COMPRESSION_SQL = f"""
WITH {_sig_artifacts.frame_cte('cm', 'doc_compression_ratio',
                               _sig_artifacts.DOC_KEY_SQL)}
SELECT d.doc_id,
       CASE WHEN octet_length(encode(d.text)) > 0
            THEN round(cm.comp_bytes
                       / CAST(octet_length(encode(d.text)) AS DOUBLE), 6)
            ELSE 0.0 END AS zlib_ratio
FROM documents d JOIN cm ON cm.doc_id = d.doc_id
"""


# --- quality feature vector (classifier input) ------------------------------

def doc_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full per-doc quality feature vector in ONE narrow map —
    what you export to train a quality classifier (the step above
    the heuristic score): length/vocabulary stats, stopword and
    punctuation ratios, Gopher repetition signals, token count, and
    the composite heuristic score. One scan, one pass, no shuffle
    beyond spread()'s parallelism top-up (every feature is a
    row-local column expression from functions/)."""
    from mapreducewordcount_spark.functions import text_metrics as tm

    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        tm.n_words("text").alias("n_words"),
        tm.n_distinct_words("text").alias("n_distinct_words"),
        F.round(tm.avg_word_len("text"), 4).alias("avg_word_len"),
        F.round(tm.stopword_ratio("text"), 4).alias("stopword_ratio"),
        F.round(tm.punct_ratio("text"), 4).alias("punct_ratio"),
        F.round(dup_line_fraction("text"), 6).alias("dup_line_frac"),
        F.round(dup_line_char_fraction("text"), 6).alias("dup_char_frac"),
        F.round(top_word_fraction("text"), 6).alias("top_word_frac"),
        tm.token_count("text").alias("n_tokens"),
        F.round(tm.quality_score("text"), 4).alias("quality"))


def _quality_features_sql() -> str:
    from mapreducewordcount_spark.queries.analytics import (
        _EN_STOPS_SQL,
        _WORDS_CTE,
    )

    return rf"""
WITH {_WORDS_CTE},
{_LINES_CTE.strip().rstrip()},
tw AS (
  SELECT doc_id, unnest(words) AS word FROM w
),
twc AS (SELECT doc_id, word, count(*) AS c FROM tw GROUP BY 1, 2),
twa AS (SELECT doc_id, max(c) AS best, sum(c) AS n FROM twc GROUP BY 1),
m AS (
  SELECT w.doc_id, w.text, w.words,
         len(w.words) AS nw,
         CASE WHEN len(w.words) > 0
              THEN list_sum(list_transform(w.words, x -> strlen(x)))::DOUBLE / len(w.words)
              ELSE 0.0 END AS awl,
         CASE WHEN len(w.words) > 0
              THEN len(list_filter(w.words, x -> list_contains({_EN_STOPS_SQL}, x)))::DOUBLE / len(w.words)
              ELSE 0.0 END AS sr,
         CASE WHEN strlen(regexp_replace(w.text, '\s+', '', 'g')) > 0
              THEN (strlen(w.text) - strlen(regexp_replace(w.text, '[!-/:-@\[-`{{-~]', '', 'g')))::DOUBLE
                   / strlen(regexp_replace(w.text, '\s+', '', 'g'))
              ELSE 0.0 END AS pr
  FROM w
)
SELECT m.doc_id,
       CAST(m.nw AS INT) AS n_words,
       CAST(len(list_distinct(m.words)) AS INT) AS n_distinct_words,
       round(m.awl, 4) AS avg_word_len,
       round(m.sr, 4) AS stopword_ratio,
       round(m.pr, 4) AS punct_ratio,
       round(CASE WHEN len(ln.ls) > 0
             THEN 1.0 - CAST(len(list_distinct(ln.ls)) AS DOUBLE) / len(ln.ls)
             ELSE 0.0 END, 6) AS dup_line_frac,
       round(CASE WHEN COALESCE(list_sum(list_transform(ln.ls, x -> length(x))), 0) > 0
             THEN CAST(list_sum(list_transform(ln.ls, x -> length(x)))
                       - list_sum(list_transform(list_distinct(ln.ls), x -> length(x))) AS DOUBLE)
                  / list_sum(list_transform(ln.ls, x -> length(x)))
             ELSE 0.0 END, 6) AS dup_char_frac,
       round(CASE WHEN COALESCE(twa.n, 0) > 0
             THEN CAST(twa.best AS DOUBLE) / twa.n
             ELSE 0.0 END, 6) AS top_word_frac,
       CAST(len(regexp_extract_all(m.text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INT) AS n_tokens,
       round(CAST(0.3 * (CASE WHEN m.nw BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
           + 0.2 * (CASE WHEN m.awl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
           + 0.3 * (CASE WHEN m.sr >= 0.01 THEN 1.0 ELSE 0.0 END)
           + 0.2 * (CASE WHEN m.pr <= 0.2 THEN 1.0 ELSE 0.0 END) AS DOUBLE), 4) AS quality
FROM m
JOIN ln USING (doc_id)
LEFT JOIN twa USING (doc_id)
"""


# --- C4-style duplicate-line removal ----------------------------------------

def c4_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite every document keeping only the corpus-wide first
    occurrence of each line (operators/linededup.py)."""
    from mapreducewordcount_spark.operators.linededup import (
        strip_duplicate_lines,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    return strip_duplicate_lines(docs)


C4_LINE_DEDUP_SQL = rf"""
WITH {_LINES_CTE},
occ AS (
  SELECT doc_id, i AS pos, ls[i] AS line
  FROM ln, unnest(range(1, len(ls) + 1)) AS t(i)
),
k AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY line
                            ORDER BY doc_id, pos) AS rn
  FROM occ
),
reb AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text_clean
  FROM k WHERE rn = 1 GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(reb.text_clean, '') AS text_clean,
       CAST(len(ln.ls) AS INT) AS n_lines,
       COALESCE(reb.n_kept, 0) AS n_kept
FROM documents d
JOIN ln USING (doc_id)
LEFT JOIN reb USING (doc_id)
"""


def _hex4_sql(expr: str) -> str:
    """DuckDB SQL: first 4 hex digits of hex-string ``expr`` as an
    integer (per-digit ``instr`` arithmetic — portable to engines
    without hex→int conversion)."""
    hx = "'0123456789abcdef'"
    terms = " + ".join(
        f"(instr({hx}, substr({expr}, {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4))
    return f"({terms})"


# --- reproducible epoch shuffle ---------------------------------------------

EPOCH = 1
N_EPOCH_SHARDS = 8


def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training order for epoch 1: every doc gets a
    shard and a position-within-shard, both pure functions of
    (doc_id, epoch) via a salted md5 — same order on any engine /
    partitioning / rerun, different order next epoch. The rank
    window partitions by shard, so the sort is per-shard (size
    corpus/n_shards), never global."""
    from mapreducewordcount_spark.functions.sampling import (
        epoch_shard,
        epoch_shuffle_key,
    )
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = (Window.partitionBy("shard")
         .orderBy("shuffle_key", "doc_id"))
    return (docs
            .select("doc_id",
                    epoch_shard("doc_id", EPOCH, N_EPOCH_SHARDS)
                    .alias("shard"),
                    epoch_shuffle_key("doc_id", EPOCH).alias("shuffle_key"))
            .withColumn("position",
                        F.row_number().over(w).cast("long"))
            .select("doc_id", "shard", "position"))


EPOCH_SHUFFLE_SQL = f"""
WITH k AS (
  SELECT doc_id,
         md5(CAST(doc_id AS VARCHAR) || ':{EPOCH}') AS shuffle_key
  FROM documents
),
s AS (
  SELECT doc_id, shuffle_key,
         CAST({_hex4_sql("shuffle_key")}
              % {N_EPOCH_SHARDS} AS INT) AS shard
  FROM k
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard
                               ORDER BY shuffle_key, doc_id) AS BIGINT)
       AS position
FROM s
"""


def curriculum_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered training sequence for epoch 1: within each
    shard, documents sort by quality tier (best first) and by the
    reproducible shuffle key inside a tier — quality-first curricula
    with epoch-decorrelated order inside each tier, the standard
    staged-training recipe.

    Pure composition of shipped operators: ``quality_score`` (the
    heuristic weights yield DISCRETE tiers — sums of {.3,.2,.3,.2}
    subsets — so 'tier' needs no window/ntile), ``epoch_shard`` +
    ``epoch_shuffle_key`` (md5-salted, oracle-replicable). The rank
    window partitions by shard → per-shard sorts of corpus/n_shards,
    never a global one.
    """
    from mapreducewordcount_spark.functions import text_metrics as tm
    from mapreducewordcount_spark.functions.sampling import (
        epoch_shard,
        epoch_shuffle_key,
    )
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = (Window.partitionBy("shard")
         .orderBy(F.col("quality").desc(), "shuffle_key", "doc_id"))
    return (docs
            .select("doc_id",
                    F.round(tm.quality_score("text"), 4).alias("quality"),
                    epoch_shard("doc_id", EPOCH, N_EPOCH_SHARDS)
                    .alias("shard"),
                    epoch_shuffle_key("doc_id", EPOCH).alias("shuffle_key"))
            .withColumn("position",
                        F.row_number().over(w).cast("long"))
            .select("doc_id", "quality", "shard", "position"))


def _curriculum_sql() -> str:
    from mapreducewordcount_spark.queries.analytics import DOC_QUALITY_SQL

    return f"""
WITH dq AS ({DOC_QUALITY_SQL}),
k AS (
  SELECT doc_id, quality,
         md5(CAST(doc_id AS VARCHAR) || ':{EPOCH}') AS shuffle_key
  FROM dq
),
s AS (
  SELECT doc_id, quality, shuffle_key,
         CAST({_hex4_sql("shuffle_key")}
              % {N_EPOCH_SHARDS} AS INT) AS shard
  FROM k
)
SELECT doc_id, quality, shard,
       CAST(row_number() OVER (PARTITION BY shard
                               ORDER BY quality DESC, shuffle_key, doc_id)
            AS BIGINT) AS position
FROM s
"""


# --- tokenizer induction (BPE) ----------------------------------------------

def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-weighted adjacent character-pair counts over the word
    vocabulary — the statistic the first BPE merge maximizes. Pair
    enumeration runs on the (distinct-word, freq) table, not the raw
    corpus (operators/bpe.py)."""
    from mapreducewordcount_spark.operators.bpe import bpe_pair_counts

    docs = spread(load_table(spark, sf_dir, "documents"))
    return bpe_pair_counts(docs)


BPE_PAIRS_SQL = rf"""
WITH {_W_CTE},
tok AS (SELECT unnest(words) AS word FROM w),
wf AS (SELECT word, count(*) AS freq FROM tok GROUP BY 1),
p AS (
  SELECT wf.freq,
         substring(wf.word, i, 1) AS a,
         substring(wf.word, i + 1, 1) AS b
  FROM wf, unnest(range(1, length(wf.word))) AS t(i)
  WHERE length(wf.word) >= 2
)
SELECT a, b, CAST(sum(freq) AS BIGINT) AS pair_count
FROM p GROUP BY 1, 2
"""


def bpe_vocab_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, n_tokens) under the corpus-trained 32-merge BPE — the
    model table of ``doc_bpe_tokens`` and ``bpe_fertility_by_lang``."""
    from mapreducewordcount_spark.operators.bpe import (
        bpe_train,
        bpe_vocab_token_counts,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    merges = bpe_train(docs, n_merges=32, v_max_words=4096)
    return bpe_vocab_token_counts(docs, merges)


def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc subword token counts under a corpus-trained 32-merge
    BPE. Train = distributed word count + central merge loop on the
    bounded top-V table; merge semantics pinned against hand-computed
    ground truth in tests/test_bpe.py.

    Round 6: the per-WORD token-count table (``bpe_vocab_model``) —
    the iterative BPE apply SQL can't replicate — is a committed
    artifact (the serving-table form of the tokenizer model), and
    both engines recompute the per-document counting from it:
    tokenize → join the word table → per-doc count/sum, with empty
    docs kept at 0/0. The output is identical to the Arrow-cached
    ``bpe_token_stats`` form (same tokenizer, same merges; pinned in
    tests/test_bpe.py)."""
    from mapreducewordcount_spark.functions.text_metrics import words

    docs = spread(load_table(spark, sf_dir, "documents"))
    vt = bpe_vocab_model(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(words("text")).alias("word"))
    # No broadcast hint on vt: it holds every DISTINCT corpus word
    # (bpe_train's v_max_words bounds only the training table), so it
    # grows with corpus vocabulary — a forced hint would FAIL the job
    # past the broadcast limit at scale, while AQE degrades the join
    # to shuffle gracefully (same policy as the shingle/candidate
    # frames, ADVICE r5/r6).
    agg = (tok.join(vt, "word")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("__nw"),
                F.sum("n_tokens").alias("__nt")))
    return (docs.select("doc_id").join(agg, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("__nw", F.lit(0)).cast("int")
                    .alias("n_words"),
                    F.coalesce("__nt", F.lit(0)).cast("int")
                    .alias("n_bpe_tokens")))


BPE_TOKENS_SQL = rf"""
WITH {_W_CTE},
{_sig_artifacts.frame_cte('vt', 'doc_bpe_tokens',
                          _sig_artifacts.DOC_KEY_SQL)},
tok AS (SELECT doc_id, unnest(words) AS word FROM w),
agg AS (
  SELECT t.doc_id, count(*) AS nw, sum(vt.n_tokens) AS nt
  FROM tok t JOIN vt ON vt.word = t.word
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(agg.nw, 0) AS INT) AS n_words,
       CAST(coalesce(agg.nt, 0) AS INT) AS n_bpe_tokens
FROM documents d LEFT JOIN agg USING (doc_id)
"""


# --- semantic dedup (SemDeDup cluster-then-prune) ---------------------------

def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: k-means clusters, exact
    within-cluster cosine pairs at 0.8, min-id keeper per component.
    Approximate by construction (k-means routing) → rows-only gate
    entry; semantics pinned by planted-ground-truth pytest
    (tests/test_semdedup.py), like the LSH/ANN family.

    ``n_lists ≈ √n`` — the paper's operating point scaled to the
    corpus (Abbas et al. use ~10⁴ clusters for web scale ≈ √(10⁸
    docs)): the within-cluster pair space is Σ|cluster|² ≈ n²/k, so
    k=√n bounds it at n^1.5 and the gate now exercises the
    configuration the 100 TB story depends on instead of a fixed
    test-scale k=16 (VERDICT r5 next#8).

    Round 6: the prune half is under a FULL hash oracle — the
    k-means assignment (``semantic_assignment_model``, the only
    non-SQL-expressible piece) is a committed artifact, and DuckDB
    recomputes within-cluster cosine pairs, the recursive-CTE
    transitive closure, min-id keepers and keep flags from it + the
    raw embeddings view."""
    from mapreducewordcount_spark.operators.semdedup import (
        semantic_dedup_from_assignments,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_from_assignments(
        semantic_assignment_model(spark, sf_dir), emb, threshold=0.8)


def semantic_assignment_model(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """(id, list_id) k-means assignment at ``n_lists ≈ √n`` — the
    model table of ``semantic_dedup_embeddings``."""
    import math

    from mapreducewordcount_spark.operators.semdedup import (
        semantic_assignments,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n_lists = max(8, round(math.sqrt(emb.count())))
    return semantic_assignments(emb, n_lists=n_lists, kmeans_iters=2)


_SEM_COS = """CASE WHEN sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) > 0
            AND sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])) > 0
       THEN list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
            / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
               * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
       ELSE 0.0 END"""

SEMDEDUP_SQL = f"""
WITH RECURSIVE {_sig_artifacts.frame_cte('asn', 'semantic_dedup_embeddings')},
v AS (
  SELECT a.id, a.list_id, e.embedding
  FROM asn a JOIN embeddings e ON e.vec_id = a.id
),
pairs AS (
  SELECT a.id AS a_id, b.id AS b_id
  FROM v a JOIN v b ON a.list_id = b.list_id AND a.id < b.id
  WHERE {_SEM_COS} >= 0.8
),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION ALL SELECT b_id, a_id FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
comp AS (SELECT id, min(r) AS group_id FROM reach GROUP BY id)
SELECT asn.id AS vec_id, asn.list_id,
       coalesce(comp.group_id, asn.id) AS group_id,
       CAST(CASE WHEN coalesce(comp.group_id, asn.id) = asn.id
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM asn LEFT JOIN comp ON asn.id = comp.id
"""


#: the applied-sample query uses a deliberately SMALL budget so the
#: per-language rates land well below 1 and the sampler actually
#: selects (at the 1M gate budget every rate is an upsample ≥ 1 and
#: the filter would be a keep-all no-op)
MIX_APPLY_BUDGET = 4000


def mixture_applied_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """plan → EXECUTION: build the mixture plan at a downsampling
    budget, then apply it with the deterministic md5-prefix
    Bernoulli selector; returns the kept (doc_id, lang, sample_rate)
    rows. Every kept row is replicated by the oracle from the same
    md5 arithmetic, so the selection itself is hash-checked."""
    from mapreducewordcount_spark.operators.packing import apply_mixture

    docs = spread(load_table(spark, sf_dir, "documents"))
    plan = mixture_plan(docs, MIX_WEIGHTS, MIX_APPLY_BUDGET,
                        group_col="lang")
    return (apply_mixture(docs, plan)
            .select("doc_id", "lang", "sample_rate")
            .orderBy("doc_id"))


MIX_APPLIED_SQL = rf"""
WITH inv AS (
  SELECT lang,
         CAST(sum(CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT)) AS BIGINT) AS tokens_available
  FROM documents GROUP BY 1
),
plan AS (
  SELECT inv.lang,
         CASE WHEN inv.tokens_available > 0
              THEN round(CAST(floor(COALESCE(wt.w, 0.0) / {{total_w}} * {{budget}}) AS BIGINT)
                         / CAST(inv.tokens_available AS DOUBLE), 6)
              ELSE 0.0 END AS sample_rate
  FROM inv LEFT JOIN {{weights}} ON inv.lang = wt.lang
)
SELECT d.doc_id, d.lang, p.sample_rate
FROM documents d JOIN plan p USING (lang)
WHERE {_hex4_sql("md5(CAST(d.doc_id AS VARCHAR))")} / 65536.0 < p.sample_rate
ORDER BY d.doc_id
""".replace("{total_w}", repr(sum(MIX_WEIGHTS.values()))) \
   .replace("{budget}", str(MIX_APPLY_BUDGET)) \
   .replace("{weights}", _WEIGHTS_SQL)


def kmeans_model(spark: SparkSession,
                 sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """``embedding_cluster_stats``'s two model tables: the (vec_id,
    cluster_id) assignment and the (cluster_id, cent_vec) centroids
    of spherical Lloyd at k=8, 2 rounds."""
    from mapreducewordcount_spark.operators.clustering import kmeans

    assigned, cent = kmeans(load_table(spark, sf_dir, "embeddings"),
                            k=8, iters=2)
    return assigned.select("vec_id", "cluster_id"), cent


def embedding_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class k-means over the embeddings table: spherical
    Lloyd (k=8, 2 rounds), then the k-row per-cluster summary (size,
    mean/min cosine-to-centroid, deterministic exemplar).
    Planted-cluster recovery is pinned in tests/test_clustering.py.

    Round 6: the summary half is under a FULL hash oracle — the two
    model tables the Lloyd loop produces (``kmeans_model``: the
    (vec_id, cluster_id) assignment and the (cluster_id, cent_vec)
    centroids) are committed artifacts, and DuckDB recomputes the
    same cosines and all the aggregates (size, mean/min, argmax
    exemplar) from them + the raw embeddings view."""
    from mapreducewordcount_spark.functions.vectors import cosine
    from mapreducewordcount_spark.operators.clustering import cluster_stats

    emb = load_table(spark, sf_dir, "embeddings")
    asn, cent = kmeans_model(spark, sf_dir)
    scored = (asn
              .join(emb.select("vec_id",
                               F.col("embedding").alias("__vec")),
                    "vec_id")
              .join(F.broadcast(cent), "cluster_id")
              .withColumn("cos", F.round(cosine("__vec", "cent_vec"), 6))
              .select("vec_id", "cluster_id", "cos"))
    return cluster_stats(scored)


_CLUSTER_COS = """CASE WHEN sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) > 0
            AND sqrt(list_dot_product(c.cent_vec::DOUBLE[], c.cent_vec::DOUBLE[])) > 0
       THEN list_dot_product(e.embedding::DOUBLE[], c.cent_vec::DOUBLE[])
            / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
               * sqrt(list_dot_product(c.cent_vec::DOUBLE[], c.cent_vec::DOUBLE[])))
       ELSE 0.0 END"""

CLUSTER_STATS_SQL = f"""
WITH {_sig_artifacts.frame_cte('asn', 'embedding_cluster_stats_assign')},
{_sig_artifacts.frame_cte('cent', 'embedding_cluster_stats_cent')},
scored AS (
  SELECT a.vec_id, a.cluster_id, round({_CLUSTER_COS}, 6) AS cos
  FROM asn a
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN cent c ON c.cluster_id = a.cluster_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
                               ORDER BY cos DESC, vec_id) AS rn
  FROM scored
),
ex AS (SELECT cluster_id, vec_id AS exemplar_id FROM ranked WHERE rn = 1)
SELECT s.cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       -- order-independent mean: 6dp cos scaled to exact integers,
       -- one final division (matches operators/clustering.py)
       round(CAST(sum(CAST(round(cos * 1000000) AS BIGINT)) AS BIGINT)
             / (count(*) * 1000000.0), 6) AS mean_cos,
       round(min(cos), 6) AS min_cos,
       ex.exemplar_id
FROM scored s JOIN ex USING (cluster_id)
GROUP BY s.cluster_id, ex.exemplar_id
"""


# --- end-to-end dataset build (curate ∘ pack) -------------------------------

def pack_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dataset-build pass in one query: curation keep/drop
    decisions (quality + exact dup + near-dup components,
    queries/curation.py) feed straight into shard-parallel sequence
    packing — only kept documents are packed.

    At scale this is exactly the two-job pipeline a training-data
    build runs (curate → materialize keep list → pack); composing
    them here keeps the whole lineage under one oracle."""
    from mapreducewordcount_spark.queries.curation import curate_corpus

    docs = spread(load_table(spark, sf_dir, "documents"))
    keep = curate_corpus(spark, sf_dir).filter(F.col("keep") == 1) \
        .select("doc_id")
    return pack_sequences(docs.join(keep, "doc_id"),
                          budget_tokens=512, n_shards=4)


def _pack_kept_sql() -> str:
    from mapreducewordcount_spark.queries.curation import CURATE_SQL

    return rf"""
WITH kept AS (
  SELECT doc_id FROM ({CURATE_SQL}) c WHERE c.keep = 1
),
d AS (
  SELECT doc_id, source, doc_id % 4 AS shard,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
  FROM documents JOIN kept USING (doc_id)
)
SELECT doc_id, source, shard, n_tokens,
       CAST(floor(COALESCE(sum(n_tokens) OVER (
             PARTITION BY source, shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / 512.0) AS BIGINT) AS seq_id
FROM d
"""


def pack_mixture_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture→packing lineage in one query (round-5, mirroring
    ``pack_curated_corpus``): build the mixture plan at the
    downsampling budget, EXECUTE it with the deterministic md5-prefix
    Bernoulli selector, and shard-pack only the selected documents
    into 512-token training sequences.

    This is the plan→select→pack pipeline a dataset build actually
    runs; composing it keeps the full lineage under a single oracle —
    the packing prefix-sums run over exactly the sampled rows, so a
    selection bug would shift every downstream seq_id and break the
    hash."""
    from mapreducewordcount_spark.operators.packing import apply_mixture

    docs = spread(load_table(spark, sf_dir, "documents"))
    plan = mixture_plan(docs, MIX_WEIGHTS, MIX_APPLY_BUDGET,
                        group_col="lang")
    sampled = apply_mixture(docs, plan)
    return pack_sequences(sampled, budget_tokens=512, n_shards=4)


PACK_MIXTURE_SQL = rf"""
WITH inv AS (
  SELECT lang,
         CAST(sum(CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT)) AS BIGINT) AS tokens_available
  FROM documents GROUP BY 1
),
plan AS (
  SELECT inv.lang,
         CASE WHEN inv.tokens_available > 0
              THEN round(CAST(floor(COALESCE(wt.w, 0.0) / {{total_w}} * {{budget}}) AS BIGINT)
                         / CAST(inv.tokens_available AS DOUBLE), 6)
              ELSE 0.0 END AS sample_rate
  FROM inv LEFT JOIN {{weights}} ON inv.lang = wt.lang
),
kept AS (
  SELECT d.doc_id
  FROM documents d JOIN plan p USING (lang)
  WHERE {_hex4_sql("md5(CAST(d.doc_id AS VARCHAR))")} / 65536.0 < p.sample_rate
),
s AS (
  SELECT doc_id, source, doc_id % 4 AS shard,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
  FROM documents JOIN kept USING (doc_id)
)
SELECT doc_id, source, shard, n_tokens,
       CAST(floor(COALESCE(sum(n_tokens) OVER (
             PARTITION BY source, shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / 512.0) AS BIGINT) AS seq_id
FROM s
""".replace("{total_w}", repr(sum(MIX_WEIGHTS.values()))) \
   .replace("{budget}", str(MIX_APPLY_BUDGET)) \
   .replace("{weights}", _WEIGHTS_SQL)


QUERIES = {
    "doc_repetition_stats": QuerySpec(doc_repetition_stats,
                                      DOC_REPETITION_SQL),
    "boilerplate_lines": QuerySpec(boilerplate_lines, BOILERPLATE_SQL),
    "pack_training_sequences": QuerySpec(pack_training_sequences, PACK_SQL),
    "training_mixture_plan": QuerySpec(training_mixture_plan, MIXTURE_SQL),
    "mixture_applied_sample": QuerySpec(mixture_applied_sample,
                                        MIX_APPLIED_SQL),
    "doc_lm_quality": QuerySpec(doc_lm_quality, LM_QUALITY_SQL),
    "doc_dup_spans": QuerySpec(doc_dup_spans, DUP_SPANS_SQL),
    "pack_curated_corpus": QuerySpec(pack_curated_corpus, _pack_kept_sql()),
    "semantic_dedup_embeddings": QuerySpec(semantic_dedup_embeddings,
                                           SEMDEDUP_SQL),
    "embedding_cluster_stats": QuerySpec(embedding_cluster_stats,
                                         CLUSTER_STATS_SQL),
    "bpe_pair_stats": QuerySpec(bpe_pair_stats, BPE_PAIRS_SQL),
    "doc_bpe_tokens": QuerySpec(doc_bpe_tokens, BPE_TOKENS_SQL),
    "epoch_shuffle_order": QuerySpec(epoch_shuffle_order, EPOCH_SHUFFLE_SQL),
    "curriculum_epoch_order": QuerySpec(curriculum_epoch_order,
                                        _curriculum_sql()),
    "c4_line_dedup": QuerySpec(c4_line_dedup, C4_LINE_DEDUP_SQL),
    "doc_quality_features": QuerySpec(doc_quality_features,
                                      _quality_features_sql()),
    "doc_char_entropy": QuerySpec(doc_char_entropy, CHAR_ENTROPY_SQL),
    "doc_compression_ratio": QuerySpec(doc_compression_ratio,
                                       COMPRESSION_SQL),
    "pack_mixture_corpus": QuerySpec(pack_mixture_corpus,
                                     PACK_MIXTURE_SQL),
}
