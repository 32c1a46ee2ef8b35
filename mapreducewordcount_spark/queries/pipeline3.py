"""Round-5 training-data operators: chunking, quality-aware dedup
survivor selection, sequence-length/packing-waste profiling,
time-series gap-fill, cross-source n-gram contamination, video frame
sampling, deterministic dataset splits, the n-gram novelty curve,
incremental exact/near dedup, and the k-NN label-accuracy probe.

Every query here is fully deterministic and DuckDB-oracled. Oracle
notes:

- ``doc_chunks`` — pure integer arithmetic over a whitespace token
  array; ``regexp_extract_all('\\S+')`` on both engines.
- ``dedup_survivors`` — reuses the recursive-CTE transitive closure
  (dedup_queries) and the quality formula (curation) verbatim, then a
  deterministic argmax: quality DESC, doc_id ASC.
- ``seq_length_histogram`` — power-of-two bins via binary string
  length (no float log2, so no boundary flips); DuckDB sums cast to
  BIGINT (the round-3 HUGEINT lesson).
- ``events_gapfill`` — bucket arithmetic in integer epoch-seconds on
  the DuckDB side and epoch-aligned ``F.window`` on the Spark side;
  renders under the pinned-UTC session clock like ``events_hourly``.
- ``source_overlap_matrix`` — distinct shingle sets per source with
  the same tokenizer CTE as the dedup family.
- ``media_video_frames`` — the stub slicer's stride/modulo byte
  arithmetic replicated on ASCII-sanitized VARCHAR (DuckDB cannot
  substring BLOBs); every frame payload hex-hash-checked.
- ``dataset_split_stats`` — the salted-md5 band thresholds replayed
  with the per-digit ``instr`` hex arithmetic (pipeline2's _hex4_sql).
- ``doc_ngram_novelty`` — first-occurrence min, aggregated straight
  off the firsts table; both engines aggregate exactly.
- ``curate_corpus_best`` / ``incremental_dedup_report`` /
  ``incremental_neardup_report`` — compositions over the same
  fingerprint/closure/quality/split fragments, each one oracled SQL
  statement end-to-end.
- ``knn_label_accuracy`` — both engines rank on the ROUNDED cosine
  (matching ann_cosine_topk's contract) and break vote ties by
  smallest label, so prediction is deterministic end-to-end.
- ``media_image_dhash_pairs`` / ``media_audio_fp_pairs`` — the
  PNG/zlib and WAV codecs aren't SQL-replicable (signature semantics
  pinned by invariance pytests), but the banded Hamming JOIN stage
  is fully oracled from the committed signature artifact
  (``sources/sig_artifacts.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions import text_metrics as tm
from mapreducewordcount_spark.operators import dedup as dd
from mapreducewordcount_spark.queries import QuerySpec
from mapreducewordcount_spark.queries.curation import _STOPS_SQL
from mapreducewordcount_spark.sources import sig_artifacts as _sig_artifacts
from mapreducewordcount_spark.queries.dedup_queries import (
    _SHINGLES_CTE,
    _WORDS_CTE,
)
from mapreducewordcount_spark.sources.tables import load_table, spread

# --- RAG chunking -----------------------------------------------------------

CHUNK_SIZE = 64
CHUNK_OVERLAP = 16
_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token chunks per document
    (operators/chunking.py) — zero-shuffle narrow map + explode."""
    from mapreducewordcount_spark.operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_size=CHUNK_SIZE,
                           overlap=CHUNK_OVERLAP)


DOC_CHUNKS_SQL = rf"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
  FROM documents
),
s AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
c AS (
  SELECT doc_id, toks,
         CASE WHEN n <= {CHUNK_SIZE} THEN 1
              ELSE ((n - {CHUNK_SIZE} + {_STRIDE - 1}) // {_STRIDE}) + 1
         END AS n_chunks
  FROM s
),
x AS (
  SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_index FROM c
)
SELECT doc_id,
       CAST(chunk_index AS INT) AS chunk_index,
       CAST(len(toks[chunk_index * {_STRIDE} + 1
                     : chunk_index * {_STRIDE} + {CHUNK_SIZE}]) AS INT)
         AS n_chunk_tokens,
       array_to_string(toks[chunk_index * {_STRIDE} + 1
                            : chunk_index * {_STRIDE} + {CHUNK_SIZE}], ' ')
         AS chunk_text
FROM x
"""


# --- quality-aware dedup survivor selection ---------------------------------

def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per near-dup component: instead of
    the min-id keeper (``curate_corpus``), keep the HIGHEST-QUALITY
    member (tie-break min doc_id) — the curation policy that retains
    the best copy of boilerplate-mangled near-dups rather than the
    one that happened to crawl first.

    Plan: near-dup groups (a one-task union-find, see
    operators/dedup.dup_groups) joined to per-doc quality, then one
    groupBy(group_id) whose argmax rides an ordered struct max —
    partial-aggregable, so the component key never concentrates rows
    the way a window would.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = dd.shingle_jaccard_pairs(docs, threshold=0.5)
    groups = dd.dup_groups(pairs)  # doc_id, group_id (paired docs only)
    scored = docs.select(
        "doc_id", F.round(tm.quality_score("text"), 4).alias("quality"))
    best = F.max(F.struct(F.col("quality").alias("q"),
                          (-F.col("doc_id")).alias("neg_id"))).alias("best")
    return (groups
            .join(scored, "doc_id")
            .groupBy("group_id")
            .agg(F.count(F.lit(1)).alias("n_docs"), best)
            .select("group_id",
                    (-F.col("best.neg_id")).cast("long").alias("survivor_id"),
                    F.col("best.q").alias("best_quality"),
                    "n_docs"))


DEDUP_SURVIVORS_SQL = f"""
WITH RECURSIVE {_WORDS_CTE}, {_SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
        / (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles))) >= 0.5
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
comp AS (SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id),
m AS (
  SELECT doc_id,
         len(words) AS nw,
         CASE WHEN len(words) > 0
              THEN list_sum(list_transform(words, x -> strlen(x)))::DOUBLE
                   / len(words)
              ELSE 0.0 END AS awl,
         CASE WHEN len(words) > 0
              THEN len(list_filter(words,
                                   x -> list_contains({_STOPS_SQL}, x)))::DOUBLE
                   / len(words)
              ELSE 0.0 END AS sr,
         CASE WHEN strlen(regexp_replace(text, '\\s+', '', 'g')) > 0
              THEN (strlen(text)
                    - strlen(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')))::DOUBLE
                   / strlen(regexp_replace(text, '\\s+', '', 'g'))
              ELSE 0.0 END AS pr
  FROM w JOIN documents USING (doc_id)
),
qual AS (
  SELECT doc_id,
         round(CAST(0.3 * (CASE WHEN nw BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
             + 0.2 * (CASE WHEN awl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
             + 0.3 * (CASE WHEN sr >= 0.01 THEN 1.0 ELSE 0.0 END)
             + 0.2 * (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END) AS DOUBLE),
           4) AS quality
  FROM m
),
ranked AS (
  SELECT c.group_id, c.doc_id, q.quality,
         row_number() OVER (PARTITION BY c.group_id
                            ORDER BY q.quality DESC, c.doc_id) AS rn,
         count(*) OVER (PARTITION BY c.group_id) AS n_docs
  FROM comp c JOIN qual q USING (doc_id)
)
SELECT group_id, doc_id AS survivor_id, quality AS best_quality,
       CAST(n_docs AS BIGINT) AS n_docs
FROM ranked WHERE rn = 1
"""


# --- sequence-length histogram / packing-waste profile ----------------------

SEQ_LEN = 512


def seq_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count distribution in power-of-two bins plus the padding
    waste a naive one-doc-per-sequence loader would pay at
    ``SEQ_LEN`` — the profile that justifies ``pack_sequences``.

    Bin index is the bit length of the token count minus one (exact
    integer logic; ``floor(log2(n))`` flips at powers of two under
    float rounding). Narrow map + one tiny groupBy: scan-bound at any
    scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    binned = (docs
              .select(tm.token_count("text").cast("long").alias("n_tokens"))
              .filter(F.col("n_tokens") > 0)
              .select("n_tokens",
                      (F.length(F.bin("n_tokens")) - 1).cast("int")
                      .alias("bin"),
                      (F.ceil(F.col("n_tokens") / SEQ_LEN) * SEQ_LEN
                       - F.col("n_tokens")).cast("long").alias("waste")))
    return (binned
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.sum("waste").alias("pad_waste_tokens"))
            .select("bin",
                    F.expr("shiftleft(CAST(1 AS BIGINT), bin)")
                    .alias("bin_lo"),
                    F.expr("shiftleft(CAST(1 AS BIGINT), bin + 1) - 1")
                    .alias("bin_hi"),
                    "n_docs", "total_tokens", "pad_waste_tokens",
                    F.round(F.col("pad_waste_tokens").cast("double")
                            / (F.col("total_tokens")
                               + F.col("pad_waste_tokens")), 6)
                    .alias("waste_frac")))


SEQ_HISTOGRAM_SQL = rf"""
WITH t AS (
  SELECT len(regexp_extract_all(text, '{tm.TOKEN_REGEX}')) AS n_tokens
  FROM documents
),
p AS (
  SELECT n_tokens,
         CAST(strlen(bin(n_tokens)) - 1 AS INT) AS bin,
         CAST(ceil(n_tokens / {SEQ_LEN}.0) AS BIGINT) * {SEQ_LEN} - n_tokens
           AS waste
  FROM t WHERE n_tokens > 0
)
SELECT bin,
       CAST((1::BIGINT << bin) AS BIGINT) AS bin_lo,
       CAST((1::BIGINT << (bin + 1)) - 1 AS BIGINT) AS bin_hi,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(waste) AS BIGINT) AS pad_waste_tokens,
       round(CAST(sum(waste) AS DOUBLE)
             / (CAST(sum(n_tokens) AS BIGINT)
                + CAST(sum(waste) AS BIGINT)), 6) AS waste_frac
FROM p GROUP BY bin
"""


# --- time-series gap-fill ---------------------------------------------------

GAPFILL_BUCKET_S = 900  # 15 minutes


def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 15-minute resample of events per type with explicit
    zero rows for empty buckets (operators/gapfill.py)."""
    from mapreducewordcount_spark.operators.gapfill import gapfill_series

    events = load_table(spark, sf_dir, "events")
    return gapfill_series(events, bucket="15 minutes")


EVENTS_GAPFILL_SQL = f"""
WITH b AS (
  SELECT event_type,
         TIMESTAMP '1970-01-01 00:00:00'
           + INTERVAL 1 SECOND
             * ((epoch_us(ts) // {GAPFILL_BUCKET_S * 1_000_000})
                * {GAPFILL_BUCKET_S}) AS bucket,
         count(*) AS n, round(sum(value), 2) AS sum_value
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1
),
grid AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, INTERVAL {GAPFILL_BUCKET_S} SECOND))
           AS bucket
  FROM span
)
SELECT g.event_type,
       strftime(g.bucket, '%Y-%m-%d %H:%M:%S') AS bucket_start,
       CAST(coalesce(b.n, 0) AS BIGINT) AS n,
       round(coalesce(b.sum_value, 0), 2) AS sum_value,
       CAST(CASE WHEN b.n IS NULL THEN 1 ELSE 0 END AS INT) AS gap_filled
FROM grid g LEFT JOIN b USING (event_type, bucket)
"""


# --- cross-source n-gram contamination matrix -------------------------------

def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared distinct 3-grams and set-Jaccard for every source pair
    (operators/decontam.source_ngram_overlap)."""
    from mapreducewordcount_spark.operators.decontam import (
        source_ngram_overlap,
    )

    docs = load_table(spark, sf_dir, "documents")
    return source_ngram_overlap(docs)


SOURCE_OVERLAP_SQL = f"""
WITH {_WORDS_CTE}, {_SHINGLES_CTE},
e AS (
  SELECT DISTINCT source, ng
  FROM (SELECT d.source, unnest(s.shingles) AS ng
        FROM sh s JOIN documents d USING (doc_id))
),
tot AS (SELECT source, count(*) AS n FROM e GROUP BY 1),
p AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
  FROM e a JOIN e b ON a.ng = b.ng AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.source_a, p.source_b,
       CAST(p.shared AS BIGINT) AS shared_ngrams,
       CAST(ta.n AS BIGINT) AS n_a,
       CAST(tb.n AS BIGINT) AS n_b,
       round(CAST(p.shared AS DOUBLE) / (ta.n + tb.n - p.shared), 6)
         AS jaccard
FROM p
JOIN tot ta ON ta.source = p.source_a
JOIN tot tb ON tb.source = p.source_b
"""


# --- video frame sampling (the third multimodal leg) ------------------------

FRAME_EVERY_N = 30
_FRAME_STRIDE = FRAME_EVERY_N * 16  # bytes between sampled frames


def media_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video leg of the multimodal seam in the hard gate: text
    bytes play opaque video containers flowing through the REAL
    explode plumbing (``operators/multimodal.sample_video_frames`` —
    one row in, n_frames rows out via ``mapInPandas``). The stub
    frame slicer is deterministic byte arithmetic, so unlike most
    media stubs it is fully DuckDB-oracle-able: the oracle replicates
    the stride/modulo slicing with BLOB ``substring`` and hash-checks
    every frame payload (hex-rendered). What the gate pins — the
    Arrow binary round-trip, the row explosion, the frame indexing —
    is exactly what stays when ffmpeg replaces the slicer.
    """
    from mapreducewordcount_spark.operators.multimodal import (
        sample_video_frames,
        size_bucketed,
    )

    d = load_table(spark, sf_dir, "documents")
    # ascii-with-replacement (same guard as the audio leg): DuckDB
    # substring cannot slice BLOBs, so the oracle slices VARCHAR —
    # byte arithmetic must equal char arithmetic, hence one '?' per
    # non-ASCII char on both sides (current corpora are pure ASCII)
    media = (d.filter(F.col("text").isNotNull()
                      & (F.length("text") > 0))  # mirrored in the SQL
             .select(
                 F.col("doc_id").alias("media_id"),
                 F.encode(F.regexp_replace("text", r"[^\x00-\x7F]", "?"),
                          "UTF-8").alias("payload")))
    frames = sample_video_frames(size_bucketed(media),
                                 every_n=FRAME_EVERY_N)
    return frames.select(
        "media_id",
        F.col("frame_index").cast("int").alias("frame_index"),
        F.length("frame_payload").cast("int").alias("n_bytes"),
        F.lower(F.hex("frame_payload")).alias("frame_hex"))


MEDIA_VIDEO_SQL = rf"""
WITH m AS (
  SELECT doc_id AS media_id,
         regexp_replace(text, '[^\x00-\x7F]', '?', 'g') AS t
  FROM documents
  WHERE text IS NOT NULL AND length(text) > 0
),
s AS (
  SELECT media_id, t, strlen(t) AS L,
         greatest(1, strlen(t) // {_FRAME_STRIDE}) AS n_frames
  FROM m
),
x AS (
  SELECT media_id, t, L,
         unnest(range(0, n_frames)) AS frame_index
  FROM s
),
f AS (
  SELECT media_id, frame_index,
         substring(t,
                   ((frame_index * {_FRAME_STRIDE}) % greatest(L, 1)) + 1,
                   16) AS frame
  FROM x
)
SELECT media_id,
       CAST(frame_index AS INT) AS frame_index,
       CAST(strlen(frame) AS INT) AS n_bytes,
       lower(hex(encode(frame))) AS frame_hex
FROM f
"""


# --- image perceptual near-dup (dHash) --------------------------------------

def _png_synth(batches):
    """Manufacture REAL 8x8 PNGs from document bytes (the first 192
    bytes of text tiled into the RGB buffer) — deterministic, so
    documents sharing a 192-byte prefix (the corpus's near-dups do)
    yield identical images and surface as Hamming-0 dHash pairs."""
    import pandas as pd

    from mapreducewordcount_spark.operators.multimodal import png_encode

    for pdf in batches:
        payloads = []
        for t in pdf["text"]:
            b = t.encode("ascii", "replace") or b"\x00"
            buf = (b * (192 // len(b) + 1))[:192]
            payloads.append(png_encode(8, 8, bytes(buf)))
        yield pd.DataFrame({"media_id": pdf["doc_id"],
                            "payload": payloads})


def media_image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs end-to-end with the REAL codec: documents
    → genuine PNGs (`png_encode`) → byte-budget repartition → Arrow
    dHash extraction (decode, luma, 9x8 resample, 64 comparison bits)
    → the banded Hamming join in its cluster-star mode (a hot
    identical signature emits k-1 rows, not a k² clique). The
    PNG/zlib codec isn't SQL-replicable — planted pytests pin the
    dHash semantics (brightness-shift invariance, edit locality) —
    but the JOIN stage is fully oracled via the signature-artifact
    scheme (``sources/sig_artifacts.py``): the engine's dhash table
    (``image_dhash_model``) is a committed parquet artifact and
    DuckDB recomputes the star-mode banded join + popcount verify
    from it (VERDICT r5 next#5). The corpus's shared-prefix near-dups
    surface as Hamming-0 pairs.
    """
    return dd.signature_hamming_pairs(image_dhash_model(spark, sf_dir),
                                      id_col="media_id", sig_col="dhash",
                                      max_hamming=3,
                                      collapse_identical=True)


def _media_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-blank documents as (doc_id, text): blank/NULL docs
    synthesize no media (same contract as simhash_docs dropping blank
    docs: k empty texts would yield k IDENTICAL images or zero-sample
    WAVs → a fabricated Hamming-0 star). The artifact's corpus key
    stays computed over the FULL table — the oracle derives it from
    the unfiltered documents view."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.filter(F.col("text").isNotNull() & (F.length("text") > 0))


def image_dhash_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, dhash) over genuine PNGs — the model table of
    ``media_image_dhash_pairs``."""
    from mapreducewordcount_spark.operators.multimodal import (
        extract_image_dhash,
        size_bucketed,
    )

    media = _media_sources(spark, sf_dir).mapInPandas(
        _png_synth, schema="media_id long, payload binary")
    return extract_image_dhash(size_bucketed(media))


# --- audio perceptual near-dup (energy-delta fingerprint) -------------------

def _afp_synth(batches):
    """Manufacture REAL WAV clips with TWO samples per normalized word
    (md5-derived levels), unpadded. The fingerprint's 65 frames are
    RELATIVE to clip length (``idx = i·bands/len``), so word-aligned
    synthesis keeps the frame grid stable across near-dups: a
    substitution perturbs one frame, an insertion shifts frame
    boundaries by under a word's worth of samples — while every frame stays
    informative (padding would zero the tail frames and collapse the
    signature to a handful of effective bits; measured: 84k
    false pairs at sf0.1)."""
    import hashlib

    import pandas as pd

    from mapreducewordcount_spark.operators.multimodal import wav_encode_pcm

    for pdf in batches:
        payloads = []
        for t in pdf["text"]:
            words = t.lower().split()
            levels = []
            for w in words:
                d0, d1 = hashlib.md5(w.encode()).digest()[:2]
                levels += [48 + d0 % 160, 48 + d1 % 160]
            payloads.append(wav_encode_pcm(bytes(levels)))
        yield pd.DataFrame({"media_id": pdf["doc_id"],
                            "payload": payloads})


def media_audio_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs end-to-end with the REAL codec: documents
    → genuine WAV clips (word-aligned synth above) →
    byte-budget repartition → Arrow fingerprint extraction (RIFF
    parse → mono downmix → 65-frame energy deltas → 64 sign bits) →
    the banded Hamming join in cluster-star mode. The codec isn't
    SQL-replicable (invariance pytests pin the fingerprint
    semantics), but the JOIN stage is fully oracled via the
    signature-artifact scheme (``audio_fp_model``) — see
    ``media_image_dhash_pairs``.
    """
    return dd.signature_hamming_pairs(audio_fp_model(spark, sf_dir),
                                      id_col="media_id",
                                      sig_col="fingerprint",
                                      max_hamming=3,
                                      collapse_identical=True)


def audio_fp_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, fingerprint) over genuine WAV clips — the model
    table of ``media_audio_fp_pairs`` (the 65-frame grid is undefined
    at length 0, one more reason blank docs synthesize no clip)."""
    from mapreducewordcount_spark.operators.multimodal import (
        extract_audio_fingerprints,
        size_bucketed,
    )

    media = _media_sources(spark, sf_dir).mapInPandas(
        _afp_synth, schema="media_id long, payload binary")
    return extract_audio_fingerprints(size_bucketed(media))


# --- k-NN label accuracy (embedding-quality probe) --------------------------

KNN_K = 5
KNN_N_QUERIES = 50


def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard embedding-quality probe: predict each query
    vector's label by MAJORITY VOTE of its k nearest neighbors
    (exact cosine, self excluded) and score against the true label,
    rolled up per label — the number an embedding-model eval reads
    before anything trains on those vectors.

    Deterministic end-to-end: exact top-k with id tie-breaks, vote
    ties broken by smallest label. Plan: the query set (first
    ``KNN_N_QUERIES`` ids) broadcasts through the exact top-k scan
    (zero corpus shuffle — `operators/similarity.cosine_topk`), then
    two tiny aggregations (votes per (query, label), argmax per
    query, rollup per true label). At real scale swap the top-k
    stage for the IVF/PQ rungs — the vote/rollup algebra is
    unchanged.
    """
    from mapreducewordcount_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < KNN_N_QUERIES)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    knn = cosine_topk(emb, queries, k=KNN_K)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("label").alias("n_label"))
    votes = (knn.join(labels, "neighbor_id")
             .groupBy("query_id", "n_label")
             .agg(F.count(F.lit(1)).alias("v")))
    # argmax by (votes desc, label asc) — ordered-struct max
    pred = (votes.groupBy("query_id")
            .agg(F.max(F.struct(F.col("v").alias("v"),
                                (-F.col("n_label")).alias("neg_label")))
                 .alias("b"))
            .select("query_id",
                    (-F.col("b.neg_label")).cast("int").alias("predicted")))
    truth = emb.select(F.col("vec_id").alias("query_id"),
                       F.col("label").alias("true_label"))
    return (pred.join(truth, "query_id")
            .groupBy("true_label")
            .agg(F.count(F.lit(1)).alias("n_queries"),
                 F.sum((F.col("predicted") == F.col("true_label"))
                       .cast("long")).alias("n_correct"))
            .select("true_label", "n_queries", "n_correct",
                    F.round(F.col("n_correct").cast("double")
                            / F.col("n_queries"), 6).alias("accuracy")))


KNN_ACCURACY_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_vec, label AS true_label
  FROM embeddings WHERE vec_id < {KNN_N_QUERIES}
),
scored AS (
  SELECT q.query_id, q.true_label, e.label AS n_label,
         CASE WHEN sqrt(list_dot_product(q.q_vec::DOUBLE[], q.q_vec::DOUBLE[])) > 0
               AND sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) > 0
              THEN list_dot_product(q.q_vec::DOUBLE[], e.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(q.q_vec::DOUBLE[], q.q_vec::DOUBLE[]))
                      * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
              ELSE 0.0 END AS cos,
         e.vec_id AS neighbor_id
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
),
knn AS (
  SELECT query_id, true_label, n_label FROM (
    SELECT query_id, true_label, n_label,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(cos, 6) DESC, neighbor_id)
             AS rank
    FROM scored) WHERE rank <= {KNN_K}
),
votes AS (
  SELECT query_id, true_label, n_label, count(*) AS v
  FROM knn GROUP BY 1, 2, 3
),
pred AS (
  SELECT query_id, true_label, n_label AS predicted FROM (
    SELECT query_id, true_label, n_label,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY v DESC, n_label) AS rn
    FROM votes) WHERE rn = 1
)
SELECT true_label,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       round(CAST(sum(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS accuracy
FROM pred GROUP BY 1
"""


# --- deterministic dataset splits -------------------------------------------

SPLIT_FRACS = {"train": 0.98, "val": 0.01, "test": 0.01}


def dataset_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 98/1/1 train/val/test assignment
    (functions/sampling.dataset_split — salted md5 bands, row-local)
    rolled up to per-(split, source) doc and token counts. The rollup
    is the gate-friendly rendering; the assignment column itself is
    the operator and joins into any downstream query.
    """
    from mapreducewordcount_spark.functions.sampling import dataset_split

    docs = load_table(spark, sf_dir, "documents")
    return (docs
            .select(dataset_split("doc_id", SPLIT_FRACS).alias("split"),
                    "source",
                    tm.token_count("text").cast("long").alias("n_tokens"))
            .groupBy("split", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens")))


def _split_case_sql(key: str = "doc_id") -> str:
    """CASE expression mirroring dataset_split's cumulative bands over
    the 4-hex-digit md5 prefix (pipeline2._hex4_sql arithmetic)."""
    from mapreducewordcount_spark.queries.pipeline2 import _hex4_sql

    v = _hex4_sql(f"md5(CAST({key} AS VARCHAR) || ':split')")
    names = list(SPLIT_FRACS)
    cum, whens = 0.0, []
    for name in names[:-1]:
        cum += SPLIT_FRACS[name]
        whens.append(f"WHEN {v} < {int(cum * 65536)} THEN '{name}'")
    return "CASE " + " ".join(whens) + f" ELSE '{names[-1]}' END"


DATASET_SPLIT_SQL = rf"""
WITH t AS (
  SELECT {_split_case_sql()} AS split,
         source,
         len(regexp_extract_all(text, '{tm.TOKEN_REGEX}')) AS n_tokens
  FROM documents
)
SELECT split, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM t GROUP BY 1, 2
"""


# --- quality-first curation composition -------------------------------------

CURATE_QUALITY_MIN = 0.5


def curate_corpus_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 curation composition: ``curate_corpus`` with BOTH
    duplicate-keeper decisions upgraded from min-id to
    highest-quality (tie-break min id), plus the train/val/test split
    every kept doc needs downstream — the full keep/drop/route
    decision in one oracled pass.

    Note the exact-dup subtlety the min-id policy hides: the exact
    fingerprint hashes NORMALIZED words, so two docs with identical
    fingerprints can still differ in raw-text quality (punctuation
    noise) — the quality-argmax keeper retains the clean copy. A
    near-dup group's survivor is automatically its own fingerprint's
    keeper (same-fp docs share a group, and the group argmax
    restricted to the fp subset is the fp argmax), so the reason
    precedence can never contradict itself.

    Scale: both argmaxes are partial-aggregable ordered-struct maxes
    (never a window over the fp / group key — the round-5 hot-key
    rule applied to curation); split assignment is row-local.
    """
    from mapreducewordcount_spark.functions.sampling import dataset_split

    docs = spread(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id",
        F.round(tm.quality_score("text"), 4).alias("quality"),
        tm.fingerprint_md5("text").alias("fp"))

    argmax = F.max(F.struct(F.col("quality").alias("q"),
                            (-F.col("doc_id")).alias("neg_id")))
    exact = (scored.groupBy("fp")
             .agg(argmax.alias("b"))
             .select("fp", (-F.col("b.neg_id")).alias("exact_keep")))

    pairs = dd.shingle_jaccard_pairs(docs, threshold=0.5)
    groups = dd.dup_groups(pairs)  # doc_id, group_id (paired docs only)
    # each cluster's survivor beside its members, from ONE reference to
    # the groups (an unpaired doc is its own cluster and survivor), so
    # the pair join and the union-find run once per action; a cluster's
    # member list is bounded by the pair set dup_groups holds in a task
    member = F.struct("doc_id", "quality", "exact_keep")
    out = (scored
           .join(exact, "fp")
           .join(groups, "doc_id", "left")
           .groupBy(F.coalesce("group_id", "doc_id"))
           .agg(argmax.alias("b"), F.collect_list(member).alias("m"))
           .select((-F.col("b.neg_id")).alias("near_keep"), F.inline("m"))
           .withColumn("reason", F.when(
               F.col("quality") < CURATE_QUALITY_MIN, "low_quality")
               .when(F.col("doc_id") != F.col("exact_keep"), "exact_dup")
               .when(F.col("doc_id") != F.col("near_keep"), "near_dup")
               .otherwise("kept"))
           .withColumn("keep", (F.col("reason") == "kept").cast("int"))
           .withColumn("split", dataset_split("doc_id", SPLIT_FRACS)))
    return out.select("doc_id", "quality", "reason", "keep", "split")


CURATE_BEST_SQL = f"""
WITH RECURSIVE {_WORDS_CTE}, {_SHINGLES_CTE},
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
        / (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles))) >= 0.5
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
comp AS (SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id),
m AS (
  SELECT doc_id,
         len(words) AS nw,
         CASE WHEN len(words) > 0
              THEN list_sum(list_transform(words, x -> strlen(x)))::DOUBLE
                   / len(words)
              ELSE 0.0 END AS awl,
         CASE WHEN len(words) > 0
              THEN len(list_filter(words,
                                   x -> list_contains({_STOPS_SQL}, x)))::DOUBLE
                   / len(words)
              ELSE 0.0 END AS sr,
         CASE WHEN strlen(regexp_replace(text, '\\s+', '', 'g')) > 0
              THEN (strlen(text)
                    - strlen(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')))::DOUBLE
                   / strlen(regexp_replace(text, '\\s+', '', 'g'))
              ELSE 0.0 END AS pr,
         md5(array_to_string(words, ' ')) AS fp
  FROM w JOIN documents USING (doc_id)
),
q AS (
  SELECT doc_id, fp,
         round(CAST(0.3 * (CASE WHEN nw BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
             + 0.2 * (CASE WHEN awl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
             + 0.3 * (CASE WHEN sr >= 0.01 THEN 1.0 ELSE 0.0 END)
             + 0.2 * (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END) AS DOUBLE),
           4) AS quality
  FROM m
),
ek AS (
  SELECT fp, doc_id AS exact_keep FROM (
    SELECT fp, doc_id,
           row_number() OVER (PARTITION BY fp
                              ORDER BY quality DESC, doc_id) AS rn
    FROM q) WHERE rn = 1
),
sv AS (
  SELECT group_id, doc_id AS survivor_id FROM (
    SELECT c.group_id, q.doc_id,
           row_number() OVER (PARTITION BY c.group_id
                              ORDER BY q.quality DESC, q.doc_id) AS rn
    FROM comp c JOIN q USING (doc_id)) WHERE rn = 1
),
lab AS (
  SELECT q.doc_id AS doc_id, q.quality,
         ek.exact_keep,
         coalesce(sv.survivor_id, q.doc_id) AS near_keep
  FROM q
  JOIN ek ON q.fp = ek.fp
  LEFT JOIN comp ON q.doc_id = comp.doc_id
  LEFT JOIN sv ON comp.group_id = sv.group_id
)
SELECT doc_id, quality,
       CASE WHEN quality < {CURATE_QUALITY_MIN} THEN 'low_quality'
            WHEN doc_id <> exact_keep THEN 'exact_dup'
            WHEN doc_id <> near_keep THEN 'near_dup'
            ELSE 'kept' END AS reason,
       CAST(CASE WHEN quality >= {CURATE_QUALITY_MIN}
                  AND doc_id = exact_keep
                  AND doc_id = near_keep
                 THEN 1 ELSE 0 END AS INT) AS keep,
       {{split_case}} AS split
FROM lab
""".replace("{split_case}", _split_case_sql("doc_id"))


# --- incremental dedup (new batch vs existing index) ------------------------

INDEX_SOURCE = "src0"


def incremental_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup shape: a NEW batch arrives and must dedup
    against the EXISTING corpus without re-reading it — the existing
    side is represented by its fingerprint index (16 bytes/doc), not
    its documents. Here ``source = src0`` plays the indexed history
    and every other source plays the incoming batch; each batch doc
    is labeled ``dup_of_index`` (fingerprint already indexed),
    ``dup_in_batch`` (a smaller-id batch doc has the same
    fingerprint), or ``kept``.

    Scale: the index side shuffles digests only (or broadcasts, when
    the index fits); the within-batch decision is the partial-agg
    ``groupBy(fp).agg(min)`` + join-back form — no fp window. At
    100 TB the index table is the persisted output of the previous
    run (`operators/merge.merge_upsert` maintains it); nothing about
    this plan touches historical document bodies.
    """
    docs = load_table(spark, sf_dir, "documents")
    with_fp = docs.select("doc_id", "source",
                          tm.fingerprint_md5("text").alias("fp"))
    index = (with_fp.filter(F.col("source") == INDEX_SOURCE)
             .select("fp").distinct())
    batch = with_fp.filter(F.col("source") != INDEX_SOURCE)
    first = batch.groupBy("fp").agg(F.min("doc_id").alias("first_id"))
    return (batch
            .join(index.withColumn("__indexed", F.lit(1)), "fp", "left")
            .join(first, "fp")
            .select("doc_id", "source",
                    F.when(F.col("__indexed").isNotNull(), "dup_of_index")
                    .when(F.col("doc_id") != F.col("first_id"),
                          "dup_in_batch")
                    .otherwise("kept").alias("status")))


INCREMENTAL_DEDUP_SQL = f"""
WITH {_WORDS_CTE},
fp AS (
  SELECT d.doc_id, d.source,
         md5(array_to_string(w.words, ' ')) AS f
  FROM documents d JOIN w ON d.doc_id = w.doc_id
),
idx AS (SELECT DISTINCT f FROM fp WHERE source = '{INDEX_SOURCE}'),
batch AS (SELECT * FROM fp WHERE source <> '{INDEX_SOURCE}'),
first AS (SELECT f, min(doc_id) AS first_id FROM batch GROUP BY 1)
SELECT b.doc_id, b.source,
       CASE WHEN idx.f IS NOT NULL THEN 'dup_of_index'
            WHEN b.doc_id <> first.first_id THEN 'dup_in_batch'
            ELSE 'kept' END AS status
FROM batch b
LEFT JOIN idx ON b.f = idx.f
JOIN first ON b.f = first.f
"""


def incremental_neardup_report(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The near-dup half of incremental dedup: label each incoming
    batch doc (source != src0) by whether it is a 3-gram-Jaccard
    near-duplicate (>= 0.5) of ANY indexed doc (source = src0).

    Plan: the two-sided MinHash band join
    (``operators/dedup.minhash_lsh_cross_pairs``) — the batch's band
    table probes the index's band table directly, so candidate work
    is O(batch × collisions), never the index's internal pair space
    (a union self-join would enumerate — and discard — the index ×
    index pairs, which dominate at scale). At scale the index side's
    signatures are the persisted artifact of the previous run —
    bodies are re-shingled here only because the gate tables carry no
    signature column.

    Output: (doc_id, source, n_index_matches, status) for every batch
    doc; exact-Jaccard verification makes the result SQL-expressible
    (same oracle family as dedup_ngram_pairs).

    Because the oracle enumerates EVERY index×batch pair exactly, the
    LSH operating point must make an at-threshold band miss
    negligible, not merely unlikely: at the default 64 hashes / 16
    bands (4 rows) a true pair at j=0.5 misses every band with
    probability (1-0.5⁴)¹⁶ ≈ 0.36, and the exact verify only removes
    false positives — it can never recover a missed candidate
    (ADVICE r5, medium). 128 hashes / 64 bands (2 rows) puts the miss
    at (1-0.25)⁶⁴ ≈ 1e-8 per pair; low-jaccard candidate excess from
    the shallower S-curve is absorbed by the exact-verify join, so
    the trade costs bounded compute, never correctness.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    index = docs.filter(F.col("source") == INDEX_SOURCE)
    batch_docs = docs.filter(F.col("source") != INDEX_SOURCE)
    pairs = dd.minhash_lsh_cross_pairs(index, batch_docs, threshold=0.5,
                                       num_hashes=128, bands=64)
    matches = pairs.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_index_matches")) \
        .withColumnRenamed("batch_id", "doc_id")
    batch = docs.filter(F.col("source") != INDEX_SOURCE) \
        .select("doc_id", "source")
    return (batch.join(matches, "doc_id", "left")
            .select("doc_id", "source",
                    F.coalesce("n_index_matches", F.lit(0)).cast("long")
                    .alias("n_index_matches"))
            .withColumn("status",
                        F.when(F.col("n_index_matches") > 0,
                               "near_dup_of_index").otherwise("kept")))


INCREMENTAL_NEARDUP_SQL = f"""
WITH {_WORDS_CTE}, {_SHINGLES_CTE},
sided AS (
  SELECT s.doc_id, s.shingles, d.source,
         (d.source = '{INDEX_SOURCE}') AS is_index
  FROM sh s JOIN documents d USING (doc_id)
),
cross_pairs AS (
  SELECT b.doc_id
  FROM sided a JOIN sided b
    ON a.is_index AND NOT b.is_index
  WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
        / (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles))) >= 0.5
),
m AS (SELECT doc_id, count(*) AS n FROM cross_pairs GROUP BY 1)
SELECT d.doc_id, d.source,
       CAST(coalesce(m.n, 0) AS BIGINT) AS n_index_matches,
       CASE WHEN coalesce(m.n, 0) > 0 THEN 'near_dup_of_index'
            ELSE 'kept' END AS status
FROM documents d
LEFT JOIN m ON d.doc_id = m.doc_id
WHERE d.source <> '{INDEX_SOURCE}'
"""


# --- n-gram novelty curve ---------------------------------------------------

def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty signal per document: of a doc's distinct
    3-grams, how many appear in NO earlier document (doc_id order) —
    the diminishing-returns curve data curation decisions read
    ("does adding this shard still contribute new content?").

    Scale shape — the first-occurrence decision is a partial-agg
    ``groupBy(ngram).agg(min(doc_id))`` (the round-5 hot-key lesson:
    a corpus-universal 3-gram map-side-combines to one row per task
    instead of concentrating in a window partition), and the per-doc
    novelty count comes from aggregating THAT table's ``first_doc``
    column directly — no join back of the exploded occurrence rows.
    The round-5 10× stress run flagged the earlier join-back form: it
    re-shuffled the full exploded occurrence table to recover
    information the firsts table already holds. This form shuffles
    the exploded rows exactly once. Measured at sf0.1 the two are
    equal (~2.4s warm — the explode+groupBy dominates and Catalyst
    reuses the exchange in the old form); the win is structural: one
    fewer full-width shuffle stage for the 100 TB plan, where
    exchange reuse would still materialize the occurrence table to
    shuffle storage twice.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    sh = dd._doc_shingles(docs, "doc_id", "text", 3)
    e = sh.select("doc_id", F.explode("shingles").alias("ngram"))
    novel = (e.groupBy("ngram").agg(F.min("doc_id").alias("first_doc"))
             .groupBy("first_doc").agg(F.count(F.lit(1)).alias("n_novel"))
             .withColumnRenamed("first_doc", "doc_id"))
    return (sh.select("doc_id", F.size("shingles").cast("long")
                      .alias("n_shingles"))
            .join(novel, "doc_id", "left")
            .select("doc_id", "n_shingles",
                    F.coalesce("n_novel", F.lit(0)).cast("long")
                    .alias("n_novel"))
            .select("doc_id", "n_shingles", "n_novel",
                    F.round(F.col("n_novel").cast("double")
                            / F.col("n_shingles"), 6).alias("novelty_frac")))


DOC_NOVELTY_SQL = f"""
WITH {_WORDS_CTE}, {_SHINGLES_CTE},
e AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
f AS (SELECT g, min(doc_id) AS first_doc FROM e GROUP BY 1)
SELECT e.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN e.doc_id = f.first_doc THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN e.doc_id = f.first_doc THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS novelty_frac
FROM e JOIN f ON e.g = f.g
GROUP BY e.doc_id
"""


QUERIES = {
    "doc_chunks": QuerySpec(doc_chunks, DOC_CHUNKS_SQL),
    "media_video_frames": QuerySpec(media_video_frames, MEDIA_VIDEO_SQL),
    "dataset_split_stats": QuerySpec(dataset_split_stats, DATASET_SPLIT_SQL),
    "doc_ngram_novelty": QuerySpec(doc_ngram_novelty, DOC_NOVELTY_SQL),
    "curate_corpus_best": QuerySpec(curate_corpus_best, CURATE_BEST_SQL),
    "media_image_dhash_pairs": QuerySpec(
        media_image_dhash_pairs,
        _sig_artifacts.star_pairs_sql("media_image_dhash_pairs", 3)),
    "media_audio_fp_pairs": QuerySpec(
        media_audio_fp_pairs,
        _sig_artifacts.star_pairs_sql("media_audio_fp_pairs", 3)),
    "incremental_dedup_report": QuerySpec(incremental_dedup_report,
                                          INCREMENTAL_DEDUP_SQL),
    "incremental_neardup_report": QuerySpec(incremental_neardup_report,
                                            INCREMENTAL_NEARDUP_SQL),
    "knn_label_accuracy": QuerySpec(knn_label_accuracy, KNN_ACCURACY_SQL),
    "dedup_survivors": QuerySpec(dedup_survivors, DEDUP_SURVIVORS_SQL),
    "seq_length_histogram": QuerySpec(seq_length_histogram,
                                      SEQ_HISTOGRAM_SQL),
    "events_gapfill": QuerySpec(events_gapfill, EVENTS_GAPFILL_SQL),
    "source_overlap_matrix": QuerySpec(source_overlap_matrix,
                                       SOURCE_OVERLAP_SQL),
}
