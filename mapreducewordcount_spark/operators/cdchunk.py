"""Content-defined chunking (FastCDC family) for storage-level dedup.

Fixed-size chunking breaks on INSERTION: one added byte shifts every
later chunk boundary and nothing downstream deduplicates. The CDC
family (LBFS, FastCDC) instead cuts where a rolling hash of the last
``window`` symbols hits a mask — boundaries depend only on LOCAL
content, so an edit disturbs at most the chunks it touches and
identical passages chunk identically wherever they appear. This is
the primitive behind dedup storage (restic/borg/LBFS), delta-sync,
and chunk-level corpus dedup between crawl snapshots.

Implementation is a measured hybrid: symbols are Unicode CODE POINTS
(``str`` → utf-32 view, so offsets are exactly Python/SQL character
positions), the window hash is a vectorized uint64 polynomial (one
strided numpy multiply-add per doc — no per-byte Python), and only
the SPARSE
boundary candidates (density 2^-mask_bits) pass through the
min/max-size enforcement loop. Chunk ids are md5 of the chunk's
utf-8 bytes — which DuckDB reproduces as
``md5(substring(text, offset+1, length))``, giving the gate oracle
an INDEPENDENT verification of every chunk boundary the artifact
claims (a wrong offset/length breaks the hash column, not just a
count).

Scale shape: the chunker is a zero-shuffle narrow map; the dedup
report shuffles (chunk_md5) counts only — 16-byte keys, never chunk
bodies. Reference parity: none (extension surface §2.5).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: odd 64-bit multiplier (same family as exact_substring's base)
_BASE = 0x9E3779B97F4A7C15

DEFAULT_WINDOW = 16
DEFAULT_MASK_BITS = 6    # boundary density 1/64 → ~64+window avg chunk
DEFAULT_MIN_CHUNK = 32
DEFAULT_MAX_CHUNK = 512


def cut_positions(cand: list, n: int, min_chunk: int,
                  max_chunk: int) -> list:
    """Boundary positions (exclusive cut offsets, ascending, ending at
    ``n``) from the sparse hash-candidate list: enforce the min/max
    size envelope so every chunk except the final tail has length in
    ``[min_chunk, max_chunk]`` and the tail has length in
    ``(0, max_chunk]``.

    A candidate is dropped when it falls within ``min_chunk`` of the
    previous emitted cut — INCLUDING a cut the max-size loop just
    forced inside a hashless run (ADVICE r8: appending such a
    candidate unconditionally emitted a sub-min mid-document chunk,
    e.g. candidates [513, 700] with n=900 → lengths [512, 1, 187,
    200]). Skipping it preserves the exact tiling; the next candidate
    measures from the forced cut.
    """
    bounds, prev = [], 0
    for c in cand:
        if c - prev < min_chunk:
            continue
        while c - prev > max_chunk:   # forced cuts in hashless runs
            prev += max_chunk
            bounds.append(prev)
        if c - prev < min_chunk:      # too close to a forced cut
            continue
        bounds.append(c)
        prev = c
    while n - prev > max_chunk:
        prev += max_chunk
        bounds.append(prev)
    cuts = bounds
    if not cuts or cuts[-1] != n:
        cuts = cuts + [n]
    return cuts


def _chunk_udf(window: int, mask_bits: int, min_chunk: int,
               max_chunk: int):
    """text → array<struct<offset,length,chunk_md5>>, Arrow-batched.

    Offsets/lengths are in CHARACTERS (code points); md5 is over the
    chunk's utf-8 bytes. Deterministic, partitioning-invariant.
    """
    import numpy as np
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    # power table via masked Python ints: numpy SCALAR uint64
    # multiplies warn on overflow in every executor log (ADVICE r7);
    # the array ops below wrap silently by design
    mask64 = (1 << 64) - 1
    plist, p = [], 1
    for _ in range(window):
        plist.append(p)
        p = (p * _BASE) & mask64
    powers = np.array(list(reversed(plist)), dtype=np.uint64)
    bmask = np.uint64((1 << mask_bits) - 1)

    schema = T.ArrayType(T.StructType([
        T.StructField("offset", T.IntegerType()),
        T.StructField("length", T.IntegerType()),
        T.StructField("chunk_md5", T.StringType())]))

    @pandas_udf(schema)
    def chunk(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None or len(t) == 0:
                out.append([])
                continue
            cps = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
            n = len(cps)
            if n >= window:
                win = np.lib.stride_tricks.sliding_window_view(
                    cps, window).astype(np.uint64)
                h = (win * powers).sum(axis=1, dtype=np.uint64)
                # candidate cut AFTER the window's last symbol
                cand = (np.nonzero((h & bmask) == 0)[0] + window).tolist()
            else:
                cand = []
            cuts = [0] + cut_positions(cand, n, min_chunk, max_chunk)
            rows = []
            for s, e in zip(cuts, cuts[1:]):
                sub = t[s:e]  # str slicing is by code point — matches cps
                rows.append((s, e - s,
                             hashlib.md5(sub.encode("utf-8")).hexdigest()))
            out.append(rows)
        return pd.Series(out)

    return chunk


#: stride of the (doc_id, chunk_idx) → BIGINT rank packing; shared by
#: the Spark expression and the DuckDB oracle mirror below.
RK_STRIDE = 1_000_000


def packed_rank(doc_id_col, chunk_idx_col):
    """``(doc_id, chunk_idx)`` packed into one orderable BIGINT:
    ``doc_id * RK_STRIDE + chunk_idx``. It is **min_chunk** that
    bounds chunks/doc (~n/min_chunk — max_chunk only bounds them from
    below), so a document of >= ``min_chunk * RK_STRIDE`` characters
    (~32 M chars at the default min_chunk=32) would overflow the
    stride and silently bleed into the next doc_id's rank space,
    misattributing first-in-batch status and GC ownership. The guard
    makes that pathological document FAIL the job instead
    (ADVICE/VERDICT r9): ``assert_true`` raises per-row at runtime;
    on the happy path it is NULL and the packing value passes through
    unchanged, so committed artifacts and gate hashes are untouched.
    """
    guard = F.assert_true(
        chunk_idx_col < RK_STRIDE,
        F.concat(F.lit(f"chunk_idx >= {RK_STRIDE} breaks rk packing "
                       "for doc_id "), doc_id_col.cast("string")))
    return F.when(guard.isNull(),
                  doc_id_col * F.lit(RK_STRIDE) + chunk_idx_col)


def packed_rank_sql(doc_id_sql: str = "doc_id",
                    chunk_idx_sql: str = "chunk_idx") -> str:
    """DuckDB mirror of :func:`packed_rank` — same guard, same
    packing, so the oracle fails the same pathological input instead
    of silently diverging."""
    return (f"CASE WHEN {chunk_idx_sql} >= {RK_STRIDE} THEN "
            f"error('chunk_idx overflow at doc ' "
            f"|| CAST({doc_id_sql} AS VARCHAR)) "
            f"ELSE {doc_id_sql} * {RK_STRIDE} + {chunk_idx_sql} END")


def cdc_chunk_table(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", *,
                    window: int = DEFAULT_WINDOW,
                    mask_bits: int = DEFAULT_MASK_BITS,
                    min_chunk: int = DEFAULT_MIN_CHUNK,
                    max_chunk: int = DEFAULT_MAX_CHUNK) -> DataFrame:
    """``(doc_id, chunk_idx, offset, length, chunk_md5)`` — the chunk
    index a dedup store would persist. Chunks tile each document
    exactly (offsets contiguous from 0 to its length)."""
    chunker = _chunk_udf(window, mask_bits, min_chunk, max_chunk)
    # posexplode_outer + a filter on the position, not posexplode:
    # from a plain posexplode Catalyst infers size(__chunks) > 0 and
    # pushes it below the caller's exchange, so the UDF would run twice
    return (docs
            .select(F.col(id_col).alias("doc_id"),
                    chunker(F.col(text_col)).alias("__chunks"))
            .select("doc_id",
                    F.posexplode_outer("__chunks").alias("chunk_idx", "c"))
            .where(F.col("chunk_idx").isNotNull())
            .select("doc_id", "chunk_idx", "c.offset", "c.length",
                    "c.chunk_md5"))


def chunk_incremental_report(chunks: DataFrame, docs: DataFrame,
                             index_source: str,
                             group_col: str = "source") -> DataFrame:
    """Chunk-level incremental dedup between crawl snapshots: probe a
    new batch's chunks against the stored chunk index and account
    per-source new/duplicate bytes — the follow-on the cdchunk
    posture names (VERDICT r8 next#4). ``index_source`` plays the
    indexed history (its chunk hashes are the stored index); every
    other source plays the incoming batch.

    Each batch chunk is labeled ``dup_of_index`` (hash already in the
    index), ``dup_in_batch`` (an earlier batch chunk — by (doc_id,
    chunk_idx) order — has the same hash), or ``new``. Because
    boundaries are content-defined, an insertion in a re-crawled page
    re-flags only the chunks it touches: everything after the edit
    re-synchronizes and still probes as ``dup_of_index`` (pinned in
    tests/test_cdchunk.py).

    Scale shape: the index side is DIGESTS ONLY (16 bytes/chunk — at
    100 TB it is the persisted output of the previous run, never the
    historical bodies); first-in-batch is the partial-agg
    ``groupBy(hash).agg(min)`` + join-back form, no window; chunk
    bodies never shuffle. Returns one row per batch source:
    ``(grp, n_chunks, total_chars, n_dup_index, dup_index_chars,
    n_dup_batch, dup_batch_chars, n_new, new_chars)``.
    """
    with_src = chunks.join(
        docs.select("doc_id", F.col(group_col).alias("grp")), "doc_id")
    index = (with_src.filter(F.col("grp") == index_source)
             .select("chunk_md5").distinct())
    # deterministic within-batch order: (doc_id, chunk_idx) packed
    # into one BIGINT — guarded, see packed_rank
    rk = packed_rank(F.col("doc_id"), F.col("chunk_idx"))
    batch = (with_src.filter(F.col("grp") != index_source)
             .select("grp", "chunk_md5", "length", rk.alias("rk")))
    first = batch.groupBy("chunk_md5").agg(F.min("rk").alias("first_rk"))
    lab = (batch
           .join(index.withColumn("__indexed", F.lit(1)),
                 "chunk_md5", "left")
           .join(first, "chunk_md5")
           .withColumn("status",
                       F.when(F.col("__indexed").isNotNull(),
                              "dup_of_index")
                       .when(F.col("rk") != F.col("first_rk"),
                             "dup_in_batch")
                       .otherwise("new")))

    def n_of(s):
        return F.sum((F.col("status") == s).cast("long"))

    def chars_of(s):
        return F.coalesce(
            F.sum(F.when(F.col("status") == s, F.col("length"))
                  .cast("long")), F.lit(0))

    return (lab.groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum("length").cast("long").alias("total_chars"),
                 n_of("dup_of_index").alias("n_dup_index"),
                 chars_of("dup_of_index").alias("dup_index_chars"),
                 n_of("dup_in_batch").alias("n_dup_batch"),
                 chars_of("dup_in_batch").alias("dup_batch_chars"),
                 n_of("new").alias("n_new"),
                 chars_of("new").alias("new_chars")))


def chunk_share_pairs(chunks: DataFrame, *, min_shared: int = 2,
                      fanout_cap: int = 16) -> DataFrame:
    """Near-duplicate DOCUMENT pairs detected through the chunk index:
    two documents sharing >= ``min_shared`` (non-boilerplate) chunks
    are near-dups — the storage-dedup-informed detector (a chunk
    store's view of MinHash: shared passages chunk identically, so
    overlap is observable from 16-byte keys without re-reading any
    text).

    ``fanout_cap`` is the skew guard, same family as the banded-LSH
    fanout caps: a chunk hash present in more than ``fanout_cap``
    documents is BOILERPLATE (headers, license blocks) — it would
    contribute O(n_docs²) pairs while carrying no near-dup signal, so
    it is excluded from the pair space AND from the per-doc set sizes
    (the Jaccard universe is the filtered chunk set, consistently on
    both sides).

    Scale shape: the only join key is the 16-byte hash; per-hash pair
    fan-out is bounded by ``fanout_cap²/2``; (doc, hash) dedup and
    the per-hash frequency are partial-agg groupBys. Returns
    ``(a_id, b_id, n_shared, shared_chars, jaccard_ppm)`` where
    ``jaccard_ppm = n_shared·10⁶ div (n_a + n_b − n_shared)``.
    """
    dc = chunks.select("doc_id", "chunk_md5", "length").distinct()
    freq = dc.groupBy("chunk_md5").agg(
        F.count(F.lit(1)).alias("__n_docs"))
    kept = (dc.join(freq, "chunk_md5")
            .filter(F.col("__n_docs") <= fanout_cap)
            .drop("__n_docs"))
    sizes = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_set"))
    a = kept.select(F.col("doc_id").alias("a_id"), "chunk_md5",
                    "length")
    b = kept.select(F.col("doc_id").alias("b_id"), "chunk_md5")
    pairs = (a.join(b, "chunk_md5")
             .filter(F.col("a_id") < F.col("b_id"))
             .groupBy("a_id", "b_id")
             .agg(F.count(F.lit(1)).alias("n_shared"),
                  F.sum("length").cast("long").alias("shared_chars"))
             .filter(F.col("n_shared") >= min_shared))
    sa = sizes.select(F.col("doc_id").alias("a_id"),
                      F.col("n_set").alias("__n_a"))
    sb = sizes.select(F.col("doc_id").alias("b_id"),
                      F.col("n_set").alias("__n_b"))
    return (pairs.join(sa, "a_id").join(sb, "b_id")
            .select("a_id", "b_id", "n_shared", "shared_chars",
                    F.expr("CAST(n_shared * 1000000 div "
                           "(__n_a + __n_b - n_shared) AS BIGINT)")
                    .alias("jaccard_ppm")))


def chunk_dedup_report(chunks: DataFrame, docs: DataFrame,
                       group_col: str = "source",
                       text_col: str = "text") -> DataFrame:
    """Per-group storage-dedup report over a chunk table, with every
    chunk INDEPENDENTLY re-verified against the raw text
    (``md5(substring(...))`` — the same expression the DuckDB oracle
    runs, so a wrong boundary surfaces as ``n_verify_fail > 0`` on
    both engines). Returns ``(group, n_chunks, n_unique_chunks,
    total_chars, dup_chars, n_verify_fail)``."""
    j = (chunks.join(docs.select("doc_id", group_col, text_col), "doc_id")
         .withColumn("__re", F.md5(F.encode(
             F.expr(f"substring({text_col}, offset + 1, length)"),
             "UTF-8")))
         .withColumn("__fail",
                     (F.col("__re") != F.col("chunk_md5")).cast("long")))
    per_hash = (j.groupBy(F.col(group_col).alias("grp"), "chunk_md5")
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.min("length").alias("len"),
                     F.sum("__fail").alias("fails")))
    return (per_hash.groupBy("grp")
            .agg(F.sum("cnt").cast("long").alias("n_chunks"),
                 F.count(F.lit(1)).cast("long").alias("n_unique_chunks"),
                 F.sum(F.col("cnt") * F.col("len")).cast("long")
                  .alias("total_chars"),
                 F.sum((F.col("cnt") - 1) * F.col("len")).cast("long")
                  .alias("dup_chars"),
                 F.sum("fails").cast("long").alias("n_verify_fail")))
