"""Deduplication operators for a training-data pipeline.

Extension scope (SURVEY.md §2.5 / driver north star): the reference
has no dedup surface; these are built Spark-first as compositions of
DataFrame ops — no row-at-a-time Python UDFs anywhere. The only
Python in any hot path is Arrow-batched numpy work
(``simhash64_expr``'s bit counting, ``band_keys_udf``'s sign
projections, ``dup_groups``' union-find over the pair set) where the
measured hybrid beats both pure expressions and row loops; every
other stage stays in whole-stage codegen and scales by adding
executors.

Scale ladder (which one to use at which size):

1. ``exact_dedup`` — md5-fingerprint groupBy. One shuffle of 16-byte
   digests. The only one you run on all 100 TB.
2. ``minhash_lsh_pairs`` — candidate generation via banded MinHash;
   shuffle cost ~ O(docs × bands), then exact verification only on
   candidates. The scale path for near-dup mining.
3. ``shingle_jaccard_pairs`` — the exact path: all pairs via a
   shingle self-join, quadratic in docs sharing a shingle. Every
   exact near-dup query runs it, and MinHash output is checked
   against it; not the 100 TB path. Prefix filtering (AllPairs/PPJoin)
   returns the same rows 2.5x slower on small-vocabulary corpora,
   where every prefix shingle is common (SCALE.md).
4. ``simhash_pairs`` — 64-bit simhash + banded Hamming candidates;
   cheapest signature, coarser than MinHash.
5. ``embedding_dup_pairs`` — semantic near-dups over embeddings;
   ``embedding_dup_pairs_lsh`` is its OR-banded sign-LSH scale path.

The pair generators persist the intermediates their plans read on
several branches (shingle arrays, band tables, signature tables) and
return a lazy frame that reads them. The persisted blocks live until
the code that runs the action calls ``spark.catalog.clearCache()``
once the result is consumed, so several generators built before one
action each keep their persisted frames in the plan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from mapreducewordcount_spark.functions.tokenize import WS_CLASS
from mapreducewordcount_spark.functions.vectors import cosine_from_norms, norm
from mapreducewordcount_spark.functions.text_metrics import (
    fingerprint_md5,
    shingles,
    winnow_select,
)


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """One row per distinct normalized text: keeper id + copy count.

    ``keep_id`` = min id in the group (deterministic). Grouping is on
    the md5 fingerprint, not the text — at 100 TB this shuffles
    32-char digests instead of document bodies (a ~1000× shuffle-byte
    reduction for web pages).
    """
    return (docs
            .select(F.col(id_col), fingerprint_md5(text_col).alias("fp"))
            .groupBy("fp")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


def _doc_shingles(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    # Compact corpora arrive as one parquet file → one partition; the
    # shingle/hash work downstream is CPU-bound, so spread it across
    # the cluster first. spread() is conditional: on a source that
    # already has full parallelism (every real 100 TB scan) it is a
    # no-op, so no corpus-byte shuffle rides in front of the hashing.
    from mapreducewordcount_spark.sources.tables import spread

    return (spread(docs)
            .select(F.col(id_col).alias("doc_id"),
                    shingles(text_col, n).alias("shingles"))
            .filter(F.size("shingles") > 0))


def shingle_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", n: int = 3,
                          threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (a_id < b_id, j >= threshold).

    Plan shape: explode distinct shingles → self equi-join on shingle
    (this is the *only* join; Catalyst picks shuffle-hash/SMJ on the
    shingle key) → per-pair intersection counts → Jaccard by
    inclusion-exclusion against per-doc shingle counts (broadcast).

    Exact but quadratic in docs-per-hot-shingle: at real scale run
    ``minhash_lsh_pairs`` and keep this as the verifier/oracle.
    ``threshold`` must lie in (0, 1]: the equi-join only ever pairs
    documents that share a shingle, so a threshold ≤ 0 would silently
    drop every disjoint pair instead of returning it.
    """
    _check_threshold(threshold)
    # materialized once: sizes, and both sides of the self-join,
    # otherwise re-tokenize the corpus per reference
    sh = _doc_shingles(docs, id_col, text_col, n).persist()
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    exploded = sh.select("doc_id", F.explode("shingles").alias("sh"))
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("a_id"),
                      F.col("b.doc_id").alias("b_id"))
             .agg(F.count(F.lit(1)).alias("n_inter")))
    # no forced broadcast: sizes is one row per DOC (O(corpus)); a
    # hint would FAIL the job past the broadcast limit, while AQE
    # still picks a broadcast join whenever the runtime size fits
    return (inter
            .join(sizes.withColumnRenamed("doc_id", "a_id")
                  .withColumnRenamed("n_sh", "a_sh"), "a_id")
            .join(sizes.withColumnRenamed("doc_id", "b_id")
                  .withColumnRenamed("n_sh", "b_sh"), "b_id")
            .withColumn("jaccard",
                        F.col("n_inter").cast("double")
                        / (F.col("a_sh") + F.col("b_sh") - F.col("n_inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("a_id", "b_id", F.round("jaccard", 4).alias("jaccard")))


def _signatures_from_shingles(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(doc_id, shingles) → (doc_id, signature array<long>).

    Hash family: each shingle is string-hashed ONCE (``xxhash64``),
    then the ``num_hashes`` permutations are universal hashes
    ``(a_i·h + b_i) mod p`` over the base value, with ``p`` the
    Mersenne prime 2^31-1 and base hashes and coefficients folded into
    [0, p): the product stays < 2^62 (ANSI-safe) while wrapping the
    modulus ~2^31 times, which is what makes the map well-mixed. A
    modulus at or above the product range leaves the map
    piecewise-monotonic in h and the min-wise property collapses
    (caught by a planted-pair recall test)."""
    p = (1 << 31) - 1  # Mersenne prime
    coeffs = _permutation_coeffs(num_hashes)
    # 64 parallel array_min(transform(...)) expressions: pays a one-time
    # codegen compile on first use but runs ~4x faster than a nested
    # transform over a coefficient array (measured — the nested form
    # evaluates struct-field lookups per element instead of folding
    # the coefficients into constants). Built as ONE parsed SQL
    # string: the Column-API form (64 _create_lambda transforms) cost
    # ~1.25 s of py4j round-trips PER INVOCATION — the dominant term
    # of dedup_minhash_pairs' plan-construction time (round 13, the
    # ivf_build literal-plan lesson applied; bitwise-identical
    # signatures verified, h·a+b stays < 2^62 so no overflow under
    # either ANSI mode).
    base = F.expr(f"transform(shingles, s -> pmod(xxhash64(s), {p}L))")
    sig = F.expr("array(" + ", ".join(
        f"array_min(transform(__base, h -> pmod(h * {a}L + {b}L, {p}L)))"
        for a, b in coeffs) + ")")
    return (sh.withColumn("__base", base)
            .select("doc_id", sig.alias("signature")))


def _permutation_coeffs(k: int, seed: int = 1) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs, a odd and < 2^31, via a fixed LCG."""
    out, state = [], seed
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = ((state >> 33) | 1) % ((1 << 31) - 1) or 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = (state >> 33) % ((1 << 31) - 1)
        out.append((a, b))
    return out


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      num_hashes: int = 64, bands: int = 16,
                      threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH + exact verification.

    Candidate pairs = docs sharing any band (``bands`` bands of
    ``num_hashes/bands`` rows; at 64/16 the S-curve puts j=0.9 recall
    at ~1-3e-8 miss). Candidates are then verified with *exact*
    shingle Jaccard, so output equals ``shingle_jaccard_pairs`` up to
    LSH recall — same schema, same oracle.

    Scale: shuffle ~ docs × bands small keys; hot buckets (boilerplate
    docs) are bounded by the exact-verify join which AQE skew-splits.

    The shingle arrays and signatures are materialized once
    (``persist``): the candidate self-join and the two verify joins
    each reference them, and without materialization Catalyst
    re-derives the whole tokenize→shingle→hash chain per reference —
    the corpus was being tokenized four times (seen in the plan).
    ``persist`` (not ``localCheckpoint(eager=False)``): lazy local
    checkpoints finish materializing missing partitions in a cleanup
    job AFTER the SQL execution completes, when its metric
    accumulators are already unregistered — every such task logs a
    benign-but-noisy "non-existent accumulator" ERROR (seen in the
    round-1 bench tail); persisted blocks materialize inside the live
    execution and read back clean.
    """
    sh = _doc_shingles(docs, id_col, text_col, n).persist()
    banded = _banded_signatures(sh, num_hashes, bands)
    a, b = banded.alias("a"), banded.alias("b")
    candidates = (a.join(b, (F.col("a.band") == F.col("b.band"))
                         & (F.col("a.band_hash") == F.col("b.band_hash"))
                         & (F.col("a.doc_id") < F.col("b.doc_id")))
                  .select(F.col("a.doc_id").alias("a_id"),
                          F.col("b.doc_id").alias("b_id"))
                  .distinct())
    return _verify_jaccard(candidates, sh, sh, "a_id", "b_id", threshold)


def _banded_signatures(sh: DataFrame, num_hashes: int,
                       bands: int) -> DataFrame:
    """(doc_id, shingles) → persisted (doc_id, band, band_hash) rows.

    Persisted POST-explode: every consumer joins on the banded form,
    and materializing after the explode also covers the band-hash
    compute — one 64-permutation pass total (bands×docs tiny rows,
    cheaper to store than to recompute).
    """
    rows = num_hashes // bands
    sig = _signatures_from_shingles(sh, num_hashes)
    # one parsed expr for the 16 band hashes too (same py4j-tax
    # rationale as the signature above; bitwise-identical hashes —
    # CAST(x AS STRING) ≡ .cast("string"), [] is 0-based in both)
    band_arr = "array(" + ", ".join(
        "xxhash64(concat_ws(',', " + ", ".join(
            f"CAST(signature[{b * rows + r}] AS STRING)"
            for r in range(rows)) + "))"
        for b in range(bands)) + ")"
    return sig.select(
        "doc_id",
        F.posexplode(F.expr(band_arr)).alias("band", "band_hash")).persist()


def minhash_lsh_cross_pairs(index_docs: DataFrame, batch_docs: DataFrame,
                            id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            num_hashes: int = 64, bands: int = 16,
                            threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs ACROSS two corpora (index × batch), never within
    either side — the incremental-dedup join shape.

    Same banded-MinHash construction as ``minhash_lsh_pairs``, but the
    candidate equi-join probes the (small) batch bands against the
    (large) index bands instead of self-joining the union: at scale
    the index's internal pairs dominate a union self-join and are all
    discarded, so this form does O(batch × collisions) candidate work
    instead of O(index²-shaped) work. Output (index_id, batch_id,
    jaccard ≥ threshold), exact-verified like the self-join form.
    """
    sh_i = _doc_shingles(index_docs, id_col, text_col, n).persist()
    sh_b = _doc_shingles(batch_docs, id_col, text_col, n).persist()
    banded_i = _banded_signatures(sh_i, num_hashes, bands)
    banded_b = _banded_signatures(sh_b, num_hashes, bands)
    i, b = banded_i.alias("i"), banded_b.alias("b")
    candidates = (i.join(b, (F.col("i.band") == F.col("b.band"))
                         & (F.col("i.band_hash") == F.col("b.band_hash")))
                  .select(F.col("i.doc_id").alias("index_id"),
                          F.col("b.doc_id").alias("batch_id"))
                  .distinct())
    return _verify_jaccard(candidates, sh_i, sh_b, "index_id", "batch_id",
                           threshold)


def _check_threshold(threshold: float) -> None:
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold={threshold} must be in (0, 1]")


def _verify_jaccard(candidates: DataFrame, sh_a: DataFrame, sh_b: DataFrame,
                    a_id: str, b_id: str, threshold: float) -> DataFrame:
    """Exact shingle Jaccard of candidate pairs → (a_id, b_id, jaccard)
    rows with jaccard ≥ ``threshold``, rounded to 4 places.

    ``candidates`` holds the pair ids in columns ``a_id``/``b_id``;
    ``sh_a``/``sh_b`` are (doc_id, shingles) frames for each side. Each
    side's shingle array is named after the first letter of its id
    column (``a_shingles``, ``i_shingles``, ...).

    No forced broadcast: the candidate set is small in the typical case
    but still GROWS with the corpus (≥O(docs) at any real dup rate,
    O(batch × band collisions) across corpora), and a forced hint FAILS
    the job past the broadcast limit (ADVICE r5). Unhinted, AQE
    broadcasts whenever the runtime size fits (the larger shingle table
    never shuffles) and degrades to a shuffle join, not a failure, when
    it doesn't.
    """
    _check_threshold(threshold)
    a_el, b_el = f"{a_id[0]}_shingles", f"{b_id[0]}_shingles"
    a_sh = sh_a.select(F.col("doc_id").alias(a_id), F.col("shingles").alias(a_el))
    b_sh = sh_b.select(F.col("doc_id").alias(b_id), F.col("shingles").alias(b_el))
    return (candidates.join(a_sh, a_id).join(b_sh, b_id)
            .withColumn("n_inter", F.size(F.array_intersect(a_el, b_el)))
            .withColumn("jaccard",
                        F.col("n_inter").cast("double")
                        / (F.size(a_el) + F.size(b_el) - F.col("n_inter")))
            .filter(F.col("jaccard") >= threshold)
            .select(a_id, b_id, F.round("jaccard", 4).alias("jaccard")))


def _components(batches):
    """mapInPandas body of ``dup_groups``: every (src, dst) edge batch
    of the one task → one (doc_id, group_id) row per vertex.

    Hook-and-shortcut union-find (Shiloach-Vishkin) on numpy arrays:
    vertices are renumbered to their rank in sorted id order, so the
    smallest index of a component is its min doc id. Each round hooks
    the larger root of every edge that still joins two roots under the
    smaller one (``np.minimum.at``), then shortcuts ``p = p[p]`` until
    every vertex points at a root. Parents only ever point at a smaller
    index, so the loop stops exactly when no edge joins two components.
    """
    import numpy as np

    frames = [b for b in batches if len(b)]
    if not frames:
        return
    edges = pd.concat(frames, ignore_index=True)
    ids, ends = np.unique(
        np.concatenate([edges["src"].to_numpy(), edges["dst"].to_numpy()]),
        return_inverse=True)
    src, dst = np.split(ends.ravel(), 2)
    p = np.arange(len(ids))
    while True:
        rs, rd = p[src], p[dst]
        join = rs != rd
        if not join.any():
            break
        np.minimum.at(p, np.maximum(rs, rd)[join], np.minimum(rs, rd)[join])
        while True:
            q = p[p]
            if np.array_equal(q, p):
                break
            p = q
    yield pd.DataFrame({"doc_id": ids, "group_id": ids[p]})


def dup_groups(pairs: DataFrame) -> DataFrame:
    """Connected components over near-dup pairs (``a_id``, ``b_id``) →
    one (doc_id, group_id) row per paired document.

    Near-dup detection yields *pairs*; deciding what to keep needs
    *clusters* (A~B, B~C ⇒ {A,B,C} keep one). ``group_id`` = min doc
    id of the component — deterministic keeper choice; ids keep the
    input's type. Documents in no pair get no row.

    One lazy stage: the pair set is shuffled into a single partition
    (``repartition(1)``, so the pair-generating join keeps its own
    parallelism — ``coalesce(1)`` would pull it into the one task) and
    ``_components`` runs an exact numpy union-find over it in one Arrow
    task. The pair set is the bounded survivor set of a near-dup join;
    a 1M-edge chain runs in 1.5-2.7 s with a 250 MB Python worker on 4
    cores (SCALE.md gives the bound). Building the frame runs no Spark
    job.
    """
    id_type = pairs.schema["a_id"].dataType
    schema = StructType([StructField("doc_id", id_type, False),
                         StructField("group_id", id_type, False)])
    return (pairs.select(F.col("a_id").alias("src"),
                         F.col("b_id").alias("dst"))
            .repartition(1)
            .mapInPandas(_components, schema))


def simhash64_expr(text_col: str | Column) -> Column:
    """Row-local 64-bit SimHash column expression — same hash family
    and bit semantics as ``simhash_pairs``'s explode+groupBy form
    (xxhash64 per whitespace word, ±1 per bit, sign vector; ties →
    bit 0), computed with NO shuffle, so it goes where the batch
    shape can't: per-row in a stream (``stream_simhash_dedup``),
    inside a narrow projection, or as a write-time layout column.

    Hybrid execution, deliberately: the per-word hashes come from
    JVM-side ``xxhash64`` over the tokenized array (hash-family
    parity with the batch operator is non-negotiable), and the
    64-lane ±1 bit counting runs in an Arrow-batched pandas UDF as
    one numpy matrix reduction per row. A pure-expression form (an
    ``aggregate`` fold carrying a 64-field counter struct per word)
    was measured 4-30× slower at sf0.1 (10-12s vs the hybrid's
    sub-second compute) and did NOT parallelize — the interpreted
    fold allocates a 64-field struct per word, making it heap-
    allocation-bound, not CPU-bound. Equality with the batch form is
    pinned by a parity test. Empty/blank text → all ties → 0.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    ws = F.filter(F.split(F.lower(c), f"(?U)[{WS_CLASS}]+"),
                  lambda w: F.length(w) > 0)
    hashes = F.transform(ws, lambda w: F.xxhash64(w))
    # the UDF is built at call time: pandas_udf parses its return-type
    # DDL against the active session, which doesn't exist at import
    return F.pandas_udf(_simhash_from_hashes, "long")(hashes)


def _simhash_from_hashes(hs: pd.Series) -> pd.Series:
    """array<long> word hashes → signed 64-bit SimHash (Arrow batch).

    Per row: ``unpackbits`` on the hash vector's little-endian byte
    view yields the (words × 64) bit matrix — bit ``j`` of the hash
    lands in column ``j``, identical extraction to the JVM's
    arithmetic ``shiftright`` + ``& 1`` on the same two's-complement
    value; column sums give the +1 counts, and the sign vector
    re-packs to uint64 via a powers-of-two dot, reinterpreted
    (``view``) as signed int64. Bit-exact with the per-bit assembly
    loop it replaced (parity pinned by
    test_simhash_rowlocal_matches_batch_form), measured 1.6× faster
    end-to-end at 200-word docs — the 64-iteration Python loop per
    row was the hot-path cost VERDICT r5 flagged, and the byte-wide
    bit matrix is 8× smaller than the int64 shift table it replaced.
    (A fully batch-vectorized form — one flat bit matrix + segment
    sums via ``add.reduceat`` or cumsum — was measured 20-30× SLOWER:
    both segment reducers are memory-bound over the (total_words×64)
    matrix; see the expression-perf notes in BASELINE.md.)

    NULL text → NULL word array / zero words → all-ties → 0, same as
    before (pinned by the degenerate-docs test).
    """
    import numpy as np

    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    out = np.zeros(len(hs), dtype=np.int64)
    for i, arr in enumerate(hs):
        if arr is None or len(arr) == 0:
            continue  # all-ties → 0 (degenerate-docs contract)
        a = np.ascontiguousarray(arr, dtype="<i8")
        bits = np.unpackbits(a.view(np.uint8).reshape(-1, 8),
                             axis=1, bitorder="little")
        ones = bits.sum(axis=0, dtype=np.int64)
        sign_bits = 2 * ones > a.size  # (+1 count) > (-1 count)
        v = (sign_bits.astype(np.uint64) * weights).sum(dtype=np.uint64)
        out[i] = v.view(np.int64)  # two's-complement reinterpret
    return pd.Series(out)


def simhash_pairs(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash within ``max_hamming`` bits.

    SimHash: per word, take ``xxhash64``; for each of 64 bit
    positions accumulate +1/-1 by bit value; the sign vector is the
    document signature. Candidates come from the adaptive banding in
    ``signature_hamming_pairs`` (``max_hamming + 1`` bands — 4×16
    bits at the default radius 3); exact popcount verification on
    candidates.

    Signatures come from the row-local ``simhash64_expr`` (JVM hashes
    + Arrow bit counting — no explode/groupBy shuffle; bit-identical
    to the earlier batch form per the parity test, ~4× faster
    measured at sf0.1).

    Empty documents emit NO signature row — see ``simhash_docs``.
    """
    sim = simhash_docs(docs, id_col, text_col)
    return signature_hamming_pairs(sim, id_col="doc_id",
                                   sig_col="simhash",
                                   max_hamming=max_hamming)


def simhash_docs(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) signature table — the persisted-index shape.

    Empty documents emit NO signature row: every zero-token doc would
    otherwise hash to simhash=0, so k blank docs would fabricate a
    k(k-1)/2 Hamming-0 clique and pair with any real doc whose
    signature legitimately lands on 0 (ADVICE r5). A text has a word
    iff it holds a code point outside the separator set, so the filter
    is one ``rlike`` and the split runs once, in the signature.
    """
    return (docs
            .filter(F.col(text_col).rlike(f"(?U)[^{WS_CLASS}]"))  # null → dropped
            .select(F.col(id_col).alias("doc_id"),
                    simhash64_expr(text_col).alias("simhash")))


def hamming_band_plan(max_hamming: int) -> list[tuple[int, int]]:
    """(bit_offset, width) bands partitioning a 64-bit signature into
    exactly ``max_hamming + 1`` contiguous bands — the WIDEST banding
    that still carries the pigeonhole recall guarantee (a pair within
    Hamming distance ``max_hamming`` has at most ``max_hamming`` dirty
    bands, so ≥1 of ``max_hamming + 1`` bands matches exactly).

    Width matters enormously at scale: the candidate join buckets on
    (band, band_value), and a band of ``w`` bits has ``2^w`` buckets.
    The previous fixed 8×8-byte banding put ~n/256 random docs in
    every bucket — candidate pairs grew ~n²/16k even for uncorrelated
    signatures. At the default radius 3 this plan yields 4 bands of
    16 bits (65,536 buckets): the same guaranteed recall with ~512×
    fewer spurious candidates (4/65536 vs 8/256 of the pair space).
    When 64 doesn't divide evenly the leading bands get the extra bit
    (any partition into ``max_hamming + 1`` bands satisfies the
    pigeonhole).
    """
    if not 0 <= max_hamming <= 63:
        raise ValueError(
            f"max_hamming={max_hamming} outside [0, 63] — banding needs "
            "max_hamming+1 non-empty bands of a 64-bit signature")
    bands = max_hamming + 1
    base, extra = divmod(64, bands)
    plan, off = [], 0
    for i in range(bands):
        w = base + (1 if i < extra else 0)
        plan.append((off, w))
        off += w
    return plan


def signature_hamming_pairs(sigs: DataFrame, id_col: str = "doc_id",
                            sig_col: str = "signature",
                            max_hamming: int = 3,
                            collapse_identical: bool = False) -> DataFrame:
    """Generic near-dup pairs over ANY 64-bit signature column
    (SimHash, image dHash, audio fingerprint): adaptive-width banded
    candidate equi-join (``hamming_band_plan``: ``max_hamming + 1``
    bands, the widest banding whose pigeonhole still guarantees every
    in-radius pair a matching band), exact popcount verify. Output
    (a_id < b_id, hamming).

    ``collapse_identical=True`` switches the Hamming-0 contract from
    clique to STAR: members of an identical-signature cluster each
    pair with the cluster's min-id representative (k-1 rows, same
    dedup information), and the banded join runs over DISTINCT
    signatures only, pairing cluster representatives. Without it a
    k-member identical cluster emits k(k-1)/2 rows — correct, but
    output grows quadratically in cluster size (measured: the audio
    gate synth hit 12k pairs at sf0.1 from a handful of hot
    signatures). Use the star form whenever clusters can be large;
    the clique form remains for the SimHash text contract where
    near-identical clusters are bounded by upstream exact dedup.

    The input frame is persisted here (both self-join sides read it);
    callers must NOT pre-persist. Signature tables are 16 bytes/row —
    the shuffle moves signatures, never the underlying content.
    """
    band_plan = hamming_band_plan(max_hamming)  # validates the radius
    sig = sigs.select(F.col(id_col).alias("doc_id"),
                      F.col(sig_col).alias("__sig")).persist()

    if collapse_identical:
        # one representative per distinct signature (min id), via a
        # partial-aggregable groupBy — never a window over __sig
        reps = (sig.groupBy("__sig").agg(F.min("doc_id").alias("doc_id"))
                .persist())
        star = (sig.join(reps.select("__sig",
                                     F.col("doc_id").alias("__rep")),
                         "__sig")
                .filter(F.col("doc_id") != F.col("__rep"))
                .select(F.col("__rep").alias("a_id"),
                        F.col("doc_id").alias("b_id"),
                        F.lit(0).alias("hamming")))
        join_base = reps
    else:
        star = None
        join_base = sig

    banded_df = join_base.select(
        "doc_id", "__sig",
        F.posexplode(F.array(*[
            # width-64 band (max_hamming=0) is the signature itself —
            # the (1 << w) - 1 mask would overflow a signed long
            (F.col("__sig") if w == 64 else
             F.shiftright("__sig", off).bitwiseAND(F.lit((1 << w) - 1)))
            for off, w in band_plan])).alias("band_pos", "band_val"))
    a, b = banded_df.alias("a"), banded_df.alias("b")
    cand = (a.join(b, (F.col("a.band_pos") == F.col("b.band_pos"))
                   & (F.col("a.band_val") == F.col("b.band_val"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("a_id"), F.col("a.__sig").alias("a_sig"),
                    F.col("b.doc_id").alias("b_id"), F.col("b.__sig").alias("b_sig"))
            .distinct())
    near = (cand
            .withColumn("hamming", F.bit_count(
                F.col("a_sig").bitwiseXOR(F.col("b_sig"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("a_id", "b_id",
                    F.col("hamming").cast("int").alias("hamming")))
    if star is None:
        return near
    # representatives have distinct signatures, so the banded join
    # contributes only hamming >= 1 rows; the union is disjoint
    return star.select("a_id", "b_id",
                       F.col("hamming").cast("int")
                       .alias("hamming")).unionByName(near)


def embedding_dup_pairs(embeddings: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.45) -> DataFrame:
    """Semantic near-dup pairs: cosine >= threshold over embeddings.

    Brute all-pairs (self-join on a range-split key). Correct at any
    size but O(n²); the scale path is ``embedding_dup_pairs_lsh``,
    which prunes the join to pairs sharing an LSH band bucket.
    """
    # norms precomputed per vector (not per pair): same expression →
    # bit-identical cosine, but the pair stage runs ONE array
    # aggregate (the dot) instead of three. The fold stays the JVM
    # expression ON PURPOSE: the r8 1M-signature A/B showed the
    # verify stage is JOIN-bound, not fold-bound — see
    # embedding_dup_pairs_lsh's docstring and SCALE.md (round 8).
    from mapreducewordcount_spark.sources.tables import spread

    v = (spread(embeddings)
         .select(F.col(id_col).alias("id"),
                 F.col(vec_col).alias("vec"),
                 norm(vec_col).alias("nrm"))
         .persist())
    a = v.select(F.col("id").alias("a_id"), F.col("vec").alias("a_vec"),
                 F.col("nrm").alias("a_n"))
    b = v.select(F.col("id").alias("b_id"), F.col("vec").alias("b_vec"),
                 F.col("nrm").alias("b_n"))
    return (a.join(b, F.col("a_id") < F.col("b_id"))
            .withColumn("cos", cosine_from_norms("a_vec", "b_vec",
                                                 "a_n", "b_n"))
            .filter(F.col("cos") >= threshold)
            .select("a_id", "b_id", F.round("cos", 4).alias("cos")))


def embedding_dup_pairs_lsh(embeddings: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.45, dim: int = 64,
                            n_bands: int = 64,
                            band_width: int | None = None,
                            corpus_size: int | None = None) -> DataFrame:
    """Scale path for semantic near-dups: OR-banded LSH candidates +
    exact cosine verification — ``embedding_pairs_from_banded`` over a
    persisted ``embedding_band_keys`` table, the composition the
    ``dedup_embedding_pairs_lsh`` registry query runs. Output contract
    matches ``embedding_dup_pairs`` up to LSH recall: the exact
    verify emits no false positives, and recall per pair at
    sign-agreement rate p is ``1-(1-p^w)^b`` — near 1 for
    cosine-close pairs, measured against the exact operator on the
    gate corpus (whose pairs sit at cos≈0.5, sign-LSH's adversarial
    case) in tests.

    Shuffle cost is O(vectors × bands) short integer keys — the pair
    space is never enumerated, unlike an ``a_id < b_id`` theta-join,
    which Spark can only execute as a broadcast-nested-loop over all
    O(n²)/2 pairs (the round-1 plan shape; pinned away in
    tests/test_plans.py).

    The verify dot is the JVM expression fold BY MEASUREMENT: over
    the 94 M candidates of the r8 1M-signature A/B the verify stage
    was JOIN-bound — steady-state wall 118 s with the expression fold
    vs 132 s with a bit-identical Arrow kernel (SCALE.md round 8) —
    because two wide joins ship ~60 GB of vector rows while the fold
    itself is a vanishing fraction. Cutting verify cost further means
    cutting CANDIDATES (band width) or vector bytes, not the fold.
    """
    # both sides of the candidate self-join read the band table;
    # persisted, the banding UDF runs once instead of ~1.5x
    banded = embedding_band_keys(embeddings, id_col, vec_col, dim, n_bands,
                                 band_width, corpus_size).persist()
    return embedding_pairs_from_banded(banded, embeddings, threshold,
                                       id_col, vec_col)


def embedding_band_keys(embeddings: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding", dim: int = 64,
                        n_bands: int = 64,
                        band_width: int | None = None,
                        corpus_size: int | None = None) -> DataFrame:
    """(id, band, key) exploded OR-banded sign-LSH table — the one
    band-key builder behind ``embedding_dup_pairs_lsh`` and
    ``similarity.lsh_topk``, and the model table the gate queries
    commit as an oracle artifact (``queries/dedup_queries.
    lsh_band_model``); at scale a write-time job persists it as the
    corpus's LSH index.

    Each vector gets ``n_bands × band_width`` sign bits packed into
    ``n_bands`` integer band keys (one Arrow matrix product per
    batch — ``similarity.band_keys_udf``); two vectors are
    candidates iff they agree exactly on ≥1 band. ``band_width``
    defaults to ``derive_band_width(|corpus|)`` ≈ log2 n bits, giving
    each band ~n buckets: random bucket mass stays O(1) and candidates
    grow ~O(n × bands), sub-quadratic by construction (pinned by
    tests/test_dedup.py::test_lsh_candidate_growth_subquadratic).
    The r5 pigeonhole form's 2-bit bands (4 buckets) degenerated
    toward all-pairs at any real corpus size — VERDICT r5 weak#2.
    NULL and all-zero vectors get no band rows, so they never become
    candidates."""
    from mapreducewordcount_spark.operators.similarity import (
        _fixed_planes,
        band_keys_udf,
        derive_band_width,
    )
    from mapreducewordcount_spark.sources.tables import spread

    if band_width is None:
        n = (corpus_size if corpus_size is not None
             else embeddings.count())
        band_width = derive_band_width(n)
    planes = _fixed_planes(dim, n_bands * band_width)
    mk_keys = band_keys_udf(planes, n_bands, band_width)
    # posexplode_outer + a filter on the position, not posexplode:
    # from a plain posexplode Catalyst infers size(keys) > 0 and pushes
    # it below spread's exchange, so the UDF would run twice per row
    return (spread(embeddings)
            .select(F.col(id_col).alias("id"),
                    mk_keys(F.col(vec_col)).alias("keys"))
            .select("id", F.posexplode_outer("keys").alias("band", "key"))
            .where(F.col("band").isNotNull()))


def embedding_band_candidates(banded: DataFrame) -> DataFrame:
    """Distinct ``(a_id, b_id)`` candidate pairs (a_id < b_id) of an
    ``embedding_band_keys`` table: the ``(band, key)`` self equi-join.
    A pair agreeing on several bands is one candidate."""
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("a_id"),
                    F.col("b.id").alias("b_id"))
            .distinct())


def embedding_pairs_from_banded(banded: DataFrame, embeddings: DataFrame,
                                threshold: float = 0.45,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding") -> DataFrame:
    """Candidate equi-join + exact-cosine verify over a PRE-COMPUTED
    (id, band, key) band table — the downstream half of
    ``embedding_dup_pairs_lsh``, runnable against a band table built
    in-plan or a persisted write-time LSH index. The caller's exact
    verify makes candidate excess a compute cost, never an output
    change; candidate MISSES are the recall trade."""
    cand = embedding_band_candidates(banded)
    v = embeddings.select(F.col(id_col).alias("id"),
                          F.col(vec_col).alias("vec"),
                          norm(vec_col).alias("nrm"))
    a_v = v.select(F.col("id").alias("a_id"), F.col("vec").alias("a_vec"),
                   F.col("nrm").alias("a_n"))
    b_v = v.select(F.col("id").alias("b_id"), F.col("vec").alias("b_vec"),
                   F.col("nrm").alias("b_n"))
    # no forced broadcast: candidates grow with the corpus (738k rows
    # at just 20k vectors — SCALE.md growth study), so a hint would
    # FAIL the job past the broadcast limit; AQE broadcasts when the
    # runtime size fits (vector table stays shuffle-free) and
    # degrades to a shuffle join when it doesn't
    return (cand.join(a_v, "a_id").join(b_v, "b_id")
            .withColumn("cos", cosine_from_norms("a_vec", "b_vec",
                                                 "a_n", "b_n"))
            .filter(F.col("cos") >= threshold)
            .select("a_id", "b_id", F.round("cos", 4).alias("cos")))


def winnow_fingerprint_docs(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            w: int = 4) -> DataFrame:
    """(doc_id, selected array<string>) via positional winnowing —
    see functions/text_metrics.winnow_select for the guarantee."""
    from mapreducewordcount_spark.sources.tables import spread

    return (spread(docs)
            .select(F.col(id_col).alias("doc_id"),
                    winnow_select(text_col, n, w).alias("selected")))


def winnow_pairs(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", n: int = 3, w: int = 4,
                 min_shared: int = 3) -> DataFrame:
    """Candidate near-dup pairs by shared winnowing fingerprints
    (a_id < b_id, n_shared >= min_shared).

    The winnowing guarantee makes the fingerprint equi-join a
    COMPLETE candidate generator for any shared word run of length
    >= w + n - 1: no pairwise scan ever happens, candidates stream
    out of a hash join on the selected-hash key — the same
    bucket-join shape as ``minhash_lsh_pairs``/``simhash_pairs``, and
    the reason this scales where ``shingle_jaccard_pairs`` cannot.
    Hot fingerprints (boilerplate runs shared by many docs) fan out
    quadratically within their bucket only; drop-list them upstream
    the way a production pipeline drops stop-shingles.
    """
    fp = winnow_fingerprint_docs(docs, id_col, text_col, n, w).persist()
    exploded = fp.select("doc_id", F.explode("selected").alias("h"))
    a, b = exploded.alias("a"), exploded.alias("b")
    return (a.join(b, (F.col("a.h") == F.col("b.h"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("a_id"),
                     F.col("b.doc_id").alias("b_id"))
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))
