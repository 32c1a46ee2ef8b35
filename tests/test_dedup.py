"""Dedup operator correctness beyond the SQL oracles.

The hash-family-specific operators (MinHash LSH, SimHash) have no
DuckDB oracle; here they're checked against the exact operators /
planted ground truth on sf0.01 and on constructed corpora.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducewordcount_spark.operators import dedup as dd
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    from mapreducewordcount_spark.sources.tables import load_table

    df = load_table(spark, SF_ORACLE, "documents").cache()
    yield df
    df.unpersist()  # a lingering cache rewrites other tests' scans


def test_minhash_recall_vs_exact(spark, docs):
    exact = {(r.a_id, r.b_id) for r in
             dd.shingle_jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {(r.a_id, r.b_id) for r in
           dd.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert exact, "expected planted near-dup pairs at sf0.01"
    # exact-verify filter makes LSH ⊆ exact; banding at 64/16 makes
    # recall ~1 on pairs this far above threshold (j ≈ 0.98)
    assert lsh == exact


def test_minhash_jaccard_values_match_exact(spark, docs):
    exact = {(r.a_id, r.b_id): r.jaccard for r in
             dd.shingle_jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {(r.a_id, r.b_id): r.jaccard for r in
           dd.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert lsh == exact  # same exact-Jaccard verification stage


def test_simhash_finds_planted_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    corrupted = base.replace("lazy", "sleepy", 1)
    different = "completely unrelated content about spark shuffles " * 8
    df = spark.createDataFrame(
        [(0, base), (1, corrupted), (2, different)], "doc_id long, text string")
    pairs = {(r.a_id, r.b_id) for r in
             dd.simhash_pairs(df, max_hamming=7).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_exact_dedup_finds_planted_copies(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "Alpha  beta   GAMMA!"),  # same after normalize
         (2, "delta epsilon")],
        "doc_id long, text string")
    rows = {r.keep_id: r.n_copies for r in dd.exact_dedup(df).collect()}
    assert rows == {0: 2, 2: 1}


def test_simhash_rejects_radius_beyond_banding_guarantee(spark):
    """Adaptive banding carries the pigeonhole guarantee to any radius
    with ≥1-bit bands (≤63); beyond that there aren't enough bits for
    max_hamming+1 non-empty bands and the operator must refuse rather
    than silently lose recall. (The old fixed 8×8-byte banding capped
    the radius at 7 — that cap is gone by design, VERDICT r5 next#1.)"""
    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match=r"\[0, 63\]"):
        dd.simhash_pairs(df, max_hamming=64)
    with pytest.raises(ValueError, match=r"\[0, 63\]"):
        dd.hamming_band_plan(-1)


def test_signature_pairs_radius_beyond_old_byte_cap(spark):
    """Radius 8+ was impossible under byte banding; the adaptive plan
    (9 bands) must find a planted Hamming-8 pair exactly."""
    base = 0x0123456789ABCDEF
    flipped = base ^ 0xFF  # flip the low 8 bits → Hamming 8
    far = base ^ ((1 << 40) - 1)  # Hamming 40 — far outside the radius
    sigs = spark.createDataFrame(
        [(1, base), (2, flipped), (3, far)],
        "doc_id long, signature long")
    rows = dd.signature_hamming_pairs(sigs, max_hamming=8).collect()
    assert {(r.a_id, r.b_id, r.hamming) for r in rows} == {(1, 2, 8)}


def test_dup_groups_raises_instead_of_silently_splitting(spark):
    """A chain longer than max_iters must raise, not return partial
    (wrong) groups."""
    chain = spark.createDataFrame([(i, i + 1) for i in range(10)],
                                  "a_id long, b_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.dup_groups(chain, max_iters=2)
    # and with enough iterations the same chain is one group
    got = {r.doc_id: r.group_id for r in dd.dup_groups(chain).collect()}
    assert set(got.values()) == {0}


def test_dup_groups_transitive_closure(spark):
    """A~B, B~C must land in one group even though A~C was never a
    pair (the whole point of consolidating pairs into components)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "a_id long, b_id long")
    got = {r.doc_id: r.group_id for r in dd.dup_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}


def test_embedding_dups_symmetric_threshold(spark):
    from mapreducewordcount_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    pairs = dd.embedding_dup_pairs(emb, threshold=0.45).collect()
    assert all(r.a_id < r.b_id for r in pairs)
    assert all(r.cos >= 0.45 for r in pairs)


def test_embedding_lsh_recall_vs_exact(spark):
    from mapreducewordcount_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    exact = {(r.a_id, r.b_id) for r in
             dd.embedding_dup_pairs(emb, threshold=0.45).collect()}
    lsh = {(r.a_id, r.b_id) for r in
           dd.embedding_dup_pairs_lsh(emb, threshold=0.45).collect()}
    assert lsh <= exact  # exact-verify stage: no false positives
    assert exact, "expected pairs above threshold at sf0.01"
    recall = len(lsh) / len(exact)
    # the sf0.01 pair set sits at cos≈0.5 — sign-LSH's adversarial
    # regime (p=2/3 per bit) — and the r6 OR-banding (64 bands ×
    # derived ~9-bit width) measured 0.79 here while pruning the
    # candidate join to ~14% of the pair space; high-cosine pairs
    # (the production near-dup regime) recall ≈ 1, pinned separately
    # by test_embedding_lsh_planted_high_cos_recall
    assert recall >= 0.5, f"embedding LSH recall collapsed: {recall}"


def test_embedding_lsh_planted_high_cos_recall(spark):
    """Production near-dups are high-cosine; banded LSH must find
    essentially all of them even though its recall at the gate
    corpus's cos≈0.5 adversarial pairs is partial by design."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = []
    for i in range(150):
        v = rng.randn(64)
        rows.append((i, [float(x) for x in v]))
    planted = []
    for j in range(20):  # 20 near-identical twins: cos ≈ 0.995
        base = np.array(rows[j][1])
        twin = base + 0.1 * rng.randn(64)
        rows.append((1000 + j, [float(x) for x in twin]))
        planted.append((j, 1000 + j))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.a_id, r.b_id) for r in
           dd.embedding_dup_pairs_lsh(emb, threshold=0.9).collect()}
    found = sum(1 for p in planted if p in got)
    assert found >= 19, f"only {found}/20 planted high-cos twins found"


def test_lsh_candidate_growth_subquadratic(spark):
    """The corpus-derived band width must keep candidate growth
    sub-quadratic (VERDICT r5 next#3): quadrupling the corpus
    (500 → 2000 vectors) must grow candidates far less than the 16×
    a fixed-key scheme would, and the candidate FRACTION of the pair
    space must fall."""
    from mapreducewordcount_spark.sources.tables import load_table

    counts = {}
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        emb = load_table(spark, sf, "embeddings")
        n = emb.count()
        cand, _sig = dd.lsh_candidate_pairs(emb)
        counts[n] = cand.count()
    (n1, c1), (n2, c2) = sorted(counts.items())
    frac1, frac2 = c1 / (n1 * (n1 - 1) / 2), c2 / (n2 * (n2 - 1) / 2)
    assert frac2 < frac1, (frac1, frac2)
    growth, quad = c2 / c1, (n2 / n1) ** 2
    assert growth < quad / 2, f"candidate growth {growth:.1f}x ~ quadratic"


def _winnow_one(spark, text, n=3, w=4):
    from mapreducewordcount_spark.functions.text_metrics import winnow_select

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    return df.select(winnow_select("text", n, w).alias("s")).head()["s"]


def test_winnow_guarantee_shared_run(spark):
    """The winnowing guarantee: two docs sharing a run of
    >= w + n - 1 = 6 words share at least one selected fingerprint,
    whatever surrounds the run."""
    run = "alpha beta gamma delta epsilon zeta"
    a = _winnow_one(spark, f"one two three {run} four five")
    b = _winnow_one(spark, f"{run} completely different tail words here")
    assert set(a) & set(b), "shared 6-word run must share a fingerprint"


def test_winnow_short_doc_selects_global_min(spark):
    # 4 words -> 2 shingles < w windows: still selects the min hash
    sel = _winnow_one(spark, "just four tiny words")
    assert len(sel) == 1


def test_winnow_empty_and_subshingle_docs(spark):
    assert _winnow_one(spark, "") == []
    assert _winnow_one(spark, "two words") == []  # shorter than n


def test_winnow_selection_is_subset_and_deterministic(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    sel1 = _winnow_one(spark, text)
    sel2 = _winnow_one(spark, text)
    assert sel1 == sel2
    assert sel1 == sorted(set(sel1))


def test_winnow_pairs_candidate_join_is_equi(spark, docs):
    """Candidate generation must plan as a hash/sort-merge equi-join
    on the fingerprint — never a nested loop (the r1 embedding-LSH
    failure mode)."""
    from mapreducewordcount_spark.plans import explain_str

    plan = explain_str(dd.winnow_pairs(docs))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_winnow_pairs_rank_near_dups_first(spark):
    """Planted: doc B = doc A with one word changed shares many
    fingerprints; unrelated doc shares none."""
    base = ("the training corpus needs careful deduplication before "
            "any large model consumes it for many epochs")
    rows = [(1, base),
            (2, base.replace("careful", "rigorous")),
            (3, "entirely unrelated text about cooking pasta dishes "
                "with garlic butter and fresh basil leaves")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.a_id, r.b_id): r.n_shared
             for r in dd.winnow_pairs(df, min_shared=1).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_prefix_jaccard_matches_exact_quadratic(spark, docs):
    """prefix_jaccard_pairs is exact: identical rows (ids AND jaccard
    values) to the quadratic all-pairs operator — the prefix filter is
    a complete candidate generator, never a recall trade."""
    exact = {(r.a_id, r.b_id): r.jaccard for r in
             dd.shingle_jaccard_pairs(docs, threshold=0.5).collect()}
    pf = {(r.a_id, r.b_id): r.jaccard for r in
          dd.prefix_jaccard_pairs(docs, threshold=0.5).collect()}
    assert exact and pf == exact


def test_prefix_jaccard_threshold_one_is_set_equality(spark):
    rows = [(1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),        # identical set
            (3, "alpha beta gamma delta epsilon"),  # superset: j < 1
            (4, "unrelated words entirely here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.a_id, r.b_id, r.jaccard)
           for r in dd.prefix_jaccard_pairs(df, n=3, threshold=1.0).collect()}
    assert got == {(1, 2, 1.0)}


def test_prefix_jaccard_rejects_bad_threshold(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad in (0.0, -0.1, 1.5):
        with pytest.raises(ValueError):
            dd.prefix_jaccard_pairs(df, threshold=bad)


@pytest.mark.slow  # heavy sweep: default tier skips (pytest.ini, r14)
def test_prefix_jaccard_agrees_with_quadratic_on_random_corpus(spark):
    """Property-style sweep on a constructed corpus with heavy shingle
    sharing and mixed sizes, across thresholds (float-ceil edges)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(3, 40))))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.1, 0.3, 0.5, 0.8):
        exact = {(r.a_id, r.b_id): r.jaccard for r in
                 dd.shingle_jaccard_pairs(df, threshold=t).collect()}
        pf = {(r.a_id, r.b_id): r.jaccard for r in
              dd.prefix_jaccard_pairs(df, threshold=t).collect()}
        assert pf == exact, f"mismatch at threshold {t}"


def test_pair_generators_release_prior_invocation_cache(spark):
    """Each pair-generator invocation unpersists the PREVIOUS
    invocation's intermediate frames (ADVICE r3: persist-without-
    unpersist leaked executor storage for the app lifetime), while
    the current invocation's frames stay hot for its consumer."""
    from mapreducewordcount_spark import cache

    cache.release_query_cache()
    docs = spark.createDataFrame(
        [(i, f"u{i} a b c d e") for i in range(6)],
        "doc_id long, text string")
    dd.shingle_jaccard_pairs(docs).collect()
    assert len(cache._TRACKED) == 1
    first = cache._TRACKED[0]
    assert first.storageLevel.useMemory  # hot for its own consumer

    # different source → different plan: otherwise storageLevel (a
    # plan-keyed CacheManager lookup) would see the NEW invocation's
    # identical-plan persist and mask the release
    other = spark.createDataFrame(
        [(i, f"v{i} f g h i j") for i in range(6)],
        "doc_id long, text string")
    dd.minhash_lsh_pairs(other).collect()
    # the previous invocation's frame was released...
    assert not first.storageLevel.useMemory
    assert all(f is not first for f in cache._TRACKED)
    # ...and the explicit release empties the registry entirely
    cache.release_query_cache()
    assert not cache._TRACKED


def test_simhash_rowlocal_matches_batch_form(spark):
    """simhash64_expr (one-pass fold, no shuffle) must equal the
    explode+groupBy sign-vector form used by simhash_pairs, word for
    word — same xxhash64 family, same tie-to-zero convention."""
    from pyspark.sql import functions as F

    from mapreducewordcount_spark.operators.dedup import simhash64_expr

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),   # identical
         (3, "Alpha  BETA gamma delta epsilon zeta"),  # case/space noise
         (4, "totally different words entirely here now"),
         (5, ""), (6, "   ")],
        "doc_id long, text string")
    got = {r.doc_id: r.sh for r in docs.select(
        "doc_id", simhash64_expr("text").alias("sh")).collect()}
    # batch form: explode + per-bit sum + sign vector
    ws = (docs.select("doc_id", F.explode(
        F.split(F.lower("text"), r"(?U)\s+")).alias("w"))
        .filter(F.length("w") > 0)
        .withColumn("h", F.xxhash64("w")))
    acc = ws.groupBy("doc_id").agg(*[
        F.sum(F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"b{i}") for i in range(64)])
    want = {r.doc_id: r.sh for r in acc.select("doc_id", sum(
        [F.shiftleft(F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long"))
                     .otherwise(F.lit(0).cast("long")), i)
         for i in range(64)]).alias("sh")).collect()}
    for d, sh in want.items():
        assert got[d] == sh, d
    assert got[1] == got[2] == got[3]   # noise-invariant
    assert got[1] != got[4]
    assert got[5] == got[6] == 0        # empty → all ties → 0


def test_signature_pairs_collapse_identical_star_form(spark):
    """collapse_identical=True: a 3-member identical-signature cluster
    emits 2 star rows (rep ↔ member, hamming 0) instead of 3 clique
    rows, and near pairs are reported between cluster REPRESENTATIVES
    — output linear in cluster size."""
    from mapreducewordcount_spark.operators.dedup import (
        signature_hamming_pairs,
    )

    sigs = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100),      # identical cluster, rep=1
         (4, 101),                          # hamming 1 from 100
         (5, 1 << 40)],                     # far away
        "doc_id long, signature long")
    rows = sorted(
        ((r.a_id, r.b_id, r.hamming) for r in
         signature_hamming_pairs(sigs, collapse_identical=True).collect()))
    assert rows == [(1, 2, 0), (1, 3, 0), (1, 4, 1)]
    # clique form for contrast: 3 + 3 = 6 rows (every member pairs 4)
    clique = signature_hamming_pairs(sigs).collect()
    assert len(clique) == 6


def test_dup_groups_long_chain_converges_log_rounds(spark):
    """A 100-vertex CHAIN (doc i ~ doc i+1 — the sliding-edit shape)
    must converge well inside max_iters thanks to pointer halving;
    plain diameter-bounded propagation needed 99 rounds and raised."""
    from mapreducewordcount_spark.operators.dedup import dup_groups

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "a_id long, b_id long")
    got = {r.doc_id: r.group_id for r in dup_groups(pairs).collect()}
    assert len(got) == 100
    assert set(got.values()) == {0}  # one component, min-id label


def test_adaptive_banding_cuts_candidates_vs_byte_banding():
    """The scale claim behind hamming_band_plan (VERDICT r5 next#1):
    at radius 3, 4 bands × 16 bits must generate orders of magnitude
    fewer spurious candidates on UNCORRELATED signatures than the old
    8 bands × 8 bits — same pigeonhole recall, ~512× fewer random
    collisions ((4/2^16) vs (8/2^8) of the pair space). Counted here
    as the banded join counts them: same-value rows per (band, value)
    bucket, summed over bands."""
    import collections

    import numpy as np

    from mapreducewordcount_spark.operators.dedup import hamming_band_plan

    rng = np.random.RandomState(11)
    sigs = rng.randint(-2**63, 2**63 - 1, size=4000, dtype=np.int64)

    def candidate_rows(plan):
        total = 0
        for off, w in plan:
            vals = (sigs.astype(np.uint64) >> np.uint64(off)) \
                & np.uint64((1 << w) - 1)
            for c in collections.Counter(vals.tolist()).values():
                total += c * (c - 1) // 2
        return total

    old_plan = [(8 * i, 8) for i in range(8)]
    new_plan = hamming_band_plan(3)
    assert new_plan == [(0, 16), (16, 16), (32, 16), (48, 16)]
    old_c, new_c = candidate_rows(old_plan), candidate_rows(new_plan)
    # n=4000 → expect ~250k old candidates vs ~490 new (512× ratio);
    # assert two orders of magnitude with slack for variance
    assert old_c > 100 * max(new_c, 1), (old_c, new_c)


def test_simhash_pairs_ignore_blank_documents(spark):
    """k blank/whitespace docs must not fabricate a Hamming-0 clique
    via the shared simhash=0 signature (ADVICE r5): empty docs emit
    no signature row at all."""
    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "\t\n"), (3, None),
         (4, "real content words here " * 10),
         (5, "real content words here " * 10)],
        "doc_id long, text string")
    rows = dd.simhash_pairs(df, max_hamming=3).collect()
    assert {(r.a_id, r.b_id, r.hamming) for r in rows} == {(4, 5, 0)}


def test_lsh_degenerate_vectors_never_band(spark):
    """NULL/all-zero vectors have no direction: the zero vector's sign
    bits are ALL ones, so k degenerate rows would share one bucket in
    EVERY band (~k²/2 candidates the verify then discards row by
    row). band_keys_udf emits NULL keys for them instead — no band
    rows, no candidates, and the verified pair output is unchanged
    when such rows join the corpus."""
    base = [(i, [float((i * 7 + j * 3) % 13) - 6.0 for j in range(8)])
            for i in range(40)]
    clean = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    dirty = spark.createDataFrame(
        base + [(100, None), (101, [0.0] * 8), (102, [0.0] * 8),
                (103, [0.0] * 8)],
        "vec_id long, embedding array<double>")

    banded = dd.embedding_band_keys(dirty, dim=8, n_bands=4, band_width=4)
    bad_ids = {r.id for r in
               banded.filter(F.col("id") >= 100).collect()}
    assert bad_ids == set(), bad_ids

    cand, _sig = dd.lsh_candidate_pairs(dirty, dim=8, n_bands=4,
                                        band_width=4)
    assert cand.filter((F.col("a_id") >= 100)
                       | (F.col("b_id") >= 100)).count() == 0

    out_clean = {(r.a_id, r.b_id, r.cos) for r in dd.embedding_dup_pairs_lsh(
        clean, threshold=0.3, dim=8, n_bands=4, band_width=4).collect()}
    out_dirty = {(r.a_id, r.b_id, r.cos) for r in dd.embedding_dup_pairs_lsh(
        dirty, threshold=0.3, dim=8, n_bands=4, band_width=4).collect()}
    assert out_clean == out_dirty


def test_arrow_cosine_bit_parity_with_expression_fold(spark):
    """The Arrow verify kernel must match the zip_with/aggregate
    expression BIT-FOR-BIT at full precision (no rounding) — that is
    the contract that keeps the artifact oracles hash-exact
    (VERDICT r7 next#2). Checked over every corpus pair id 120 apart
    (~unfiltered cosines, both signs) plus degenerate rows."""
    from mapreducewordcount_spark.functions.vectors import (
        arrow_cosine_udf,
        cosine,
        norm,
    )
    from mapreducewordcount_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    v = emb.select(F.col("vec_id").alias("id"),
                   F.col("embedding").alias("vec"),
                   norm("embedding").alias("nrm"))
    a = v.select(F.col("id").alias("a_id"), F.col("vec").alias("a_vec"),
                 F.col("nrm").alias("a_n"))
    b = v.select(F.col("id").alias("b_id"), F.col("vec").alias("b_vec"),
                 F.col("nrm").alias("b_n"))
    pairs = a.join(b, F.col("a_id") + 120 == F.col("b_id"))
    both = pairs.select(
        "a_id", "b_id",
        cosine("a_vec", "b_vec").alias("expr_cos"),
        arrow_cosine_udf()(F.col("a_vec"), F.col("b_vec"),
                           F.col("a_n"), F.col("b_n")).alias("arrow_cos"))
    rows = both.collect()
    assert len(rows) > 300
    for r in rows:
        assert r.expr_cos == r.arrow_cos, (r.a_id, r.b_id)


def test_arrow_cosine_degenerate_rows_match_expression(spark):
    """Zero-norm → 0.0; NULL vec → 0.0; length mismatch with
    positive norms → NULL (zip_with pads with nulls → null dot)."""
    from mapreducewordcount_spark.functions.vectors import (
        arrow_cosine_udf,
        norm,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0], [3.0, 4.0]),      # normal
         (2, [0.0, 0.0], [1.0, 1.0]),      # zero norm
         (3, None, [1.0, 1.0]),            # null vec
         (4, [1.0, 2.0, 3.0], [1.0, 1.0])  # ragged
         ],
        "id long, a array<double>, b array<double>")
    got = {r.id: r.cos for r in df.select(
        "id",
        arrow_cosine_udf()(F.col("a"), F.col("b"),
                           norm("a"), norm("b")).alias("cos")).collect()}
    assert got[1] == pytest.approx(11.0 / ((5.0 ** 0.5) * (25.0 ** 0.5)))
    assert got[2] == 0.0
    assert got[3] == 0.0
    assert got[4] is None

def test_dup_groups_double_halving_round_budget(spark):
    """Round 14: double pointer-halving contracts label distance ~4×
    per round, so the 100-vertex chain must converge within 5 rounds
    (4 to reach the fixpoint + 1 to observe no change). The single-
    halving form needed ~7 — this pins the round budget so a
    regression to slower convergence fails loudly."""
    from mapreducewordcount_spark.operators.dedup import dup_groups

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "a_id long, b_id long")
    got = {r.doc_id: r.group_id
           for r in dup_groups(pairs, max_iters=5).collect()}
    assert len(got) == 100
    assert set(got.values()) == {0}
