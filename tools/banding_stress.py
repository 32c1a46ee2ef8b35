#!/usr/bin/env python
"""Adaptive-banding stress: old 8×8-byte vs new max_hamming+1-band
candidate generation on corpora 10×-40× beyond the gate testdata.

Generates n uniform-random 64-bit signatures (the adversarial case —
real signature tables have clusters that only help the wider bands)
plus 100 planted Hamming-≤3 twins, then measures for each banding:

- candidate rows entering the join (sum over (band, value) buckets of
  C(bucket, 2) — exactly the pre-distinct join output), and
- wall-clock of the full pair operator (banded join + popcount
  verify),

and asserts both bandings find every planted twin (the pigeonhole
guarantee is radius-preserving in both). Results feed SCALE.md's
round-6 section.

Round 7 adds an ``lsh`` mode for the OTHER reworked banding family —
OR-banded embedding sign-LSH (``embedding_band_keys`` +
``embedding_band_candidates``): synthetic
gaussian 64-dim vectors (again adversarial: zero cluster structure)
plus 100 planted cosine-near twins, measuring candidate mass, the
full verified-pair wall clock, and planted recall at each n. The
corpus-derived band width (≈log2 n bits) is the sub-quadratic claim
under test: random bucket mass stays O(1) as n grows.

Usage: python tools/banding_stress.py [n ...]          (hamming mode)
       python tools/banding_stress.py lsh [n ...]      (embedding LSH)
Defaults: 50000 200000 (hamming), 100000 1000000 (lsh).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import numpy as np
from pyspark.sql import functions as F

from mapreducewordcount_spark.operators.dedup import (
    hamming_band_plan,
    signature_hamming_pairs,
)
from mapreducewordcount_spark.session import get_spark

LSH_MODE = len(sys.argv) > 1 and sys.argv[1] == "lsh"
_ARGS = sys.argv[2:] if LSH_MODE else sys.argv[1:]
SIZES = [int(a) for a in _ARGS] or \
    ([100_000, 1_000_000] if LSH_MODE else [50_000, 200_000])
RADIUS = 3
N_PLANTED = 100


def make_sigs(spark, n: int):
    rng = np.random.RandomState(n)
    sigs = rng.randint(-2**63, 2**63 - 1, size=n, dtype=np.int64)
    planted = []
    for j in range(N_PLANTED):
        base = int(sigs[j])
        k = 1 + j % RADIUS  # Hamming 1..RADIUS
        flipped = base
        for b in rng.choice(64, size=k, replace=False):
            flipped ^= 1 << int(b)
        # wrap back into signed-64 range (Python ints are unbounded
        # two's complement, so flipping bit 63 can leave the range)
        flipped = ((flipped + 2**63) % 2**64) - 2**63
        planted.append((n + j, flipped))
    rows = ([(int(i), int(s)) for i, s in enumerate(sigs)] + planted)
    df = spark.createDataFrame(rows, "doc_id long, signature long") \
        .repartition(32).persist()
    df.count()
    expected = {(j, n + j) for j in range(N_PLANTED)}
    return df, expected


def pairs_with_plan(sigs_df, plan):
    banded = sigs_df.select(
        "doc_id", F.col("signature").alias("__sig"),
        F.posexplode(F.array(*[
            F.shiftright(F.col("signature"), off)
            .bitwiseAND(F.lit((1 << w) - 1))
            for off, w in plan])).alias("band_pos", "band_val"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.band_pos") == F.col("b.band_pos"))
                   & (F.col("a.band_val") == F.col("b.band_val"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("a_id"),
                    F.col("a.__sig").alias("a_sig"),
                    F.col("b.doc_id").alias("b_id"),
                    F.col("b.__sig").alias("b_sig"))
            .distinct())
    return (cand.withColumn("hamming", F.bit_count(
        F.col("a_sig").bitwiseXOR(F.col("b_sig"))))
        .filter(F.col("hamming") <= RADIUS)
        .select("a_id", "b_id"))


def candidate_rows(sigs_df, plan) -> int:
    banded = sigs_df.select(F.posexplode(F.array(*[
        F.shiftright(F.col("signature"), off).bitwiseAND(F.lit((1 << w) - 1))
        for off, w in plan])).alias("band_pos", "band_val"))
    per_bucket = banded.groupBy("band_pos", "band_val") \
        .agg(F.count(F.lit(1)).alias("c"))
    row = per_bucket.agg(
        F.sum(F.expr("CAST(c AS DOUBLE) * (c - 1) / 2")).alias("p")).first()
    return int(row.p or 0)


def make_embeddings(spark, n: int, dim: int = 64):
    """n gaussian vectors + N_PLANTED near twins (cos ≈ 0.99), written
    through /tmp parquet (createDataFrame of 10⁶ Python float lists is
    the slow path; arrow → parquet → scan is the honest ingest shape
    anyway)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(n)
    x = rng.normal(size=(n, dim)).astype(np.float32)
    twins = (x[:N_PLANTED]
             + rng.normal(scale=0.15, size=(N_PLANTED, dim))
             .astype(np.float32))
    allx = np.vstack([x, twins])
    m = len(allx)
    offsets = np.arange(0, (m + 1) * dim, dim, dtype=np.int32)
    tbl = pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(allx.ravel())),
    })
    path = f"/tmp/banding_stress_emb_{n}.parquet"
    pq.write_table(tbl, path)
    expected = {(j, n + j) for j in range(N_PLANTED)}
    return spark.read.parquet(path), expected


def lsh_candidate_mass(banded) -> int:
    """Pre-distinct band-join output rows: Σ over (band, key) buckets
    of C(bucket, 2) — the LSH analog of ``candidate_rows``."""
    per_bucket = banded.groupBy("band", "key") \
        .agg(F.count(F.lit(1)).alias("c"))
    row = per_bucket.agg(
        F.sum(F.expr("CAST(c AS DOUBLE) * (c - 1) / 2")).alias("p")).first()
    return int(row.p or 0)


def lsh_main(spark) -> None:
    from mapreducewordcount_spark.operators.dedup import (
        embedding_band_candidates,
        embedding_band_keys,
        embedding_dup_pairs_lsh,
    )
    from mapreducewordcount_spark.operators.similarity import (
        derive_band_width,
    )

    print("| n | band width | band-join rows | distinct candidates | "
          "full-op wall (s) | planted recall |")
    print("|---|---|---|---|---|---|")
    for n in SIZES:
        emb, expected = make_embeddings(spark, n)
        w = derive_band_width(n)
        banded = embedding_band_keys(emb, corpus_size=n).cache()
        mass = lsh_candidate_mass(banded)
        n_cand = embedding_band_candidates(banded).count()
        banded.unpersist()
        t0 = time.perf_counter()
        got = {(r.a_id, r.b_id) for r in
               embedding_dup_pairs_lsh(emb, threshold=0.8,
                                       corpus_size=n).collect()}
        dt = time.perf_counter() - t0
        missing = expected - got
        recall = f"{N_PLANTED - len(missing)}/{N_PLANTED}"
        print(f"| {n:,} | {w} | {mass:,} | {n_cand:,} | {dt:.2f} | "
              f"{recall} |")


def main() -> None:
    spark = get_spark("banding-stress")
    if LSH_MODE:
        lsh_main(spark)
        spark.stop()
        return
    old_plan = [(8 * i, 8) for i in range(8)]
    new_plan = hamming_band_plan(RADIUS)
    print(f"| n | banding | candidate rows | pair-op wall (s) | "
          f"planted recall |")
    print("|---|---|---|---|---|")
    for n in SIZES:
        sigs_df, expected = make_sigs(spark, n)
        plans = [(f"{RADIUS + 1}×16 (new)", new_plan)]
        if n <= 100_000:  # the old banding's ~n²/16k join rows get
            plans.insert(0, ("8×8 (old)", old_plan))  # prohibitive fast
        for label, plan in plans:
            c = candidate_rows(sigs_df, plan)
            t0 = time.perf_counter()
            got = {(r.a_id, r.b_id) for r in
                   pairs_with_plan(sigs_df, plan).collect()}
            dt = time.perf_counter() - t0
            missing = expected - got
            assert not missing, f"{label} missed planted pairs: {missing}"
            recall = f"{N_PLANTED}/{N_PLANTED}"
            print(f"| {n:,} | {label} | {c:,} | {dt:.2f} | {recall} |")
        sigs_df.unpersist()
    # the library operator itself, for the headline number
    for n in SIZES:
        sigs_df, expected = make_sigs(spark, n)
        t0 = time.perf_counter()
        got = {(r.a_id, r.b_id) for r in
               signature_hamming_pairs(sigs_df, sig_col="signature",
                                       max_hamming=RADIUS).collect()}
        dt = time.perf_counter() - t0
        assert expected <= got
        print(f"| {n:,} | signature_hamming_pairs (lib) | — | {dt:.2f} | "
              f"{N_PLANTED}/{N_PLANTED} |")
        sigs_df.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
