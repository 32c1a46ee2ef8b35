"""Round-9 operator coverage beyond the DuckDB gate oracles:
chunk-share pair semantics (planted passage, boilerplate cap) and
the truncated-RBO identity against a direct Python replay."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from mapreducewordcount_spark.operators.cdchunk import (
    cdc_chunk_table,
    chunk_share_pairs,
)


def _text(n, seed=7):
    rng = random.Random(seed)
    return "".join(rng.choice("abcdefgh ") for _ in range(n))


def test_chunk_share_pairs_planted_passage(spark):
    """Two documents sharing a long passage pair up through the chunk
    index; unrelated documents do not."""
    shared = _text(8000, seed=1)
    docs = spark.createDataFrame(
        [(1, _text(2000, seed=2) + shared),
         (2, shared + _text(2000, seed=3)),
         (3, _text(6000, seed=4))],
        "doc_id long, text string")
    pairs = {(r.a_id, r.b_id): r for r in
             chunk_share_pairs(cdc_chunk_table(docs)).collect()}
    assert (1, 2) in pairs
    p = pairs[(1, 2)]
    # the shared passage dominates both docs: most chunks agree
    assert p.shared_chars >= 0.5 * len(shared), p
    assert 0 < p.jaccard_ppm <= 1_000_000
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_chunk_share_pairs_boilerplate_cap(spark):
    """A chunk hash present in more than fanout_cap documents is
    boilerplate: it must contribute NO pairs (it would otherwise
    emit O(n_docs²) of them) and not count in the Jaccard universe."""
    boiler = _text(2000, seed=5)
    rows = [(i, boiler) for i in range(20)]          # 20 identical docs
    rows += [(100, _text(3000, seed=6) * 2)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = cdc_chunk_table(docs)
    got = chunk_share_pairs(chunks, fanout_cap=16).collect()
    assert got == []  # the 20-doc clique is entirely capped out
    # with the cap lifted the clique pairs appear (sanity that the
    # filter, not the data, produced the empty result)
    lifted = chunk_share_pairs(chunks, fanout_cap=64).collect()
    assert len(lifted) == 20 * 19 // 2


def test_chunk_gc_report_matches_python_replay(spark):
    """Reference-count GC accounting replayed in Python from the same
    chunk table: a chunk is reclaimable iff NO live (doc_id %% 13 != 0)
    document references it, and it is owned by the source of its
    first-referencing (doc_id, chunk_idx)."""
    from mapreducewordcount_spark.queries.pipeline7 import (
        doc_chunk_gc_report,
    )
    from mapreducewordcount_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    src = {r.doc_id: r.source for r in
           docs.select("doc_id", "source").collect()}
    chunks = cdc_chunk_table(docs.select("doc_id", "text")).collect()
    by_hash: dict = {}
    for c in chunks:
        h = by_hash.setdefault(c.chunk_md5,
                               {"len": c.length, "live": 0, "rk": None})
        rk = c.doc_id * 1_000_000 + c.chunk_idx
        h["rk"] = rk if h["rk"] is None else min(h["rk"], rk)
        h["live"] += int(c.doc_id % 13 != 0)
    exp: dict = {}
    for h in by_hash.values():
        s = src[h["rk"] // 1_000_000]
        e = exp.setdefault(s, [0, 0, 0, 0])
        e[0] += 1
        e[1] += h["len"]
        if h["live"] == 0:
            e[2] += 1
            e[3] += h["len"]
    got = {r.owner_source: (r.n_chunks_owned, r.owned_chars,
                            r.n_reclaimable, r.reclaimable_chars)
           for r in doc_chunk_gc_report(spark, SF_SMOKE).collect()}
    assert got == {s: tuple(v) for s, v in exp.items()}
    # the deletion rule really bites at this sf (non-degenerate test)
    assert sum(v[2] for v in exp.values()) > 0


def test_semantic_decontam_matches_sequential_fold_replay(spark):
    """Max-cosine-to-eval replayed in pure Python with the engines'
    exact left-to-right fold (numpy pairwise summation would NOT
    reproduce the doubles): per-doc max, 6dp rounding, and the
    full-precision threshold compare must all agree."""
    from mapreducewordcount_spark.queries.pipeline7 import (
        SEMANTIC_DECONTAM_TAU,
        semantic_decontam_report,
    )
    from mapreducewordcount_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    src = {r.doc_id: r.source for r in docs.collect()}
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)   # sequential fold
        return acc

    import math

    def cos(a, b):
        na, nb = math.sqrt(dot(a, a)), math.sqrt(dot(b, b))
        return dot(a, b) / (na * nb) if na > 0 and nb > 0 else 0.0

    ev = [v for i, v in vecs.items() if src.get(i) == "src0"]
    got = {r.doc_id: r for r in
           semantic_decontam_report(spark, SF_SMOKE).collect()}
    n_contaminated = 0
    for i, v in vecs.items():
        if src.get(i) in (None, "src0"):
            assert i not in got
            continue
        mc = max(cos(e, v) for e in ev)
        r = got[i]
        assert r.max_eval_cos == round(mc, 6), (i, mc, r.max_eval_cos)
        want = "contaminated" if mc > SEMANTIC_DECONTAM_TAU else "clean"
        assert r.status == want, (i, mc)
        n_contaminated += want == "contaminated"
    assert len(got) == sum(1 for i in vecs if src.get(i) not in
                           (None, "src0"))


def test_rank_overlap_matches_python_replay(spark):
    """depth/overlap/RBO columns replayed in Python from the two
    pools the query itself is built on — exact equality, including
    the quantized RBO prefix sums."""
    from mapreducewordcount_spark.operators.bm25 import bm25_topk
    from mapreducewordcount_spark.queries.pipeline6 import (
        HYBRID_POOL,
        HYBRID_TERMS,
        vec_rank_pool,
    )
    from mapreducewordcount_spark.queries.pipeline7 import (
        RBO_SCALE,
        RBO_WEIGHTS,
        hybrid_rank_overlap,
    )
    from mapreducewordcount_spark.sources.tables import load_table, spread
    from tests.conftest import SF_SMOKE

    docs = spread(load_table(spark, SF_SMOKE, "documents"))
    bm = {r.doc_id: r.rank for r in
          bm25_topk(docs, HYBRID_TERMS, k=HYBRID_POOL).collect()}
    vec = {r.doc_id: r.rank_vec for r in
           vec_rank_pool(spark, SF_SMOKE).collect()}
    mr = [max(bm[d], vec[d]) for d in set(bm) & set(vec)]

    got = {r.depth: r for r in
           hybrid_rank_overlap(spark, SF_SMOKE).collect()}
    assert set(got) == set(range(1, HYBRID_POOL + 1))
    rbo = 0
    for d in range(1, HYBRID_POOL + 1):
        n = sum(1 for m in mr if m <= d)
        rbo += int(round(RBO_WEIGHTS[d - 1] * (n / d) * RBO_SCALE))
        r = got[d]
        assert (r.n_overlap, r.overlap_ppm, r.rbo_units) == \
            (n, n * 1_000_000 // d, rbo), d
        assert r.n_overlap <= d
        if d > 1:
            assert r.n_overlap >= got[d - 1].n_overlap
    assert got[HYBRID_POOL].rbo_units <= RBO_SCALE


def test_semantic_decontam_lsh_mode_matches_exact_on_planted(
        spark, tmp_path):
    """The brute-force max-cosine scan on a planted corpus: every
    planted leak (scaled copies and a same-sign paraphrase of an
    eval vector) is flagged, and every doc's status and max cosine
    equal a pure-Python replay over all (doc, eval) pairs."""
    import math
    import random as _random

    import numpy as np

    from mapreducewordcount_spark.queries.pipeline7 import (
        SEMANTIC_DECONTAM_TAU,
        semantic_decontam_report,
    )

    rng = _random.Random(42)

    def vec(scale=1.0):
        return [scale * (rng.random() * 2 - 1) for _ in range(64)]

    ev_vecs = [vec() for _ in range(5)]
    rows, emb = [], []
    for i, v in enumerate(ev_vecs):           # eval set = src0
        rows.append((i, "src0", "eval doc"))
        emb.append((i, v, 0))
    # contaminated: scaled copies (cos exactly 1, signs identical)
    for j, (i, s) in enumerate([(0, 2.0), (1, 0.5), (2, 3.0)]):
        rows.append((100 + j, "srcA", "leak"))
        emb.append((100 + j, [s * x for x in ev_vecs[i]], 0))
    # contaminated: paraphrase — tiny same-sign perturbation
    para = [x * (1.001 if x >= 0 else 0.999) for x in ev_vecs[3]]
    rows.append((110, "srcA", "paraphrase"))
    emb.append((110, para, 0))
    # clean: independent random vectors
    for j in range(12):
        rows.append((200 + j, "srcB", "clean doc"))
        emb.append((200 + j, vec(), 0))
    spark.createDataFrame(rows, "doc_id long, source string, "
                                "text string") \
        .write.parquet(f"{tmp_path}/documents.parquet")
    spark.createDataFrame(emb, "vec_id long, embedding array<float>, "
                               "label int") \
        .write.parquet(f"{tmp_path}/embeddings.parquet")

    exact = {r.doc_id: r for r in
             semantic_decontam_report(spark, str(tmp_path)).collect()}

    # replay at the stored float32 precision
    def f32(v):
        return [float(x) for x in np.asarray(v, dtype=np.float32)]

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    evs = [f32(v) for v in ev_vecs]
    want = {vid: max(cos(f32(v), e) for e in evs)
            for vid, v, _ in emb if vid >= 100}
    assert set(exact) == set(want)
    for d, mc in want.items():
        status = "contaminated" if mc > SEMANTIC_DECONTAM_TAU else "clean"
        assert exact[d].status == status, (d, mc, exact[d].status)
        assert abs(exact[d].max_eval_cos - mc) < 1e-6, d
    # the planted leaks are all flagged
    for d in (100, 101, 102, 110):
        assert exact[d].status == "contaminated"
