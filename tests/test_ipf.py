"""IPF two-marginal mixture calibration: hand-checkable fits,
marginal convergence, zero/unsatisfiable handling, and the query's
rate arithmetic on a planted parquet corpus."""

from __future__ import annotations

import pytest

from mapreducewordcount_spark.operators.ipf import (
    ipf_fit,
    ipf_residuals,
)


def _row_sums(t):
    out: dict[str, float] = {}
    for (r, _c), v in t.items():
        out[r] = out.get(r, 0.0) + v
    return out


def _col_sums(t):
    out: dict[str, float] = {}
    for (_r, c), v in t.items():
        out[c] = out.get(c, 0.0) + v
    return out


def test_independent_seed_converges_in_one_round():
    """A product-form seed is already IPF's fixed-point family: one
    row+col pass lands exactly on the product of the targets."""
    avail = {("r0", "c0"): 10.0, ("r0", "c1"): 10.0,
             ("r1", "c0"): 20.0, ("r1", "c1"): 20.0}
    t = ipf_fit(avail, {"r0": 30.0, "r1": 70.0},
                {"c0": 40.0, "c1": 60.0}, n_iters=1)
    assert t[("r0", "c0")] == pytest.approx(30 * 0.4)
    assert t[("r1", "c1")] == pytest.approx(70 * 0.6)


def test_skewed_seed_hits_both_marginals():
    avail = {("r0", "c0"): 100.0, ("r0", "c1"): 1.0,
             ("r1", "c0"): 5.0, ("r1", "c1"): 50.0}
    rt = {"r0": 50.0, "r1": 50.0}
    ct = {"c0": 25.0, "c1": 75.0}
    t = ipf_fit(avail, rt, ct, n_iters=25)
    rr, cc = ipf_residuals(t, rt, ct)
    assert rr < 1e-6 and cc < 1e-6
    for r, want in rt.items():
        assert _row_sums(t)[r] == pytest.approx(want, rel=1e-6)
    for c, want in ct.items():
        assert _col_sums(t)[c] == pytest.approx(want, rel=1e-6)
    # empty cells stay on the seed's support
    assert set(t) == set(avail)


def test_zero_target_drains_and_unsatisfiable_raises():
    avail = {("r0", "c0"): 10.0, ("r0", "c1"): 10.0,
             ("r1", "c1"): 10.0}
    t = ipf_fit(avail, {"r0": 100.0, "r1": 0.0},
                {"c0": 60.0, "c1": 40.0})
    assert _row_sums(t).get("r1", 0.0) == pytest.approx(0.0, abs=1e-9)
    # nonzero column target over a line with zero tokens: raise
    with pytest.raises(ValueError, match="unsatisfiable"):
        ipf_fit({("r0", "c0"): 10.0, ("r0", "c1"): 0.0},
                {"r0": 10.0}, {"c0": 5.0, "c1": 5.0}, n_iters=5)
    # disagreeing totals: raise
    with pytest.raises(ValueError, match="disagree"):
        ipf_fit({("r0", "c0"): 10.0}, {"r0": 10.0}, {"c0": 20.0})
    # missing target keys: raise
    with pytest.raises(ValueError, match="missing"):
        ipf_fit({("r0", "c0"): 10.0}, {}, {"c0": 10.0})


def test_mixture_ipf_grid_planted(spark, tmp_path):
    """End-to-end on a planted parquet corpus: every observed source
    gets an equal row share, columns hit MIX_WEIGHTS, and
    sample_rate replays target_micro/1e6/available."""
    from pyspark.sql import functions as F

    from mapreducewordcount_spark.operators.ipf import MICRO
    from mapreducewordcount_spark.queries.pipeline2 import (
        MIX_BUDGET,
        MIX_WEIGHTS,
    )
    from mapreducewordcount_spark.queries.pipeline10 import (
        mixture_ipf_grid,
    )

    rows = []
    did = 0
    for s in ("srcA", "srcB"):
        for lang, n in (("en", 4), ("de", 3), ("fr", 2), ("es", 2),
                        ("zh", 1)):
            for i in range(n):
                rows.append((did, lang, s,
                             f"some text tokens here number {i}"))
                did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string") \
        .withColumn("n_chars", F.length("text").cast("long"))
    docs.write.parquet(f"{tmp_path}/documents.parquet")
    got = mixture_ipf_grid(spark, str(tmp_path)).collect()
    by_src: dict[str, float] = {}
    by_lang: dict[str, float] = {}
    for r in got:
        by_src[r.source] = by_src.get(r.source, 0.0) + r.target_micro
        by_lang[r.lang] = by_lang.get(r.lang, 0.0) + r.target_micro
        if r.tokens_available > 0:
            assert r.sample_rate == round(
                r.target_micro / MICRO / r.tokens_available, 6)
    total_w = sum(MIX_WEIGHTS.values())
    for s in ("srcA", "srcB"):
        assert by_src[s] / MICRO == pytest.approx(MIX_BUDGET / 2,
                                                  rel=1e-3)
    for lang, w in MIX_WEIGHTS.items():
        assert by_lang[lang] / MICRO == pytest.approx(
            w / total_w * MIX_BUDGET, rel=1e-3)
