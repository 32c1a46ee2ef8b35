"""Exact-substring dedup (operators/exact_substring.py) against
planted ground truth — Lee et al. 2022 ExactSubstr semantics: every
duplicated >=L-token span is located exactly and removed.

The full three-check oracle comparison runs in test_oracle.py's
registry sweep (exact_substring_dedup); here we pin the operator's
span arithmetic on corpora where the right answer is hand-computable.
"""

from __future__ import annotations

from mapreducewordcount_spark.operators.exact_substring import (
    exact_substring_dedup,
    exact_substring_spans,
)


def _docs(spark, *texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def _uw(prefix, n, start=0):
    """n unique filler words."""
    return " ".join(f"{prefix}{i}" for i in range(start, start + n))


SHARED20 = " ".join(f"shared{i}" for i in range(20))


def spans_of(df, doc_id):
    return sorted((r.span_start, r.span_end)
                  for r in df.collect() if r.doc_id == doc_id)


def test_planted_cross_doc_span_exact_boundaries(spark):
    # doc0: 5 unique + 20 shared + 7 unique; doc1: 3 unique + 20 shared
    d = _docs(spark,
              _uw("a", 5) + " " + SHARED20 + " " + _uw("b", 7),
              _uw("c", 3) + " " + SHARED20)
    sp = exact_substring_spans(d, min_tokens=15)
    # 1-based token positions of the shared run
    assert spans_of(sp, 0) == [(6, 25)]
    assert spans_of(sp, 1) == [(4, 23)]

    out = {r.doc_id: r for r in
           exact_substring_dedup(d, min_tokens=15).collect()}
    assert (out[0].n_tokens, out[0].n_dup_spans, out[0].n_dup_tokens) \
        == (32, 1, 20)
    assert out[0].cleaned_text == _uw("a", 5) + " " + _uw("b", 7)
    assert out[1].cleaned_text == _uw("c", 3)


def test_whole_doc_duplicate_cleans_to_empty(spark):
    body = _uw("x", 30)
    d = _docs(spark, body, body, _uw("y", 30))
    out = {r.doc_id: r for r in
           exact_substring_dedup(d, min_tokens=15).collect()}
    for i in (0, 1):
        assert out[i].n_dup_spans == 1
        assert out[i].n_dup_tokens == 30
        assert out[i].cleaned_text == ""
    assert out[2].n_dup_tokens == 0
    assert out[2].cleaned_text == _uw("y", 30)


def test_overlapping_and_adjacent_covered_windows_merge(spark):
    # doc0 carries SHARED20 twice back to back (positions 1-20 and
    # 21-40): every 15-window of the 40-token run is duplicated
    # somewhere (within-doc repeats count), so the union must merge
    # into ONE maximal span covering all 40 tokens.
    d = _docs(spark, SHARED20 + " " + SHARED20, SHARED20 + " " + _uw("z", 9))
    sp = exact_substring_spans(d, min_tokens=15)
    assert spans_of(sp, 0) == [(1, 40)]
    assert spans_of(sp, 1) == [(1, 20)]


def test_within_doc_repetition_is_a_duplicate(spark):
    # the span repeats only INSIDE one doc — same bytes to a training
    # run, so both occurrences are removed
    d = _docs(spark,
              SHARED20 + " " + _uw("m", 4) + " " + SHARED20,
              _uw("n", 25))
    out = {r.doc_id: r for r in
           exact_substring_dedup(d, min_tokens=15).collect()}
    assert out[0].n_dup_spans == 2
    assert out[0].n_dup_tokens == 40
    assert out[0].cleaned_text == _uw("m", 4)
    assert out[1].n_dup_tokens == 0


def test_short_docs_and_unique_docs_untouched(spark):
    d = _docs(spark, "tiny doc", _uw("q", 14), _uw("r", 16))
    out = {r.doc_id: r for r in
           exact_substring_dedup(d, min_tokens=15).collect()}
    assert all(o.n_dup_spans == 0 for o in out.values())
    assert out[0].cleaned_text == "tiny doc"
    assert out[1].n_tokens == 14
    assert out[2].n_tokens == 16


def test_min_count_threshold(spark):
    body = _uw("s", 20)
    d = _docs(spark, body, body, body)
    twice = exact_substring_dedup(_docs(spark, body, body),
                                  min_tokens=15, min_count=3).collect()
    assert all(r.n_dup_spans == 0 for r in twice)  # only 2 copies
    thrice = {r.doc_id: r for r in
              exact_substring_dedup(d, min_tokens=15,
                                    min_count=3).collect()}
    assert all(thrice[i].cleaned_text == "" for i in range(3))


def test_partitioning_invariance(spark):
    """The removal set is a corpus-level fact — repartitioning the
    input must not move a span boundary."""
    texts = [_uw("a", 5) + " " + SHARED20,
             SHARED20 + " " + _uw("b", 3),
             _uw("e", 18), _uw("f", 2)]
    d1 = _docs(spark, *texts).repartition(1)
    d7 = _docs(spark, *texts).repartition(7)
    r1 = sorted(map(tuple, exact_substring_dedup(d1, min_tokens=15).collect()))
    r7 = sorted(map(tuple, exact_substring_dedup(d7, min_tokens=15).collect()))
    assert r1 == r7


def test_gate_query_nontrivial_at_oracle_sf(spark):
    """The gate operating point (L=15) must exercise real spans on the
    driver corpus — a parameter drift that empties the output would
    make the driver row vacuously green."""
    from mapreducewordcount_spark.queries.pipeline4 import (
        exact_substring_dedup as gate_q,
    )
    from tests.conftest import SF_ORACLE

    out = gate_q(spark, SF_ORACLE)
    assert out.filter(out.n_dup_spans > 0).count() > 0
