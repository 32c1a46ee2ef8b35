"""The gain rule of ``tools/perf_pairs.py``: ``quartiles`` and
``verdict``.

A claimed speed-up rests on ``verdict``: the change wins at least nine
tenths of the (parent, change) pairs, ties count for neither side, a
pair missing a value is a change loss, and the gap between the medians
must exceed the parent's interquartile range.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

_SPEC = importlib.util.spec_from_file_location(
    "perf_pairs",
    Path(__file__).resolve().parent.parent / "tools" / "perf_pairs.py")
perf_pairs = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(perf_pairs)


def test_quartiles_inclusive():
    assert perf_pairs.quartiles([5.0]) == (5.0, 5.0, 5.0)
    assert perf_pairs.quartiles([1.0, 3.0]) == (1.5, 2.0, 2.5)
    assert perf_pairs.quartiles([4.0, 1.0, 3.0, 2.0, 5.0]) == (2.0, 3.0, 4.0)


def _pairs(parent, change):
    return list(zip(parent, change))


def test_clear_gain_holds():
    parent = [1.00, 1.02, 1.04, 1.06, 1.08, 1.10, 1.12, 1.14, 1.16, 1.18]
    change = [p - 0.5 for p in parent]
    assert perf_pairs.verdict(_pairs(parent, change), "lower") == (10, 0, True)
    # the same values read with "higher is better" are ten losses
    assert perf_pairs.verdict(_pairs(parent, change), "higher") == (0, 0, False)


def test_missing_value_is_a_change_loss():
    parent = [1.0 + 0.01 * i for i in range(10)]
    change = [p - 0.5 for p in parent]
    change[3] = None
    wins, ties, holds = perf_pairs.verdict(_pairs(parent, change), "lower")
    assert (wins, ties, holds) == (9, 0, True)
    change[7] = None
    assert perf_pairs.verdict(_pairs(parent, change), "lower") == (8, 0, False)
    # a missing parent value loses the pair for the change too
    parent[0] = None
    change[7] = parent[7] - 0.5
    assert perf_pairs.verdict(_pairs(parent, change), "lower")[:2] == (8, 0)


def test_ties_count_for_neither_side():
    parent = [1.0 + 0.01 * i for i in range(10)]
    change = [p - 0.5 for p in parent]
    change[0] = parent[0]
    wins, ties, holds = perf_pairs.verdict(_pairs(parent, change), "lower")
    assert (wins, ties) == (9, 1)
    assert holds  # 9 of 10 still wins
    change[1] = parent[1]
    assert perf_pairs.verdict(_pairs(parent, change), "lower") == (8, 2, False)


@pytest.mark.parametrize("shift,holds", [(0.05, False), (0.3, True)])
def test_gap_must_exceed_parent_iqr(shift, holds):
    """Ten wins are not a gain when the medians differ by less than the
    parent's IQR (here 0.225 s)."""
    parent = [1.0 + 0.05 * i for i in range(10)]
    q1, _, q3 = perf_pairs.quartiles(parent)
    assert q3 - q1 == pytest.approx(0.225)
    change = [p - shift for p in parent]
    assert perf_pairs.verdict(_pairs(parent, change), "lower") == (10, 0, holds)


def test_all_missing_never_holds():
    assert perf_pairs.verdict([(None, None)] * 10, "lower") == (0, 0, False)
    assert perf_pairs.verdict([(1.0, None)] * 10, "lower") == (0, 0, False)
