"""Unit coverage for the round-8 profiling and CUSUM operators
beyond their DuckDB gate oracles: null handling, typed min/max
routing, and the window-identity form of one-sided CUSUM against a
direct Python replay of the textbook recurrence."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from mapreducewordcount_spark.operators.profile import profile_columns


def test_profile_nulls_distinct_and_typed_minmax(spark):
    df = spark.createDataFrame(
        [(1, 2.5, "b", dt.datetime(2024, 1, 1, 10)),
         (2, None, "a", dt.datetime(2024, 1, 2, 11)),
         (2, 7.5, None, None),
         (None, 7.5, "c", dt.datetime(2024, 1, 1, 9))],
        "k long, v double, s string, t timestamp")
    rows = {r.column_name: r for r in profile_columns(
        df, numeric_cols=["k", "v"], string_cols=["s"],
        ts_cols=["t"]).collect()}
    assert set(rows) == {"k", "v", "s", "t"}
    k = rows["k"]
    assert (k.n_rows, k.n_nulls, k.n_distinct) == (4, 1, 2)
    assert (k.min_num, k.max_num) == (1.0, 2.0)
    assert k.min_str is None and k.max_str is None
    v = rows["v"]
    assert (v.n_nulls, v.n_distinct, v.min_num, v.max_num) == (1, 2, 2.5, 7.5)
    s = rows["s"]
    assert (s.n_nulls, s.n_distinct) == (1, 3)
    assert (s.min_str, s.max_str) == ("a", "c")
    assert s.min_num is None and s.max_num is None
    t = rows["t"]
    assert t.min_str == "2024-01-01 09:00:00"
    assert t.max_str == "2024-01-02 11:00:00"


def test_profile_two_aggregate_passes(spark):
    """The profile is exactly TWO aggregates over the input — the
    plain pass and the multi-distinct pass — never per-column jobs,
    and never ONE mixed aggregate (Catalyst would drag every
    min/max/count partial through the Expand's per-distinct-tuple
    hash table: measured 11.4s vs 2.1s on sf0.1 lineitem)."""
    from mapreducewordcount_spark.plans import explain_str

    import re

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    plan = explain_str(profile_columns(df, numeric_cols=["k", "v"]))
    # two scans (one per aggregate family); ALL distincts share a
    # single Expand + two-stage aggregation
    assert len(re.findall(r"\(\d+\) Range", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Expand", plan)) == 1, plan
    # the plain pass must NOT sit under the Expand: no aggregate
    # node keyed by the distinct tuples (gid) may carry min/max
    # partials
    for block in plan.split("\n("):
        if "HashAggregate" in block and "gid" in block:
            assert "partial_min" not in block, block
            assert "partial_max" not in block, block


def test_profile_rejects_hostile_and_duplicate_names(spark):
    """Names reach generated stack() SQL as literals/backtick aliases
    (ADVICE r8): quotes/backticks must be rejected up front, as must
    a column listed under two type lists (duplicate aliases)."""
    import pytest

    df = spark.range(5).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("s"))
    for hostile in ("k'; drop", "k`x", "a b", "1k", ""):
        with pytest.raises(ValueError, match="identifier"):
            profile_columns(df, numeric_cols=[hostile])
    with pytest.raises(ValueError, match="more than one type list"):
        profile_columns(df, numeric_cols=["k"], string_cols=["k"])


def test_cusum_peak_matches_python_replay(spark):
    """events_rate_cusum's window identity
    ``S_i = cum_i − min(0, min_{j≤i} cum_j)`` must equal the textbook
    recurrence ``S_i = max(0, S_{i−1} + dev_i)`` — replayed directly
    in Python on a constructed burst series."""
    from mapreducewordcount_spark.queries.pipeline6 import events_rate_cusum

    # one event type, hourly counts: flat 2/hr with a 3-hour burst
    counts = [2, 2, 2, 9, 9, 9, 2, 2, 1, 2]
    rows = []
    eid = 0
    for h, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, dt.datetime(2024, 1, 1, h, eid % 60),
                         7, "view", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
    sf_dir = None  # query loads via load_table; bypass by monkey calc

    # replicate the query body on this frame directly (same exprs)
    import mapreducewordcount_spark.queries.pipeline6 as p6
    import mapreducewordcount_spark.sources.tables as tables
    orig = tables.load_table
    try:
        tables.load_table = lambda spark, sf, name: df
        p6_load = p6.load_table
        p6.load_table = lambda spark, sf, name: df
        got = {r.event_type: r for r in
               events_rate_cusum(spark, "unused").collect()}
    finally:
        tables.load_table = orig
        p6.load_table = p6_load

    n = len(counts)
    total = sum(counts)
    devs = [c * n - total for c in counts]
    s, peak, peak_h = 0, 0, 0
    for h, d in enumerate(devs):
        s = max(0, s + d)
        if s > peak:
            peak, peak_h = s, h
    r = got["view"]
    assert r.n_hours == n and r.n_events == total
    assert r.peak_cusum == peak
    assert r.peak_hour == f"2024-01-01 {peak_h:02d}:00:00"
