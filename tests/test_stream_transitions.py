"""Streaming event-transition twin: cross-batch boundary transitions,
batch-query parity, and the in-order fail-fast contract."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreducewordcount_spark.streaming import stream_event_transitions

SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType())])

T0 = dt.datetime(2024, 1, 1)


def _write_batch(spark, src, name, rows):
    (spark.createDataFrame(rows, SCHEMA)
     .coalesce(1).write.parquet(f"{src}/{name}"))


def _latest_counts(spark, table):
    """Memory sink appends updates; keep the max count per key."""
    latest: dict = {}
    for r in spark.sql(f"SELECT * FROM {table}").collect():
        k = (r.user_id, r.from_type, r.to_type)
        latest[k] = max(latest.get(k, 0), r.n_transitions)
    return latest


def _start(spark, src, name):
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", "1")
              .parquet(f"{src}/*"))
    return (stream_event_transitions(stream)
            .writeStream.outputMode("update").format("memory")
            .queryName(name).start())


def test_transitions_cross_batch_boundary_and_parity(spark, tmp_path):
    src = tmp_path / "ev"
    src.mkdir()
    b1 = [(1, T0, 1, "a"),
          (2, T0 + dt.timedelta(minutes=1), 1, "b")]
    _write_batch(spark, src, "b1", b1)
    q = _start(spark, src, "transitions")
    try:
        q.processAllAvailable()
        assert _latest_counts(spark, "transitions") == {
            (1, "a", "b"): 1}

        # batch 2: user 1 continues (the b->a transition SPANS the
        # batch boundary — the stateless-window miss this twin
        # exists for), user 2 appears fresh
        b2 = [(3, T0 + dt.timedelta(minutes=2), 1, "a"),
              (4, T0 + dt.timedelta(minutes=3), 1, "c"),
              (5, T0 + dt.timedelta(minutes=2), 2, "a"),
              (6, T0 + dt.timedelta(minutes=3), 2, "b")]
        _write_batch(spark, src, "b2", b2)
        q.processAllAvailable()
        got = _latest_counts(spark, "transitions")
        assert got == {(1, "a", "b"): 1, (1, "b", "a"): 1,
                       (1, "a", "c"): 1, (2, "a", "b"): 1}

        # parity: global sums equal the BATCH query over all rows
        from mapreducewordcount_spark.queries.pipeline9 import (
            events_type_transitions,
        )
        alldf = spark.createDataFrame(b1 + b2, SCHEMA)
        bdir = tmp_path / "batch"
        (alldf.withColumn("value", F.lit(1.0))
         .withColumn("props", F.lit("{}"))
         .write.parquet(f"{bdir}/events.parquet"))
        want = {(r.from_type, r.to_type): r.n_transitions
                for r in events_type_transitions(
                    spark, str(bdir)).collect()}
        summed: dict = {}
        for (_, f, t), n in got.items():
            summed[(f, t)] = summed.get((f, t), 0) + n
        assert summed == want
    finally:
        q.stop()


def test_transitions_out_of_order_batch_raises(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = tmp_path / "ev"
    src.mkdir()
    _write_batch(spark, src, "b1",
                 [(10, T0 + dt.timedelta(hours=1), 1, "a")])
    q = _start(spark, src, "transitions_ooo")
    try:
        q.processAllAvailable()
        # a later batch carrying an EARLIER event violates the
        # in-order contract; the twin fails fast instead of silently
        # counting a transition batch semantics never saw
        _write_batch(spark, src, "b2", [(11, T0, 1, "b")])
        with pytest.raises(StreamingQueryException,
                           match="out-of-order micro-batch"):
            q.processAllAvailable()
    finally:
        q.stop()


# --- streaming count-min sketch ------------------------------------------------

def test_stream_cms_cells_matches_batch_sketch(spark, tmp_path):
    """The streaming sketch's final state must equal cms_build over
    the union of all micro-batches — the merge-order invariance the
    batch oracle rides, here across the batch boundary."""
    from mapreducewordcount_spark.operators.cms import cms_build
    from mapreducewordcount_spark.functions.tokenize import tokenize_expr
    from mapreducewordcount_spark.streaming import stream_cms_cells

    src = tmp_path / "lines"
    src.mkdir()
    b1 = ["the quick brown fox", "the lazy dog naps"]
    b2 = ["the fox naps too", "dog and fox agree"]
    (src / "b1.txt").write_text("\n".join(b1) + "\n")
    stream = (spark.readStream.format("text")
              .option("maxFilesPerTrigger", "1").load(str(src)))
    q = (stream_cms_cells(stream)
         .writeStream.outputMode("complete").format("memory")
         .queryName("cms_cells").start())
    try:
        q.processAllAvailable()
        (src / "b2.txt").write_text("\n".join(b2) + "\n")
        q.processAllAvailable()
        got = {(r.d, r.cell): r.c
               for r in spark.sql("SELECT * FROM cms_cells").collect()}
    finally:
        q.stop()
    alldf = spark.createDataFrame([(ln,) for ln in b1 + b2],
                                  "value string")
    words = alldf.select(
        F.explode(tokenize_expr("value")).alias("word"))
    want = {(r.d, r.cell): r.c for r in cms_build(words).collect()}
    assert got == want and len(got) > 0


def test_stream_cms_heavy_hitters_batch_parity(spark, tmp_path):
    """VERDICT r10 next#8: the CMS+pool streaming top-k's final
    emission must equal the batch form — top-k words by CMS estimate
    over the union of all micro-batches — across a planted batch
    boundary, including eviction-and-recovery of a word that re-
    enters the candidate set with its GLOBAL estimate."""
    from mapreducewordcount_spark.functions.tokenize import tokenize_expr
    from mapreducewordcount_spark.operators.cms import (
        cms_build,
        cms_estimate,
    )
    from mapreducewordcount_spark.streaming import (
        start_cms_heavy_hitters,
    )

    src = tmp_path / "lines"
    src.mkdir()
    # batch 1: alpha heavy, beta present-but-light; batch 2: beta
    # surges (global estimate must count batch-1 occurrences too)
    b1 = ["alpha alpha alpha beta gamma delta",
          "alpha alpha epsilon zeta eta theta"]
    b2 = ["beta beta beta beta alpha iota",
          "beta beta kappa lam mu nu"]
    (src / "b1.txt").write_text("\n".join(b1) + "\n")
    stream = (spark.readStream.format("text")
              .option("maxFilesPerTrigger", "1").load(str(src)))
    q = start_cms_heavy_hitters(
        stream, state_dir=str(tmp_path / "state"),
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"), k=3, pool=6)
    try:
        q.processAllAvailable()
        (src / "b2.txt").write_text("\n".join(b2) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()
    import os

    versions = sorted(int(n[1:]) for n in
                      os.listdir(tmp_path / "out"))
    got = [(r.word, r.cms_count) for r in
           spark.read.parquet(f"{tmp_path}/out/v{versions[-1]}")
           .orderBy(F.col("cms_count").desc(), "word").collect()]

    alldf = spark.createDataFrame([(ln,) for ln in b1 + b2],
                                  "value string")
    words = alldf.select(F.explode(tokenize_expr("value")).alias("word"))
    est = cms_estimate(words.distinct(), cms_build(words))
    want = [(r.word, r.cms_count) for r in
            est.orderBy(F.col("cms_count").desc(), "word")
            .limit(3).collect()]
    assert got == want and len(got) == 3
    # beta's batch-1 occurrence counts in its final estimate
    assert dict(got)["beta"] == 7
    # bounded state: the candidate pool never exceeds its cap
    cand = spark.read.parquet(
        f"{tmp_path}/state/cand/v{versions[-1]}")
    assert cand.count() <= 6


def test_stream_source_drift_matches_batch(spark, tmp_path):
    """The drift monitor's final emission must equal the batch
    source_drift_tv over the union of all micro-batches — bucket
    sums are merge-order invariant, pinned across a planted batch
    boundary (the stream_cms_cells recipe)."""
    import json
    import os

    from mapreducewordcount_spark.operators.drift import (
        token_bucket_counts,
        tv_drift_vs_rest,
    )
    from mapreducewordcount_spark.streaming import (
        start_source_drift_monitor,
    )

    src = tmp_path / "docs"
    src.mkdir()
    b1 = [{"source": "sa", "text": "alpha beta beta gamma"},
          {"source": "sb", "text": "zeta zeta eta alpha"}]
    b2 = [{"source": "sa", "text": "alpha delta delta"},
          {"source": "sb", "text": "zeta theta theta iota"}]
    (src / "b1.json").write_text(
        "\n".join(json.dumps(r) for r in b1) + "\n")
    stream = (spark.readStream.schema("source string, text string")
              .option("maxFilesPerTrigger", "1").json(str(src)))
    q = start_source_drift_monitor(
        stream, state_dir=str(tmp_path / "state"),
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        (src / "b2.json").write_text(
            "\n".join(json.dumps(r) for r in b2) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()
    last = max(int(n[1:]) for n in os.listdir(tmp_path / "out"))
    got = {tuple(sorted(r.asDict().items())) for r in
           spark.read.parquet(f"{tmp_path}/out/v{last}").collect()}

    alldf = spark.createDataFrame(
        [(r["source"], r["text"]) for r in b1 + b2],
        "source string, text string")
    want = {tuple(sorted(r.asDict().items())) for r in
            tv_drift_vs_rest(token_bucket_counts(alldf)).collect()}
    assert got == want and len(got) == 2
    # bounded state: at most |sources| x N_BUCKETS rows
    cnt = spark.read.parquet(f"{tmp_path}/state/cnt/v{last}")
    assert cnt.count() <= 2 * 1024


def test_stream_hll_registers_matches_batch(spark, tmp_path):
    """Bounded-state streaming distinct sketch: max-merge makes the
    final register state equal hll_registers over the union of all
    micro-batches, across a planted boundary; estimates read off the
    sink match the batch estimate exactly."""
    import json

    from mapreducewordcount_spark.functions.tokenize import tokenize_expr
    from mapreducewordcount_spark.operators.hll import (
        hll_estimate,
        hll_registers,
    )
    from mapreducewordcount_spark.streaming import stream_hll_registers

    src = tmp_path / "docs"
    src.mkdir()
    b1 = [{"source": "sa", "text": "alpha beta gamma delta"},
          {"source": "sb", "text": "one two three"}]
    b2 = [{"source": "sa", "text": "alpha epsilon zeta"},
          {"source": "sb", "text": "three four five six"}]
    (src / "b1.json").write_text(
        "\n".join(json.dumps(r) for r in b1) + "\n")
    stream = (spark.readStream.schema("source string, text string")
              .option("maxFilesPerTrigger", "1").json(str(src)))
    q = (stream_hll_registers(stream)
         .writeStream.outputMode("complete").format("memory")
         .queryName("hll_regs").start())
    try:
        q.processAllAvailable()
        (src / "b2.json").write_text(
            "\n".join(json.dumps(r) for r in b2) + "\n")
        q.processAllAvailable()
        got = {(r.grp, r.reg): r.rho
               for r in spark.sql("SELECT * FROM hll_regs").collect()}
    finally:
        q.stop()
    alldf = spark.createDataFrame(
        [(r["source"], r["text"]) for r in b1 + b2],
        "source string, text string")
    words = alldf.select(F.col("source").alias("grp"),
                         F.explode(tokenize_expr("text")).alias("word"))
    want_regs = hll_registers(words, "word", ["grp"])
    want = {(r.grp, r.reg): r.rho for r in want_regs.collect()}
    assert got == want and len(got) > 0
    # estimates off the streamed state == batch estimates
    sink = spark.sql("SELECT * FROM hll_regs")
    got_est = {r.grp: r.hll_est
               for r in hll_estimate(sink, ["grp"]).collect()}
    want_est = {r.grp: r.hll_est
                for r in hll_estimate(want_regs, ["grp"]).collect()}
    assert got_est == want_est


def test_replay_after_empty_batch_resolves_version_hole(spark, tmp_path):
    """ADVICE r11 (medium): empty batches commit no state version, so
    the version sequence has holes; a crash-recovery replay must read
    the highest committed version <= batch_id, not v{batch_id}
    blindly — the blind read crash-looped the restarted stream.

    Scenario: batch 0 writes v1, batch 1 is EMPTY (no v2), batch 2
    reads v1 and writes v3. Deleting the checkpoint commit for batch
    2 forces its redelivery on restart; the replay must resolve its
    input back to v1 (not the nonexistent v2) and reproduce v3."""
    import os

    from mapreducewordcount_spark.streaming import (
        start_cms_heavy_hitters,
    )

    src = tmp_path / "lines"
    src.mkdir()
    state, out, ckpt = (str(tmp_path / d) for d in
                        ("state", "out", "ckpt"))

    def start():
        stream = (spark.readStream.format("text")
                  .option("maxFilesPerTrigger", "1").load(str(src)))
        return start_cms_heavy_hitters(stream, state_dir=state,
                                       out_dir=out,
                                       checkpoint_dir=ckpt,
                                       k=2, pool=4)

    q = start()
    try:
        (src / "b0.txt").write_text("alpha alpha beta\n")
        q.processAllAvailable()
        (src / "b1.txt").write_text("")      # empty: no state commit
        q.processAllAvailable()
        (src / "b2.txt").write_text("beta beta gamma\n")
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()  # release the checkpoint before restart

    cells = f"{state}/cells"
    assert sorted(os.listdir(cells)) == ["v1", "v3"]  # the hole is real
    before = {(r.word, r.cms_count) for r in
              spark.read.parquet(f"{out}/v3").collect()}

    # forget batch 2's commit -> structured streaming redelivers it
    # (the .crc sidecar must go too or the re-commit rename fails)
    os.remove(f"{ckpt}/commits/2")
    os.remove(f"{ckpt}/commits/.2.crc")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    after = {(r.word, r.cms_count) for r in
             spark.read.parquet(f"{out}/v3").collect()}
    assert after == before  # idempotent replay, no crash loop
    assert dict(after)["beta"] == 3  # batch-0 occurrence still counted


def test_version_resolution_at_most_bounds():
    """Unit pins for the replay-input resolution on both state
    layouts (plain versioned dirs and manifest files)."""
    import os
    import tempfile

    from mapreducewordcount_spark.streaming.state import latest_version

    with tempfile.TemporaryDirectory() as d:
        for v in (0, 1, 3, 7):
            os.makedirs(f"{d}/v{v}")
        assert latest_version(d) == 7
        assert latest_version(d, at_most=7) == 7
        assert latest_version(d, at_most=6) == 3
        assert latest_version(d, at_most=2) == 1
        assert latest_version(d, at_most=-1) is None

    with tempfile.TemporaryDirectory() as d:
        for v in (0, 2, 5):
            with open(f"{d}/manifest-v{v}.json", "w") as f:
                f.write("{}")
        assert latest_version(d) == 5
        assert latest_version(d, at_most=4) == 2
        assert latest_version(d, at_most=1) == 0
