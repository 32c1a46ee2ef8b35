"""Streaming jobs driven file→memory, asserted against batch twins.

``processAllAvailable`` drains the file source synchronously, so
these are deterministic: the streaming result must equal the batch
computation over the same rows (same expressions → same answers).
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreducewordcount_spark.streaming import (
    stream_hourly_events,
    stream_session_windows,
    stream_word_counts,
)
from tests.conftest import SF_ORACLE


def _run_stream(df, name, mode):
    q = (df.writeStream.outputMode(mode)
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_stream_word_counts_matches_batch(spark, tmp_path):
    src = tmp_path / "lines"
    src.mkdir()
    (src / "a.txt").write_text("spark streams the stream\n")
    (src / "b.txt").write_text("the stream streams\n")

    lines = (spark.readStream
             .schema(T.StructType([T.StructField("value", T.StringType())]))
             .text(str(src)))
    _run_stream(stream_word_counts(lines), "wc_stream", "complete")
    got = {r.word: r.cnt for r in spark.sql("SELECT * FROM wc_stream").collect()}
    assert got == {"spark": 1, "streams": 2, "the": 2, "stream": 2}


def test_foreachbatch_reference_sink(spark, tmp_path):
    """Streaming counts land as reference-layout out-<b> files and
    refresh as new files arrive."""
    import os

    from mapreducewordcount_spark.streaming.jobs import (
        start_wordcount_to_reference_sink,
    )

    src = tmp_path / "lines"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (src / "a.txt").write_text("alpha beta alpha\n")

    lines = (spark.readStream
             .schema(T.StructType([T.StructField("value", T.StringType())]))
             .text(str(src)))
    q = start_wordcount_to_reference_sink(lines, out, m=4, checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
        assert (tmp_path / "out" / "out-1").read_text() == "alpha 2\n"
        (src / "b.txt").write_text("beta gamma\n")
        q.processAllAvailable()
        files = sorted(f for f in os.listdir(out) if f.startswith("out-"))
        assert files == [f"out-{b}" for b in range(4)]
        merged = {}
        for f in files:
            for ln in (tmp_path / "out" / f).read_text().splitlines():
                w, c = ln.rsplit(" ", 1)
                merged[w] = int(c)
        assert merged == {"alpha": 2, "beta": 2, "gamma": 1}
    finally:
        q.stop()


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    """events table copied to a dir the file stream source can watch."""
    d = tmp_path_factory.mktemp("events_parquet")
    shutil.copy(f"{SF_ORACLE}/events.parquet", d / "events.parquet")
    return str(d)


def _read_events_stream(spark, path):
    from mapreducewordcount_spark.sources.tables import normalize_events_ts

    # arrival schema under the session's confs (nanosAsLong etc.) —
    # encoding-robust: whatever type ts lands as, normalize exactly
    # the way the batch loader does.
    raw_schema = spark.read.parquet(path).schema
    df = spark.readStream.schema(raw_schema).parquet(path)
    return normalize_events_ts(df)


def test_stream_hourly_matches_batch(spark, events_stream_dir):
    stream = _read_events_stream(spark, events_stream_dir)
    # update mode emits rows without waiting out the watermark
    _run_stream(stream_hourly_events(stream), "hourly_stream", "update")
    got = {(r.hour_start, r.event_type): (r.n, r.sum_value)
           for r in spark.sql("SELECT * FROM hourly_stream").collect()}

    from mapreducewordcount_spark.queries.analytics import events_hourly

    want = {(r.hour_start, r.event_type): (r.n, r.sum_value)
            for r in events_hourly(spark, SF_ORACLE).collect()}
    assert got == want


def test_stream_sessions_bounded_state_runs(spark, events_stream_dir):
    stream = _read_events_stream(spark, events_stream_dir)
    # session_window aggregations reject update mode; complete works
    # for a drained file source
    _run_stream(stream_session_windows(stream), "session_stream", "complete")
    rows = spark.sql("SELECT * FROM session_stream").collect()
    assert rows, "session stream produced no rows"
    n_users = len({r.user_id for r in rows})
    assert n_users == 150  # all users sessionized


def test_stream_static_enrichment(spark, events_stream_dir):
    """Stream-static join: every streamed event picks up its user's
    segment from the batch dimension; no state, no watermark needed."""
    from mapreducewordcount_spark.streaming.jobs import stream_enrich_events

    stream = _read_events_stream(spark, events_stream_dir)
    users = spark.range(0, 200).select(
        F.col("id").alias("user_id"),
        F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("segment"))
    _run_stream(stream_enrich_events(stream, users), "enrich_stream", "append")
    rows = spark.sql("SELECT * FROM enrich_stream").collect()
    from mapreducewordcount_spark.sources.tables import load_table
    assert len(rows) == load_table(spark, SF_ORACLE, "events").count()
    assert all((r.segment == "even") == (r.user_id % 2 == 0) for r in rows)


def test_stream_stream_interval_join_matches_batch(spark, events_stream_dir):
    """Stream-stream interval join result equals the identical batch
    join over the same rows (inner join: every match emitted once the
    source drains)."""
    from mapreducewordcount_spark.streaming.jobs import stream_purchase_attribution

    stream = _read_events_stream(spark, events_stream_dir)
    clicks_s = stream.filter(F.col("event_type") == "click")
    purchases_s = stream.filter(F.col("event_type") == "purchase")
    _run_stream(stream_purchase_attribution(clicks_s, purchases_s),
                "attr_stream", "append")
    got = {(r.user_id, r.purchase_id, r.click_id)
           for r in spark.sql("SELECT * FROM attr_stream").collect()}

    from mapreducewordcount_spark.sources.tables import load_table
    ev = load_table(spark, SF_ORACLE, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"))
    want = {(r.p_user, r.purchase_id, r.click_id) for r in p.join(
        c, (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts")
           - F.expr("INTERVAL 1 hour"))).collect()}
    assert got == want and got, "stream-stream join must match batch join"


def test_stream_hygiene_scrubs_and_decontaminates(spark, tmp_path):
    """stream_hygiene drops eval-overlapping docs and scrubs PII in
    the survivors — all with zero streaming state (append mode with
    no watermark only works for stateless plans, so the mode itself
    asserts statelessness)."""
    import json

    from mapreducewordcount_spark.streaming.jobs import stream_hygiene

    src = tmp_path / "docs"
    src.mkdir()
    rows = [
        {"doc_id": 1, "text": "the quick brown fox jumps today"},  # contaminated
        {"doc_id": 2, "text": "mail me at a@b.io please now ok"},
        {"doc_id": 3, "text": "totally unrelated clean words here"},
    ]
    (src / "d.json").write_text(
        "\n".join(json.dumps(r) for r in rows) + "\n")
    docs = (spark.readStream
            .schema(T.StructType([T.StructField("doc_id", T.LongType()),
                                  T.StructField("text", T.StringType())]))
            .json(str(src)))
    eval_docs = spark.createDataFrame(
        [(99, "the quick brown fox sat quietly")], "doc_id long, text string")

    out = stream_hygiene(docs, eval_docs, n=3)
    q = (out.writeStream.format("memory").queryName("hygiene_stream")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.doc_id: r.text
           for r in spark.sql("SELECT * FROM hygiene_stream").collect()}
    assert set(got) == {2, 3}              # doc 1 shares 'the quick brown' ...
    assert got[2] == "mail me at <EMAIL> please now ok"
    assert got[3] == "totally unrelated clean words here"


def test_stream_hygiene_udf_path_matches_literal_path(spark):
    """Forcing the broadcast-UDF membership path (max_literal_ngrams=0)
    must select exactly the same documents as the literal-array path."""
    from mapreducewordcount_spark.streaming.jobs import stream_hygiene

    docs = spark.createDataFrame(
        [(i, f"prefix {w} common tail words here") for i, w in
         enumerate(["alpha beta gamma", "delta epsilon zeta",
                    "eta theta iota", "alpha beta delta"])],
        "doc_id long, text string")
    eval_docs = spark.createDataFrame(
        [(0, "x alpha beta gamma y")], "doc_id long, text string")
    # batch frames run through the same code path (nothing in
    # stream_hygiene is streaming-specific)
    lit_ids = sorted(r.doc_id for r in
                     stream_hygiene(docs, eval_docs, n=3).collect())
    udf_ids = sorted(r.doc_id for r in
                     stream_hygiene(docs, eval_docs, n=3,
                                    max_literal_ngrams=0).collect())
    assert lit_ids == udf_ids
    assert 0 not in lit_ids  # 'alpha beta gamma' overlaps eval


def test_stream_quality_filter_matches_batch(spark, tmp_path_factory):
    """The streaming quality gate must admit exactly the docs the
    same thresholds admit in batch."""
    import shutil

    from mapreducewordcount_spark.functions.repetition import (
        dup_line_fraction,
        top_word_fraction,
    )
    from mapreducewordcount_spark.functions.text_metrics import quality_score
    from mapreducewordcount_spark.streaming.jobs import stream_quality_filter

    d = tmp_path_factory.mktemp("docs_stream")
    shutil.copy(f"{SF_ORACLE}/documents.parquet", d / "documents.parquet")
    schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(schema).parquet(str(d))
    q = (stream_quality_filter(stream)
         .select("doc_id", "quality")
         .writeStream.format("memory").queryName("quality_stream")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    got = {(r.doc_id, r.quality)
           for r in spark.sql("SELECT * FROM quality_stream").collect()}

    batch = spark.read.parquet(str(d))
    want = {(r.doc_id, r.quality) for r in
            (batch.withColumn("quality", F.round(quality_score("text"), 4))
             .filter((F.col("quality") >= 0.5)
                     & (dup_line_fraction("text") <= 0.5)
                     & (top_word_fraction("text") <= 0.5))
             .select("doc_id", "quality").collect())}
    assert got == want and len(got) > 0


def test_stream_quality_filter_drops_junk(spark, tmp_path):
    """The drop path must actually fire: planted junk (repeated-line
    spam, single-word spam, punctuation soup) is rejected while a
    normal doc passes."""
    from mapreducewordcount_spark.streaming.jobs import stream_quality_filter

    d = tmp_path / "junk"
    d.mkdir()
    rows = [
        (0, "the quick brown fox jumps over the lazy dog and then "
            "it naps for a while in the sun"),                    # keep
        (1, "buy now\n" * 40),                                    # dup lines
        (2, "spam " * 60),                                         # top-word
        (3, "!!! ??? *** ### $$$ %%% ^^^ &&&"),                    # punct soup
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(str(d))
    schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(schema).parquet(str(d))
    q = (stream_quality_filter(stream).select("doc_id")
         .writeStream.format("memory").queryName("junk_stream")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    got = {r.doc_id for r in spark.sql("SELECT * FROM junk_stream").collect()}
    assert got == {0}, got


def _run_token_budget_scenario(spark, tmp_path, budget_fn):
    """Shared cross-batch scenario for both stateful-API variants:
    per-source token budgets persist in the state store ACROSS
    micro-batches — a source that exhausts its budget in batch 1
    admits nothing in batch 2, and the admit-if-any-room contract
    allows at most one overshoot doc."""
    import json

    src = tmp_path / "docs"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    # each text = 4 tokens; budget A=10 → docs 1,2 admitted (8),
    # doc 3 admitted with overshoot (12 > 10? no: used=8 < 10 → admit,
    # consumed 12), doc 4 dropped; budget B=0 → nothing admitted
    write("b1.json", [
        {"source": "A", "doc_id": 1, "text": "w w w w"},
        {"source": "A", "doc_id": 2, "text": "w w w w"},
        {"source": "B", "doc_id": 5, "text": "w w w w"},
    ])

    schema = "source string, doc_id long, text string"
    docs = spark.readStream.schema(schema).json(str(src))
    out = budget_fn(docs, {"A": 10})
    qname = f"budget_stream_{budget_fn.__name__}"
    q = (out.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .format("memory").queryName(qname).start())
    try:
        q.processAllAvailable()
        write("b2.json", [
            {"source": "A", "doc_id": 3, "text": "w w w w"},
            {"source": "A", "doc_id": 4, "text": "w w w w"},
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r.doc_id: r for r in
           spark.sql(f"SELECT * FROM {qname}").collect()}
    assert len(got) == 5
    assert got[1].admitted and got[1].consumed_after == 4
    assert got[2].admitted and got[2].consumed_after == 8
    # batch 2 resumes from used=8 < 10 → doc 3 admitted (overshoot)
    assert got[3].admitted and got[3].consumed_after == 12
    # used=12 >= 10 → doc 4 dropped, consumption unchanged
    assert not got[4].admitted and got[4].consumed_after == 12
    # source B has no budget entry → default 0 → dropped
    assert not got[5].admitted and got[5].consumed_after == 0


def test_stream_source_token_budget_enforces_across_batches(spark, tmp_path):
    from mapreducewordcount_spark.streaming import (
        stream_source_token_budget,
    )

    _run_token_budget_scenario(spark, tmp_path, stream_source_token_budget)


def test_admit_micro_batch_chunk_order_invariance():
    """The admission core must produce identical admissions
    whether the group arrives as one Arrow chunk or many — the
    concat-then-sort contract (round-4 dbae897 regression guard)."""
    import pandas as pd

    from mapreducewordcount_spark.streaming.jobs import _admit_micro_batch

    rows = pd.DataFrame({
        "doc_id": [4, 1, 3, 2],
        "n_tokens": [4, 4, 4, 4],
    })
    whole, used_whole = _admit_micro_batch("A", 10, 0, iter([rows]))
    split, used_split = _admit_micro_batch(
        "A", 10, 0, iter([rows.iloc[:1], rows.iloc[1:3], rows.iloc[3:]]))
    assert used_whole == used_split == 12
    pd.testing.assert_frame_equal(
        whole.reset_index(drop=True), split.reset_index(drop=True))
    # doc_id order decides admission: 1,2 admitted (8), 3 overshoots
    # to 12, 4 dropped
    byid = {int(r.doc_id): r for r in whole.itertuples()}
    assert [byid[i].admitted for i in (1, 2, 3, 4)] == \
        [True, True, True, False]


def test_chunking_is_streamable(spark, tmp_path):
    """chunk_documents is a stateless narrow map + explode, so the
    SAME operator chunks a live stream (RAG ingest shape) — append
    mode with no watermark is itself the statelessness assertion."""
    import json

    from mapreducewordcount_spark.operators.chunking import chunk_documents

    src = tmp_path / "docs"
    src.mkdir()
    (src / "b1.json").write_text(json.dumps(
        {"doc_id": 1, "text": " ".join(f"t{i}" for i in range(10))}))

    docs = spark.readStream.schema("doc_id long, text string").json(str(src))
    q = (chunk_documents(docs, chunk_size=4, overlap=1)
         .writeStream.outputMode("append")
         .format("memory").queryName("chunk_stream").start())
    try:
        q.processAllAvailable()
        got = sorted((r.chunk_index, r.chunk_text) for r in
                     spark.sql("SELECT * FROM chunk_stream").collect())
        assert got == [(0, "t0 t1 t2 t3"), (1, "t3 t4 t5 t6"),
                       (2, "t6 t7 t8 t9")]
    finally:
        q.stop()
