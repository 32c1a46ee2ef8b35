"""Bucketed co-located joins + custom stateful streaming."""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreducewordcount_spark.plans import explain_str
from mapreducewordcount_spark.sources.bucketed import drop_table, write_bucketed
from mapreducewordcount_spark.streaming import stream_user_running_totals
from tests.conftest import SF_ORACLE


def test_cobucketed_join_has_no_exchange(spark):
    """Both sides bucketed on the join key with equal bucket counts →
    the join plan must contain no Exchange (shuffle paid at write)."""
    from mapreducewordcount_spark.sources.tables import load_table

    write_bucketed(load_table(spark, SF_ORACLE, "orders"),
                   "orders_b", ["o_orderkey"], 8)
    write_bucketed(load_table(spark, SF_ORACLE, "lineitem"),
                   "lineitem_b", ["l_orderkey"], 8)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (spark.table("lineitem_b")
                  .join(spark.table("orders_b"),
                        F.col("l_orderkey") == F.col("o_orderkey"))
                  .groupBy("o_orderstatus")
                  .agg(F.count(F.lit(1)).alias("n")))
        plan = explain_str(joined)
        join_section = plan.split("HashAggregate")[-1]
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        # and it still computes the right thing
        got = {r.o_orderstatus: r.n for r in joined.collect()}
        want = {r.o_orderstatus: r.n for r in
                (load_table(spark, SF_ORACLE, "lineitem")
                 .join(load_table(spark, SF_ORACLE, "orders"),
                       F.col("l_orderkey") == F.col("o_orderkey"))
                 .groupBy("o_orderstatus")
                 .agg(F.count(F.lit(1)).alias("n"))).collect()}
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        drop_table(spark, "orders_b")
        drop_table(spark, "lineitem_b")


def _checkout_snapshot() -> dict[str, int]:
    """Every file under the checkout (not ``.git``, not
    ``__pycache__``) with its mtime."""
    root = Path(__file__).resolve().parent.parent
    snap = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in (".git", "__pycache__")]
        for f in files:
            path = os.path.join(d, f)
            snap[os.path.relpath(path, root)] = os.stat(path).st_mtime_ns
    return snap


def test_bucketed_query_writes_nothing_into_the_checkout(spark):
    """The catalog tables ``bucketed_order_revenue`` writes land in the
    session's warehouse directory, never under the working directory
    the tests run from (the repo root)."""
    from mapreducewordcount_spark.queries.bucketed_join import (
        bucketed_order_revenue,
    )

    before = _checkout_snapshot()
    bucketed_order_revenue(spark, SF_ORACLE) \
        .write.mode("overwrite").format("noop").save()
    assert _checkout_snapshot() == before


def test_stateful_running_totals_accumulate_across_batches(spark, tmp_path):
    """State must persist across micro-batches: totals after batch 2
    include batch 1 (the definition of stateful)."""
    src = tmp_path / "events"
    src.mkdir()
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType())])

    import json

    def write_batch(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    write_batch("b1.json", [{"user_id": 1, "value": 10.0},
                            {"user_id": 1, "value": 5.0},
                            {"user_id": 2, "value": 1.0}])
    stream = spark.readStream.schema(schema).json(str(src))
    q = (stream_user_running_totals(stream)
         .writeStream.outputMode("update").format("memory")
         .queryName("running").start())
    try:
        q.processAllAvailable()
        first = {r.user_id: (r.n_events, r.total_value)
                 for r in spark.sql("SELECT * FROM running").collect()}
        assert first == {1: (2, 15.0), 2: (1, 1.0)}

        write_batch("b2.json", [{"user_id": 1, "value": 2.5},
                                {"user_id": 3, "value": 7.0}])
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM running").collect()
        latest = {}
        for r in rows:  # memory sink appends updates; keep the max-n row
            cur = latest.get(r.user_id)
            if cur is None or r.n_events > cur[0]:
                latest[r.user_id] = (r.n_events, r.total_value)
        assert latest == {1: (3, 17.5), 2: (1, 1.0), 3: (1, 7.0)}
    finally:
        q.stop()


def test_stateful_state_survives_query_restart(spark, tmp_path):
    """Stop the query, start a NEW one on the same checkpoint: state
    must resume (exactly-once recovery), not restart from zero."""
    import json

    src = tmp_path / "events"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType())])

    updates: list[tuple] = []

    def start_query():
        # memory sink can't recover from checkpoints; foreachBatch can
        stream = spark.readStream.schema(schema).json(str(src))
        return (stream_user_running_totals(stream)
                .writeStream.outputMode("update")
                .option("checkpointLocation", ckpt)
                .foreachBatch(lambda df, _id: updates.extend(
                    (r.user_id, r.n_events, r.total_value) for r in df.collect()))
                .start())

    (src / "b1.json").write_text(json.dumps({"user_id": 7, "value": 4.0}))
    q1 = start_query()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    assert (7, 1, 4.0) in updates

    (src / "b2.json").write_text(json.dumps({"user_id": 7, "value": 6.0}))
    q2 = start_query()
    try:
        q2.processAllAvailable()
        # n=2/total=10 proves batch-1 state was recovered from the
        # checkpointed state store by the restarted query
        assert (7, 2, 10.0) in updates
    finally:
        q2.stop()
