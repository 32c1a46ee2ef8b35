"""Source/sink round-trips with explicit schemas."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T


def _sample(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, None, None)],
        "id long, name string, score double")


def test_csv_roundtrip(spark, tmp_path):
    df = _sample(spark)
    path = str(tmp_path / "csv")
    df.write.mode("overwrite").option("header", True).csv(path)
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("name", T.StringType()),
                           T.StructField("score", T.DoubleType())])
    back = spark.read.schema(schema).option("header", True).csv(path)
    assert sorted((r.id, r.name, r.score) for r in back.collect()) == \
        sorted((r.id, r.name, r.score) for r in df.collect())


def test_json_roundtrip(spark, tmp_path):
    df = _sample(spark)
    path = str(tmp_path / "json")
    df.write.mode("overwrite").json(path)
    back = spark.read.schema(df.schema).json(path)
    assert sorted((r.id, r.name, r.score) for r in back.collect()) == \
        sorted((r.id, r.name, r.score) for r in df.collect())


def test_parquet_partitioned_write(spark, tmp_path):
    df = _sample(spark)
    path = str(tmp_path / "pq")
    df.write.mode("overwrite").partitionBy("id").parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == 3
    import os
    assert any(d.startswith("id=") for d in os.listdir(path))


def test_orc_roundtrip(spark, tmp_path):
    df = _sample(spark)
    path = str(tmp_path / "orc")
    df.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert sorted((r.id, r.name, r.score) for r in back.collect()) == \
        sorted((r.id, r.name, r.score) for r in df.collect())


def test_events_ts_precision_contract_vs_duckdb(spark):
    """Whatever parquet encoding events.ts arrives in (long nanos,
    timestamp[us]-NTZ, tz-aware), ``load_table``'s normalized µs
    values must equal DuckDB's ``epoch_us(ts)`` for every row — or
    every boundary-sensitive comparison (as-of ``<=``, sessionize
    gaps, hourly window edges) can diverge between engine and
    oracle. Asserting at the loader seam means a future testdata
    regeneration or DuckDB behavior change fails loudly here instead
    of as a silent oracle hash mismatch.
    """
    import duckdb
    from pyspark.sql import functions as F

    from mapreducewordcount_spark.sources.tables import load_table
    from tests.conftest import SF_ORACLE

    path = f"{SF_ORACLE}/events.parquet"
    df = load_table(spark, SF_ORACLE, "events")
    spark_us = {r.event_id: r.us
                for r in df.select("event_id",
                                   F.unix_micros("ts").alias("us")).collect()}
    con = duckdb.connect()
    duck = con.execute(
        f"SELECT event_id, epoch_us(ts) FROM '{path}'").fetchall()
    assert len(duck) == len(spark_us)
    for event_id, us in duck:
        assert us == spark_us[event_id], \
            f"duckdb µs {us} != spark µs {spark_us[event_id]} (event {event_id})"


def test_events_ts_normalization_all_encodings(spark, tmp_path):
    """Schema-drift pin (VERDICT r2 #3): write the same events rows in
    all three historical parquet encodings of ts — (a) TIMESTAMP(NANOS)
    read as long nanos, (b) timestamp[us] without tz (TIMESTAMP_NTZ),
    (c) timestamp[us] UTC — and assert ``load_table`` yields
    ``timestamp`` dtype with identical values for all three."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreducewordcount_spark.sources.tables import load_table

    us_values = [1704067200_000000, 1704067207_179575, 1704070800_500001]
    ids = list(range(len(us_values)))
    encodings = {
        "nanos": pa.array([v * 1000 for v in us_values],
                          type=pa.timestamp("ns")),
        "ntz": pa.array(us_values, type=pa.timestamp("us")),
        "utc": pa.array(us_values, type=pa.timestamp("us", tz="UTC")),
    }
    results = {}
    for name, arr in encodings.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(
            pa.table({"event_id": pa.array(ids, type=pa.int64()), "ts": arr}),
            d / "events.parquet")
        df = load_table(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", \
            f"{name}: expected timestamp dtype, got {dict(df.dtypes)['ts']}"
        results[name] = sorted((r.event_id, r.ts) for r in df.collect())
    assert results["nanos"] == results["ntz"] == results["utc"]


def test_compact_parquet_shrinks_file_count(spark, tmp_path):
    from mapreducewordcount_spark.sources.io import compact_parquet

    path = str(tmp_path / "frag")
    # 64 tiny files (a streaming sink's typical droppings)
    spark.range(10_000).repartition(64).write.parquet(path)
    import os
    before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert before == 64
    n = compact_parquet(spark, path, target_bytes=10 * 1024 * 1024)
    after = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert after == n < before
    assert (spark.read.parquet(path).agg({"id": "sum"}).collect()[0][0]
            == sum(range(10_000)))


def test_compact_parquet_range_clusters(spark, tmp_path):
    import os

    import pyarrow.parquet as pq

    from mapreducewordcount_spark.sources.io import compact_parquet

    path = str(tmp_path / "frag2")
    spark.range(50_000).repartition(32).write.parquet(path)
    compact_parquet(spark, path, target_bytes=120 * 1024, sort_by=["id"])
    files = [os.path.join(path, f) for f in os.listdir(path)
             if f.endswith(".parquet")]
    assert len(files) >= 2
    # range partitioning → per-file id ranges are pairwise disjoint,
    # which is what makes parquet min/max pruning effective post-compact
    spans = []
    for f in files:
        t = pq.read_table(f, columns=["id"])["id"].to_pylist()
        if t:
            spans.append((min(t), max(t)))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2
    total = sum(pq.read_table(f).num_rows for f in files)
    assert total == 50_000


def _id_sum(spark, path):
    return spark.read.parquet(path).agg({"id": "sum"}).collect()[0][0]


def test_compact_parquet_recovers_crash_before_cleanup(spark, tmp_path):
    """A crash after the commit's second rename leaves the moved-aside
    copy behind; the next compact removes it and runs."""
    import os

    from mapreducewordcount_spark.sources.io import compact_parquet

    path = str(tmp_path / "frag")
    spark.range(1_000).repartition(8).write.parquet(path)
    spark.range(1_000).repartition(8).write.parquet(path + ".__compact_old__")
    compact_parquet(spark, path, target_bytes=10 * 1024 * 1024)
    assert not os.path.exists(path + ".__compact_old__")
    assert _id_sum(spark, path) == sum(range(1_000))


def test_compact_parquet_recovers_crash_between_renames(spark, tmp_path):
    """A crash between the commit's two renames leaves no dataset at
    ``path``, the old copy aside and the complete new copy in the temp
    directory; the next compact puts the new copy in place and runs."""
    import os

    from mapreducewordcount_spark.sources.io import compact_parquet

    path = str(tmp_path / "frag")
    spark.range(1_000).repartition(8).write.parquet(path + ".__compact_old__")
    spark.range(1_000).repartition(1).write.parquet(path + ".__compact_tmp__")
    compact_parquet(spark, path, target_bytes=10 * 1024 * 1024)
    assert not os.path.exists(path + ".__compact_old__")
    assert not os.path.exists(path + ".__compact_tmp__")
    assert _id_sum(spark, path) == sum(range(1_000))


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partitionBy layout must show up as PartitionFilters
    at the scan — directory-level pruning, zero bytes read from
    non-matching partitions."""
    from mapreducewordcount_spark.plans import explain_str
    from mapreducewordcount_spark.sources.tables import load_table
    from tests.conftest import SF_ORACLE

    path = str(tmp_path / "events_by_type")
    (load_table(spark, SF_ORACLE, "events").write.mode("overwrite")
     .partitionBy("event_type").parquet(path))
    got = spark.read.parquet(path).filter("event_type = 'purchase'")
    plan = explain_str(got)
    assert "PartitionFilters" in plan and "purchase" in plan
    # pruned read returns exactly the partition's rows
    want = (load_table(spark, SF_ORACLE, "events")
            .filter("event_type = 'purchase'").count())
    assert got.count() == want


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_match_inferred(spark, sf):
    """Every declared table schema equals what Spark infers from the
    file, at every TESTDATA scale factor: a regenerated table whose
    encoding drifts fails here instead of reading as nulls."""
    from mapreducewordcount_spark.sources.tables import (
        SCHEMAS,
        TABLES,
        load_table,
    )

    assert set(SCHEMAS) == set(TABLES) - {"events"}
    sf_dir = f"/root/testdata/{sf}"
    for name in SCHEMAS:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert load_table(spark, sf_dir, name).schema == inferred, name


def test_load_table_declared_runs_no_jobs(spark):
    """A declared-schema load is pure plan construction: zero Spark
    jobs, where schema inference runs one per table."""
    from mapreducewordcount_spark.sources.tables import SCHEMAS, load_table
    from tests.conftest import SF_ORACLE

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    load_table(spark, SF_ORACLE, "region")  # ship the package first
    try:
        sc.setJobGroup("load_table_declared", "declared loads")
        for name in SCHEMAS:
            load_table(spark, SF_ORACLE, name)
        sc.setJobGroup("load_table_inferred", "inferred load")
        spark.read.parquet(f"{SF_ORACLE}/region.parquet")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup("load_table_declared") == []
    # the counter sees jobs at all: inference on the same file runs one
    assert tracker.getJobIdsForGroup("load_table_inferred")


def test_load_table_sees_in_place_rewrites(spark, tmp_path):
    """Rewrite a table's file in place and reload: the new handle
    reads the new bytes (no handle or listing is reused)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreducewordcount_spark.sources.tables import load_table

    def write(names):
        pq.write_table(
            pa.table({"r_regionkey": pa.array(range(len(names)),
                                               type=pa.int32()),
                      "r_name": pa.array(names, type=pa.string())}),
            tmp_path / "region.parquet")

    def rows():
        return sorted(tuple(r) for r in
                      load_table(spark, str(tmp_path), "region").collect())

    write(["AFRICA", "ASIA"])
    assert rows() == [(0, "AFRICA"), (1, "ASIA")]
    write(["EUROPE", "MIDDLE EAST", "AMERICA"])
    assert rows() == [(0, "EUROPE"), (1, "MIDDLE EAST"), (2, "AMERICA")]
