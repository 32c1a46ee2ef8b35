"""Parquet star-schema table loaders (TESTDATA.md tables).

Columnar parquet is the engine's canonical storage: column pruning
and predicate pushdown reach the scan (visible as ``ReadSchema`` /
``PushedFilters`` in ``.explain("formatted")``), which is the single
biggest lever at 100 TB — a query touching 3 of 11 lineitem columns
reads ~27% of the bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: dimensions small enough to broadcast at any realistic scale —
#: used by queries to pin broadcast-hash joins regardless of stats.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to µs ``TimestampType`` whatever the
    parquet encoding delivered:

    - ``LongType`` (TIMESTAMP(NANOS) under ``nanosAsLong``) — nanos →
      µs with integer arithmetic (a double division would lose
      precision at 1e18-scale nanos);
    - ``TimestampNTZType`` (``timestamp[us]`` without tz) —
      ``cast("timestamp")``, value-preserving under the pinned UTC
      session timezone;
    - ``TimestampType`` — passthrough.

    Used by both the batch loader and the streaming test fixtures so
    testdata regeneration can't silently change the time contract.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: Declared read schemas, copied exactly from what Spark infers for
#: every TESTDATA scale factor (pinned by
#: tests/test_sources.py::test_declared_schemas_match_inferred). A
#: declared schema makes the load a pure plan operation, where
#: inference runs a Spark job per table (~0.1 s each at sf0.01) on
#: every query construction. ``events`` is deliberately absent — see
#: ``load_table``.
SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": ("c_custkey BIGINT, c_name STRING, c_nationkey INT, "
                 "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier": ("s_suppkey BIGINT, s_name STRING, s_nationkey INT, "
                 "s_acctbal DOUBLE"),
    "part": ("p_partkey BIGINT, p_name STRING, p_brand STRING, "
             "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders": ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
               "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, "
               "o_orderpriority STRING"),
    "lineitem": ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                 "l_linenumber INT, l_quantity DOUBLE, "
                 "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
                 "l_returnflag STRING, l_linestatus STRING, "
                 "l_shipdate TIMESTAMP_NTZ"),
    "documents": ("doc_id BIGINT, text STRING, lang STRING, source STRING, "
                  "n_chars BIGINT"),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}


def reset_session_memos() -> None:
    """Drop ``sig_artifacts``'s verified-artifact set, the one
    Python-side session memo left on the query path.

    Exists for the benchmark harnesses: their per-rep quiesce calls
    this so every timed repetition re-runs the full compute+verify
    path instead of serving session state the previous rep warmed.
    It stays in this module because the harnesses look it up here
    (``perfbench/run.py``, ``bench.py``); the benchmark skips a
    missing hook silently and would then measure a different program.
    Production and gate paths never call it."""
    from mapreducewordcount_spark.sources import sig_artifacts

    sig_artifacts._SESSION_VERIFIED.clear()  # noqa: SLF001


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # self-defensive: callers may hand us a session built without our
    # defaults (the correctness driver does). Queries whose closures
    # live in this package (mapInPandas media stages, pandas_udf
    # signatures) need the package importable on executor Python
    # workers — a foreign session launched from another CWD throws
    # ModuleNotFoundError otherwise (caught by a foreign-session sweep
    # of the rows-only queries, round 5). Ship once per context.
    _ensure_package_on_executors(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return spark.read.schema(SCHEMAS[name]).parquet(path)
    # events.ts has drifted across testdata generations
    # (TIMESTAMP(NANOS) → timestamp[us]-NTZ), and the loader must read
    # every arrival encoding (pinned by
    # test_events_ts_normalization_all_encodings). No declared type
    # reads them all: TIMESTAMP or TIMESTAMP_NTZ fails on the NANOS
    # file, so events keeps the inferred read and normalizes ts to one
    # TimestampType contract. Both confs are runtime-settable session
    # state: nanosAsLong is required to scan NANOS ts, and UTC pins
    # timestamp rendering to match UTC-naive oracles on any host.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return normalize_events_ts(spark.read.parquet(path))


def _ensure_package_on_executors(spark: SparkSession) -> None:
    """Idempotent per-SparkContext package shipping (session.py's
    ``_ship_package``, guarded so hot loaders don't re-zip/re-add)."""
    sc = spark.sparkContext
    if getattr(sc, "_mrwc_pkg_shipped", False):
        return
    from mapreducewordcount_spark.session import _ship_package

    try:
        _ship_package(spark)
        # flag only on SUCCESS: a transient zip/addPyFile failure must
        # leave the next load_table free to retry, or every later
        # Python-worker stage on this context hits the executor
        # ModuleNotFoundError this helper exists to prevent
        sc._mrwc_pkg_shipped = True
    except Exception:  # noqa: BLE001 — shipping is best-effort; a
        # same-CWD session imports the package fine without it
        pass


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def spread(df: DataFrame) -> DataFrame:
    """Repartition an UNDER-parallel source to full parallelism
    before a CPU-bound stage — and stay out of the way otherwise.

    Small/one-file parquet arrives as one split; tokenizers,
    hash/shingle builders and vector math are compute-bound, so a
    cheap shuffle of the raw rows buys cluster-wide parallelism at
    test scale. At 100 TB the source already has thousands of splits
    and an unconditional repartition would be a full shuffle of the
    corpus bytes in front of a narrow map — so this is a true no-op
    (returns ``df`` unchanged, no Exchange in the plan) whenever the
    scan already carries >= defaultParallelism partitions.

    Probe order matters: ``df.rdd`` is NOT free on a shuffle-bearing
    plan — under AQE, converting to an RDD finalizes the plan and can
    EXECUTE its intermediate query stages at DataFrame-construction
    time. So shuffle-bearing inputs short-circuit first (a plan that
    already shuffles runs at ``spark.sql.shuffle.partitions`` — it
    does not need a parallelism top-up); only for shuffle-free plans
    (scans/narrow maps, where ``.rdd`` is pure plan analysis) does
    the partition-count probe run. The probe (one explain, possibly
    an ``.rdd`` analysis) runs on every call: callers pass a fresh
    ``load_table`` handle on each construction, so a per-frame memo
    would never hit.
    """
    import re

    from mapreducewordcount_spark.plans import explain_str

    target = df.sparkSession.sparkContext.defaultParallelism
    # SHUFFLE exchanges only — a bare "Exchange" substring also
    # matches BroadcastExchange, and a broadcast-join-only plan may
    # still carry a one-split scan on its big side that needs the
    # top-up (ADVICE r4)
    if re.search(r"\bExchange (hashpartitioning|rangepartitioning"
                 r"|SinglePartition|RoundRobinPartitioning)",
                 explain_str(df, mode="simple")):
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view for the SQL entry points."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
