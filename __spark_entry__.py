"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2
(+ the extension surface); ``oracle_sql()`` provides the DuckDB
equivalent of every one of them. Queries with a model stage DuckDB
cannot recompute (hash families, k-means, PQ, BPE, ...) are oracled
from that stage's committed table under ``artifacts/sig_oracle``;
see ``mapreducewordcount_spark/sources/sig_artifacts.py``.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from mapreducewordcount_spark.queries import all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    from mapreducewordcount_spark.queries.tpch import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry query as ``fn(spark, sf_dir) -> DataFrame``.

    Release contract: some queries persist intermediates their plan
    reads on several branches, and the returned frame reads those
    cached blocks. They stay cached until the code that runs the
    action calls ``spark.catalog.clearCache()``; call it once a
    query's result is consumed, before the next query is built."""
    return {name: spec.spark_fn for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle_sql for name, spec in all_queries().items()}
