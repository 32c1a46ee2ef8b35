"""SQL entry point parity: spark.sql over the views ``register_views``
creates must agree with the DataFrame-first implementations."""

from __future__ import annotations

from mapreducewordcount_spark.sources.tables import register_views
from tests.conftest import SF_ORACLE


def test_sql_entry_matches_dataframe_query(spark):
    from mapreducewordcount_spark.queries.tpch import q1_pricing_summary

    register_views(spark, SF_ORACLE)
    got = spark.sql("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= timestamp'2000-06-30'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """).collect()
    want = {(r.l_returnflag, r.l_linestatus): (r.sum_qty, r.sum_base_price,
                                               r.count_order)
            for r in q1_pricing_summary(spark, SF_ORACLE).collect()}
    assert len(got) == len(want)
    for r in got:
        w = want[(r.l_returnflag, r.l_linestatus)]
        assert (r.sum_qty, r.sum_base_price, r.count_order) == w


def test_catalog_events_view_has_converted_timestamps(spark):
    """The SQL surface must see the same nanos→µs events.ts contract
    as DataFrame users (sources/tables.py), not raw longs."""
    register_views(spark, SF_ORACLE)
    dtype = dict(spark.table("events").dtypes)["ts"]
    assert dtype == "timestamp"
