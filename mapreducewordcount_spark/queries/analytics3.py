"""Third batch: subquery patterns + scalar function families.

- ``above_avg_customers`` — the correlated-scalar-subquery shape
  ("rows above their group's average"), expressed Spark-first as a
  broadcast join against the per-group aggregate (what a decorrelating
  optimizer produces anyway; the oracle keeps the correlated form).
- ``part_name_features`` — scalar string-function family (length,
  upper, split/first-token, substring, concat) over a dimension.
- ``orders_by_month`` — date-part family (year/month/quarter
  extraction) with portable semantics.
- ``label_centroid_norms`` — array/vector aggregation: per-label mean
  embedding via posexplode + positional average, reduced to the
  centroid L2 norm (scalar output keeps the oracle hash stable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducewordcount_spark.queries import QuerySpec
from mapreducewordcount_spark.sources import sig_artifacts as _sig_artifacts
from mapreducewordcount_spark.sources.tables import load_table


def above_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers whose account balance exceeds their nation's average.

    The threshold is a *strict* compare against a float aggregate, so
    the average is computed as ``round(sum, 2) / count`` on BOTH
    engines (the ``_stable_avg`` discipline from tpch.py): 2dp money
    sums round to an order-independent value, whereas a raw ``avg``
    carries summation-order last-ulp noise that varies with partition
    count and can flip membership at the boundary.
    """
    c = load_table(spark, sf_dir, "customer")
    nat_avg = (c.groupBy("c_nationkey")
               .agg((F.round(F.sum("c_acctbal"), 2)
                     / F.count(F.lit(1))).alias("nat_avg")))
    return (c.join(F.broadcast(nat_avg), "c_nationkey")
            .filter(F.col("c_acctbal") > F.col("nat_avg"))
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_above"),
                 F.round(F.max("c_acctbal"), 2).alias("max_bal")))


ABOVE_AVG_SQL = """
SELECT c_nationkey, count(*) AS n_above, round(max(c_acctbal), 2) AS max_bal
FROM customer c
WHERE c_acctbal > (SELECT round(sum(c2.c_acctbal), 2) / count(*)
                   FROM customer c2
                   WHERE c2.c_nationkey = c.c_nationkey)
GROUP BY c_nationkey
"""


def part_name_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.length("p_name").cast("long").alias("name_len"),
        F.upper(F.col("p_brand")).alias("brand_upper"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_token"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"))


PART_NAME_SQL = """
SELECT p_partkey,
       CAST(strlen(p_name) AS BIGINT) AS name_len,
       upper(p_brand) AS brand_upper,
       string_split(p_name, ' ')[1] AS first_token,
       substring(p_type, 1, 5) AS type_prefix,
       concat(p_brand, '/', p_type) AS brand_type
FROM part
"""


def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (o.groupBy(F.year("o_orderdate").alias("yr"),
                      F.quarter("o_orderdate").alias("qtr"),
                      F.month("o_orderdate").alias("mth"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


ORDERS_BY_MONTH_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS yr,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(month(o_orderdate) AS INT) AS mth,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders GROUP BY 1, 2, 3
"""


def label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding → centroid L2 norm + cohort size.

    posexplode → positional mean → norm: one shuffle on (label, pos),
    partial aggregation map-side; the pattern for any element-wise
    vector aggregate (centroids, variance, PCA prep) without UDFs.
    """
    e = load_table(spark, sf_dir, "embeddings")
    pos = e.select("label", F.posexplode(
        F.col("embedding").cast("array<double>")).alias("pos", "x"))
    per_dim = pos.groupBy("label", "pos").agg(F.avg("x").alias("m"))
    return (per_dim.groupBy("label")
            .agg(F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6)
                 .alias("centroid_norm"))
            .join(e.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs")),
                  "label"))


LABEL_CENTROID_SQL = """
WITH per_dim AS (
  SELECT label, i, avg(embedding[i]::DOUBLE) AS m
  FROM embeddings, range(1, 65) t(i)
  GROUP BY label, i
)
SELECT p.label, round(sqrt(sum(m * m)), 6) AS centroid_norm, n.n_vecs
FROM per_dim p
JOIN (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label) n
  ON p.label = n.label
GROUP BY p.label, n.n_vecs
"""


def sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag price percentiles (p25/p50/p75) — round 10
    retires the registry's last rows-only row via the profiler
    precedent (VERDICT r9 next#4): the GATE form is the EXACT
    discrete percentile (``percentile_disc`` — the SQL-standard
    "smallest value with cume_dist >= q", which returns an actual
    data value, so both engines hand back the identical parquet
    double bit-for-bit and DuckDB's ``quantile_disc`` oracles it
    directly; rank rule ``sorted(vals)[ceil(q·n)−1]`` replay-pinned
    in tests/test_sketches.py). GK ``approx_percentile`` is not a
    drop-in: it is merge-ORDER-sensitive (measured at sf0.01: p50(A)
    = 52826.91 / 52832.76 / 52833.8 at 32/1/64 input partitions), so
    neither a DuckDB recompute nor a pinned artifact would survive
    the gate's foreign-session partitioning sweeps.

    Exact-form plan (round 13): one ``cume_dist`` window + a
    partial-agg groupBy on the SAME key (no second exchange), not
    three ``percentile_disc`` aggregates. ``percentile_disc`` is a
    buffer aggregate — each of the three copies collects every group
    value in executor memory and sorts it independently, the exact
    failure mode guide §5 warns about; the window form pays one
    spillable external sort and reads all three percentiles off it.
    Value semantics are IDENTICAL by definition: percentile_disc(q)
    is the smallest value with cume_dist >= q, so
    ``min(price WHERE cume_dist >= q)`` returns the same parquet
    double bit-for-bit (the ``sorted(vals)[ceil(q·n)−1]`` rank rule
    stays replay-pinned in tests/test_sketches.py; boundary safety:
    count/n as an IEEE double cannot cross an exact-dyadic q until
    n > ~9e15 — the comparison is exact at any real group size).

    PRECONDITION for the window form (ADVICE r13): the ordered column
    must be NOT NULL. ``percentile_disc`` ignores NULLs while
    ``cume_dist`` counts NULL rows in its denominator and Spark's ASC
    ordering ranks them first, so the two forms diverge on nullable
    input — filter ``isNotNull`` before the window if this pattern is
    copied to a nullable column. ``l_extendedprice`` is NOT NULL in
    TPC-H, so the equivalence holds here.
    """
    l = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = l.select("l_returnflag", "l_extendedprice",
                      F.cume_dist().over(w).alias("__cd"))
    pctl = [F.min(F.when(F.col("__cd") >= q, F.col("l_extendedprice")))
            .alias(a) for q, a in ((0.25, "price_p25"),
                                   (0.5, "price_p50"),
                                   (0.75, "price_p75"))]
    return (ranked.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_rows"), *pctl))


SKETCH_STATS_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       quantile_disc(l_extendedprice, 0.25) AS price_p25,
       quantile_disc(l_extendedprice, 0.5) AS price_p50,
       quantile_disc(l_extendedprice, 0.75) AS price_p75
FROM lineitem GROUP BY 1
"""


def hll_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_returnflag, approx_parts) — the HLL++ estimate table of
    ``sketch_hll_report``."""
    return (load_table(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag")
            .agg(F.approx_count_distinct("l_partkey", rsd=0.02)
                 .alias("approx_parts")))


def sketch_hll_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-calibration report: per returnflag, the HyperLogLog++
    distinct-part estimate joined against the exact count, with
    relative error and a 3·rsd acceptance flag — the validation
    relation a pipeline runs at small scale before trusting the
    sketch at 100 TB (where the exact side stops being computable
    and only the HLL column survives).

    HLL++ merges by register-wise max, so the estimate is
    partition-invariant (pinned in tests/test_sketches.py) — unlike
    GK percentiles it CAN be artifact-oracled: the estimate table
    (``hll_model``) is the committed model artifact
    (``sources/sig_artifacts``) and DuckDB recomputes everything
    downstream — the exact distinct counts and the error arithmetic —
    from the artifact plus the raw lineitem table. DuckDB's own
    approx_count_distinct is a different estimator, which is exactly
    why the artifact carries Spark's values rather than the oracle
    recomputing them.
    """
    l = load_table(spark, sf_dir, "lineitem")
    art = hll_model(spark, sf_dir)
    exact = (l.groupBy("l_returnflag")
             .agg(F.count_distinct(F.col("l_partkey"))
                  .alias("n_parts_exact"),
                  F.count(F.lit(1)).alias("n_rows")))
    err = (F.abs(F.col("approx_parts") - F.col("n_parts_exact"))
           .cast("double") / F.col("n_parts_exact"))
    return (exact.join(art, "l_returnflag")
            .select("l_returnflag", "n_rows", "n_parts_exact",
                    "approx_parts",
                    F.round(err * 100, 4).alias("err_pct"),
                    (err <= 0.06).alias("within_3rsd")))


SKETCH_HLL_SQL = f"""
WITH {_sig_artifacts.frame_cte('hll', 'sketch_hll_report',
                               _sig_artifacts.LINEITEM_KEY_SQL)},
exact AS (
  SELECT l_returnflag,
         CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
         count(*) AS n_rows
  FROM lineitem GROUP BY 1
)
SELECT e.l_returnflag, e.n_rows, e.n_parts_exact, h.approx_parts,
       round(abs(h.approx_parts - e.n_parts_exact)
             / e.n_parts_exact * 100, 4) AS err_pct,
       (abs(h.approx_parts - e.n_parts_exact) / e.n_parts_exact)
         <= 0.06 AS within_3rsd
FROM exact e JOIN hll h USING (l_returnflag)
"""


def acctbal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of account balances — binning expressed as
    portable floor arithmetic (``width_bucket`` isn't universal), the
    building block for distribution profiling over any measure."""
    c = load_table(spark, sf_dir, "customer")
    bucket = F.floor((F.col("c_acctbal") + 1000.0) / 500.0).cast("int")
    return (c.withColumn("bucket", bucket)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min("c_acctbal"), 2).alias("lo"),
                 F.round(F.max("c_acctbal"), 2).alias("hi")))


ACCTBAL_HISTOGRAM_SQL = """
SELECT CAST(floor((c_acctbal + 1000.0) / 500.0) AS INT) AS bucket,
       count(*) AS n,
       round(min(c_acctbal), 2) AS lo,
       round(max(c_acctbal), 2) AS hi
FROM customer GROUP BY 1
"""


def events_props_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON→map functions family: parse ``props`` into a typed map,
    explode its keys, count key frequency (schema profiling for
    semi-structured columns)."""
    from pyspark.sql import types as T

    e = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", T.MapType(T.StringType(), T.LongType()))
    return (e.select(F.explode(F.map_keys(parsed)).alias("key"))
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("n")))


EVENTS_PROPS_KEYS_SQL = """
SELECT key, count(*) AS n
FROM (SELECT unnest(json_keys(props)) AS key FROM events)
GROUP BY key
"""


def nation_balance_reconciliation(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """FULL OUTER join shape: reconcile two filtered per-nation
    aggregates (deeply-negative-balance customers vs negative-balance
    suppliers; thresholds asymmetric so all three presence classes
    genuinely occur at sf0.01).

    The rare-balance filters make one-sided nations genuinely occur,
    so the outer join's null-coalescing path is exercised, not just
    its syntax. Null counts are coalesced to 0 and presence is
    flagged — the standard two-ledger reconciliation shape.
    """
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    cust = (c.filter(F.col("c_acctbal") < -900)
            .groupBy(F.col("c_nationkey").alias("nationkey"))
            .agg(F.count(F.lit(1)).alias("n_cust")))
    supp = (s.filter(F.col("s_acctbal") < 0)
            .groupBy(F.col("s_nationkey").alias("nationkey"))
            .agg(F.count(F.lit(1)).alias("n_supp")))
    return (cust.join(supp, "nationkey", "full_outer")
            .select("nationkey",
                    F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
                    F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
                    F.when(F.col("n_cust").isNull(), "supp_only")
                    .when(F.col("n_supp").isNull(), "cust_only")
                    .otherwise("both").alias("presence")))


NATION_RECON_SQL = """
WITH cust AS (
  SELECT c_nationkey AS nationkey, count(*) AS n_cust
  FROM customer WHERE c_acctbal < -900 GROUP BY 1
),
supp AS (
  SELECT s_nationkey AS nationkey, count(*) AS n_supp
  FROM supplier WHERE s_acctbal < 0 GROUP BY 1
)
SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
       COALESCE(n_cust, 0) AS n_cust,
       COALESCE(n_supp, 0) AS n_supp,
       CASE WHEN n_cust IS NULL THEN 'supp_only'
            WHEN n_supp IS NULL THEN 'cust_only'
            ELSE 'both' END AS presence
FROM cust c FULL OUTER JOIN supp s USING (nationkey)
"""


QUERIES = {
    "above_avg_customers": QuerySpec(above_avg_customers, ABOVE_AVG_SQL),
    "nation_balance_reconciliation": QuerySpec(nation_balance_reconciliation,
                                               NATION_RECON_SQL),
    "sketch_stats": QuerySpec(sketch_stats, SKETCH_STATS_SQL),
    "sketch_hll_report": QuerySpec(sketch_hll_report, SKETCH_HLL_SQL),
    "acctbal_histogram": QuerySpec(acctbal_histogram, ACCTBAL_HISTOGRAM_SQL),
    "events_props_keys": QuerySpec(events_props_keys, EVENTS_PROPS_KEYS_SQL),
    "part_name_features": QuerySpec(part_name_features, PART_NAME_SQL),
    "orders_by_month": QuerySpec(orders_by_month, ORDERS_BY_MONTH_SQL),
    "label_centroid_norms": QuerySpec(label_centroid_norms, LABEL_CENTROID_SQL),
}
