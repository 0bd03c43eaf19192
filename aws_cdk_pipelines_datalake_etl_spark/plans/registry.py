"""The engine's query registry: every operator from SURVEY §2 plus the
Tier-E large-scale-pipeline ops, each one row of ``QUERIES`` (at the
end of this module), named by its function:

    (spark_fn(spark, sf_dir) -> DataFrame,  oracle_sql | None)

The oracle SQL is ANSI/DuckDB-dialect over the same parquet tables and
must produce the *identical* relation (same column names, same values)
— the driver hash-compares them.  Approximate/scale-path operators
whose exact output is not SQL-expressible (IVF ANN) omit the oracle.

Conventions keeping the comparison exact:
- every computed column is aliased identically on both sides;
- double aggregates are rounded (2 dp money, 6 dp ratios) on BOTH
  sides so last-ulp accumulation-order noise cannot flip the hash;
- LIMIT queries carry a total order (explicit tiebreaker column);
- hashes are md5-based (portable), timestamps are UTC on both sides.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_cdk_pipelines_datalake_etl_spark.functions.rounding import (
    portable_round_sql,
    pround,
)
from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
    STOPWORDS,
    hash48_sql_duckdb,
    stopword_count_sql_duckdb,
)
from aws_cdk_pipelines_datalake_etl_spark.operators import dedup as dd
from aws_cdk_pipelines_datalake_etl_spark.operators import similarity as sim
from aws_cdk_pipelines_datalake_etl_spark.operators import text as tx
from aws_cdk_pipelines_datalake_etl_spark.operators.asof import asof_join
from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import attach_binary_column
from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import load_table
from aws_cdk_pipelines_datalake_etl_spark.streaming.windowed import tumbling_window_agg

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None


from aws_cdk_pipelines_datalake_etl_spark.operators.doremi import (
    doremi_sql_ctes,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Parity tier: the reference's exercised surface (SURVEY §2.3-2.4)
# --------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's aggregation shape (A1-A4: multi-key
    hash agg, count + sums; transformation-sql/*.sql:1-18) as a TPC-H
    Q1-style pricing summary."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2000-12-01")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            pround(F.sum("l_quantity"), 2).alias("sum_qty"),
            pround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            pround(F.sum(disc_price), 2).alias("sum_disc_price"),
            pround(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            pround(F.avg("l_quantity"), 6).alias("avg_qty"),
            pround(F.avg("l_extendedprice"), 6).alias("avg_price"),
            pround(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q01_ORACLE = """
SELECT l_returnflag,
       l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 6)                                        AS avg_qty,
       round(avg(l_extendedprice), 6)                                   AS avg_price,
       round(avg(l_discount), 6)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q02_taxi_shape_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference transform's literal shape — count(*) + sums
    grouped by a dimension and string year/month/day partitions
    (yellow_taxi_trip_record.sql:1-18) — over the events table."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("year", F.date_format("ts", "yyyy"))
        .withColumn("month", F.date_format("ts", "MM"))
        .withColumn("day", F.date_format("ts", "dd"))
        .groupBy("event_type", "year", "month", "day")
        .agg(
            F.count(F.lit(1)).alias("count"),
            pround(F.sum("value"), 2).alias("total_value"),
        )
    )


Q02_ORACLE = """
SELECT event_type,
       strftime(ts, '%Y') AS year,
       strftime(ts, '%m') AS month,
       strftime(ts, '%d') AS day,
       count(*)           AS count,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2, 3, 4
"""


def q03_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4-R6: predicate pushdown + projection with aliases + coalesce
    null-default (yellow_taxi_trip_record.sql:3)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") <= "1996-12-31")
            & (F.col("l_quantity") > 45)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            pround(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("X")).alias(
                "flag"
            ),
        )
    )


Q03_ORACLE = """
SELECT l_orderkey,
       l_linenumber,
       round(l_extendedprice * (1 - l_discount), 2) AS revenue,
       coalesce(nullif(l_returnflag, 'N'), 'X')     AS flag
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <= TIMESTAMP '1996-12-31 00:00:00'
  AND l_quantity > 45
"""


def q04_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort + LIMIT (R7 generalized): global top-100 with a total
    order (tiebreaker) so the row set is deterministic."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", pround("o_totalprice", 2).alias("total"))
        .orderBy(F.col("total").desc(), F.col("o_orderkey"))
        .limit(100)
    )


Q04_ORACLE = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
FROM orders
ORDER BY total DESC, o_orderkey
LIMIT 100
"""


def q05_limit_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 verbatim: SELECT * ... LIMIT 10 (README.md:263-265) — on the
    5-row region table the LIMIT is not reached, so it's
    deterministic."""
    return _t(spark, sf_dir, "region").limit(10)


Q05_ORACLE = "SELECT * FROM region LIMIT 10"


# --------------------------------------------------------------------------
# Declared-surface tier: everything `spark.sql` accepts (SURVEY §2.6)
# --------------------------------------------------------------------------


def q06_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join with explicitly broadcast dimensions: customer ⋈
    nation ⋈ region, aggregated per region."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            pround(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
            pround(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
        )
    )


Q06_ORACLE = """
SELECT r_name,
       count(*)                 AS n_customers,
       round(sum(c_acctbal), 2) AS sum_acctbal,
       round(avg(c_acctbal), 6) AS avg_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q07_revenue_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way fact join + agg + top-k (TPC-H Q3 shape): revenue of
    BUILDING/AUTOMOBILE-segment orders."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
    )
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "c_mktsegment")
        .agg(
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


Q07_ORACLE = """
SELECT o_orderkey,
       c_mktsegment,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
GROUP BY o_orderkey, c_mktsegment
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q08_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: orders having any high-quantity line item."""
    o = _t(spark, sf_dir, "orders")
    hot = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    return (
        o.join(hot, o.o_orderkey == hot.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


Q08_ORACLE = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
GROUP BY o_orderpriority
"""


def q09_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no 1995-H1 order, per segment."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-07-01")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


Q09_ORACLE = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00')
GROUP BY c_mktsegment
"""


def q10_outer_join_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join + two-level aggregation: distribution of
    orders-per-customer including zero-order customers."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


Q10_ORACLE = """
WITH per AS (
  SELECT c_custkey, count(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey
)
SELECT n_orders, count(*) AS n_customers FROM per GROUP BY n_orders
"""


def q11_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price — the canonical top-k-per-
    group window pattern."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", pround("o_totalprice", 2).alias("total"), "rnk")
    )


Q11_ORACLE = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total, rnk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
      FROM orders) t
WHERE rnk <= 3
"""


def q12_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user sum over an ordered event stream."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        pround(F.sum("value").over(w), 4).alias("running_value"),
    )


Q12_ORACLE = """
SELECT event_id,
       user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 4) AS running_value
FROM events
"""


def q13_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + gap cumsum (30-min inactivity gap):
    sessions and events per user.  Gap test uses exact microseconds
    on both sides (unix_micros / epoch_us)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


Q13_ORACLE = """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(sum(new_session) AS BIGINT) AS n_sessions,
       count(*)                         AS n_events
FROM flagged GROUP BY user_id
"""


def q14_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT (distinct semantics) as one lazy
    plan of counted branches."""
    hot = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 49)
        .select(F.col("l_orderkey").alias("k"))
    )
    big = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_orderkey").alias("k"))
    )

    def counted(df: DataFrame, op: str) -> DataFrame:
        return df.distinct().agg(
            F.lit(op).alias("op"), F.count(F.lit(1)).alias("n")
        )

    return (
        counted(hot.union(big), "union")
        .unionByName(counted(hot.intersect(big), "intersect"))
        .unionByName(counted(hot.subtract(big), "except"))
    )


Q14_ORACLE = """
WITH hot AS (SELECT DISTINCT l_orderkey AS k FROM lineitem WHERE l_quantity >= 49),
     big AS (SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_totalprice > 400000)
SELECT 'union' AS op, count(*) AS n FROM (SELECT k FROM hot UNION SELECT k FROM big) u
UNION ALL
SELECT 'intersect', count(*) FROM (SELECT k FROM hot INTERSECT SELECT k FROM big) i
UNION ALL
SELECT 'except', count(*) FROM (SELECT k FROM hot EXCEPT SELECT k FROM big) e
"""


def q15_having_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING + exact count(DISTINCT) + median (exact percentile)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count(F.lit(1)).alias("n_orders"),
            pround(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"),
        )
        .filter(F.col("n_orders") > 100)
    )


Q15_ORACLE = """
SELECT o_orderstatus,
       count(DISTINCT o_custkey)               AS n_custs,
       count(*)                                AS n_orders,
       round(quantile_cont(o_totalprice, 0.5), 4) AS median_price
FROM orders
GROUP BY o_orderstatus
HAVING count(*) > 100
"""


def q16_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (status, priority) with count + sum."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        pround(F.sum("o_totalprice"), 2).alias("total"),
    )


Q16_ORACLE = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q17_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string/math function surface (R6 generalized)."""
    n = _t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.upper("n_name").alias("uname"),
        F.substring("n_name", 1, 3).alias("prefix"),
        F.length("n_name").alias("name_len"),
        F.concat_ws("-", F.col("n_name"), F.col("n_regionkey").cast("string")).alias(
            "tag"
        ),
        F.abs(F.col("n_regionkey") - 2).alias("regdist"),
        pround(F.sqrt("n_nationkey"), 6).alias("sqrt_key"),
        (F.col("n_nationkey") % 3).alias("key_mod3"),
    )


Q17_ORACLE = """
SELECT n_nationkey,
       upper(n_name)                                  AS uname,
       substr(n_name, 1, 3)                           AS prefix,
       CAST(length(n_name) AS INTEGER)                AS name_len,
       n_name || '-' || CAST(n_regionkey AS VARCHAR)  AS tag,
       abs(n_regionkey - 2)                           AS regdist,
       round(sqrt(n_nationkey), 6)                    AS sqrt_key,
       n_nationkey % 3                                AS key_mod3
FROM nation
"""


def q18_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function surface: extract + trunc + formatting."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("int").alias("order_day"),
        F.quarter("o_orderdate").cast("int").alias("order_quarter"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


Q18_ORACLE = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER)      AS order_year,
       CAST(month(o_orderdate) AS INTEGER)     AS order_month,
       CAST(day(o_orderdate) AS INTEGER)       AS order_day,
       CAST(quarter(o_orderdate) AS INTEGER)   AS order_quarter,
       date_trunc('month', o_orderdate)        AS month_start,
       strftime(o_orderdate, '%Y-%m')          AS ym
FROM orders
"""


def q19_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event types into daily count columns."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.withColumn("d", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("d")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


Q19_ORACLE = """
SELECT strftime(ts, '%Y-%m-%d') AS d,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'error')    AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'view')     AS view
FROM events
GROUP BY 1
"""


def q20_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: extract a JSON field from the events
    ``props`` column, then aggregate by it."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "k_val", F.get_json_object("props", "$.k").cast("int")
        )
        .groupBy("k_val")
        .agg(
            F.count(F.lit(1)).alias("n"),
            pround(F.sum("value"), 2).alias("total_value"),
        )
    )


Q20_ORACLE = """
SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k_val,
       count(*)             AS n,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1
"""


def q21_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: customers spending more than 2x the average
    total customer spend (executed through the engine's SQL entry
    point, SURVEY §3.3)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.transform import run_sql
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import (
        register_testdata_views,
    )

    register_testdata_views(spark, sf_dir)
    return run_sql(
        spark,
        portable_round_sql(
            """
            WITH spend AS (
              SELECT o_custkey, sum(o_totalprice) AS s FROM orders GROUP BY o_custkey
            )
            SELECT o_custkey, round(s, 2) AS total_spend
            FROM spend
            WHERE s > (SELECT 2 * avg(s) FROM spend)
            """
        ),
    )


Q21_ORACLE = """
WITH spend AS (
  SELECT o_custkey, sum(o_totalprice) AS s FROM orders GROUP BY o_custkey
)
SELECT o_custkey, round(s, 2) AS total_spend
FROM spend
WHERE s > (SELECT 2 * avg(s) FROM spend)
"""


def q22_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, order-year)."""
    o = _t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    return o.cube("o_orderstatus", "order_year").agg(
        F.count(F.lit(1)).alias("n"),
        pround(F.sum("o_totalprice"), 2).alias("total"),
    )


Q22_ORACLE = """
SELECT o_orderstatus, CAST(year(o_orderdate) AS INTEGER) AS order_year,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, CAST(year(o_orderdate) AS INTEGER))
"""

# One SQL text executed by BOTH engines — the purest form of the
# reference's design (job 2 executes an arbitrary SQL string,
# etl_conformed_to_purposebuilt.py:199): written once in the portable
# dialect subset, run via run_sql() on Spark and verbatim by the oracle.
Q23_PORTABLE_SQL = """
SELECT n_name,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       count(*)                           AS n_orders,
       round(sum(o_totalprice), 2)        AS total
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name, CAST(year(o_orderdate) AS INTEGER)
"""


def q23_sql_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's purpose-built transform end-to-end: the shipped
    per-table SQL (transforms/yellow_taxi_trip_record.sql) run over
    the conformed zone — projection aliases (R5), coalesce'd vendor
    key (R6), multi-key agg (A1-A4)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.transform import run_sql
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import (
        register_testdata_views,
    )

    register_testdata_views(spark, sf_dir)
    return run_sql(spark, portable_round_sql(Q23_PORTABLE_SQL))


def q30_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: events x 3-day maintenance windows
    derived from the orders table.  The window side is tiny and
    explicitly broadcast, so the non-equi condition runs as a
    broadcast nested-loop — the only shape that doesn't degenerate at
    scale (a shuffle range join would need interval bucketing; that
    variant is the as-of operator, operators/asof.py)."""
    ev = _t(spark, sf_dir, "events")
    windows = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 1000 == 0)
        .select(
            F.col("o_orderkey").alias("window_id"),
            F.to_timestamp(
                F.date_add(F.lit("2024-01-01").cast("date"),
                           (F.col("o_orderkey") % 28).cast("int"))
            ).alias("w_start"),
        )
        .withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 3 DAYS"))
    )
    joined = ev.join(
        F.broadcast(windows),
        (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")),
    )
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        pround(F.sum("value"), 2).alias("total_value"),
    )


Q30_ORACLE = """
WITH windows AS (
  SELECT o_orderkey AS window_id,
         CAST(DATE '2024-01-01' + INTERVAL (o_orderkey % 28) DAY AS TIMESTAMP)
           AS w_start
  FROM orders WHERE o_orderkey % 1000 = 0
)
SELECT window_id,
       count(*)             AS n_events,
       round(sum(value), 2) AS total_value
FROM events JOIN windows
  ON ts >= w_start AND ts < w_start + INTERVAL 3 DAY
GROUP BY window_id
"""


def range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BIG-BIG range join (operators/rangejoin.py interval_join):
    identical relation to q30_range_join but computed WITHOUT
    broadcasting — intervals explode to the 1-day bins they overlap,
    points map to their single bin, and the non-equi predicate becomes
    a shuffled equi-join on the bin + exact re-check.  Same oracle as
    q30; the plan test asserts no nested-loop join remains."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.rangejoin import (
        interval_join,
    )

    ev = _t(spark, sf_dir, "events")
    windows = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 1000 == 0)
        .select(
            F.col("o_orderkey").alias("window_id"),
            F.to_timestamp(
                F.date_add(F.lit("2024-01-01").cast("date"),
                           (F.col("o_orderkey") % 28).cast("int"))
            ).alias("w_start"),
        )
        .withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 3 DAYS"))
    )
    joined = interval_join(
        ev, windows, "ts", "w_start", "w_end", bin_width_seconds=86400
    )
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        pround(F.sum("value"), 2).alias("total_value"),
    )


def q24_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (status), (year), () — executed through the SQL
    entry point; A1's hash aggregate generalized to multi-grain."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.transform import run_sql
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import (
        register_testdata_views,
    )

    register_testdata_views(spark, sf_dir)
    return run_sql(
        spark,
        portable_round_sql(
            """
            SELECT o_orderstatus,
                   CAST(year(o_orderdate) AS INTEGER) AS order_year,
                   count(*)                    AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus),
                                    (CAST(year(o_orderdate) AS INTEGER)),
                                    ())
            """
        ),
    )


Q24_ORACLE = """
SELECT o_orderstatus,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       count(*)                    AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus),
                        (CAST(year(o_orderdate) AS INTEGER)),
                        ())
"""


def q25_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS subqueries (planned by Catalyst
    as semi/anti joins — the decorrelation is the point)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.transform import run_sql
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import (
        register_testdata_views,
    )

    register_testdata_views(spark, sf_dir)
    return run_sql(
        spark,
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F'
                            AND o.o_totalprice < 50000)
        """,
    )


Q25_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > 300000)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'F'
                    AND o.o_totalprice < 50000)
"""


def q26_lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral/UNNEST surface: explode document tokens, count by
    token.  (The same Generate operator every shingle/dedup op builds
    on, here as a declared query.)"""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


Q26_ORACLE = """
SELECT t.token AS token, count(*) AS n
FROM documents, unnest(string_split(lower(text), ' ')) AS t(token)
GROUP BY 1
"""


def q27_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (Spark
    ``percentile`` == DuckDB ``quantile_cont``)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        pround(F.expr("percentile(l_extendedprice, 0.25)"), 4).alias("p25"),
        pround(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        pround(F.expr("percentile(l_extendedprice, 0.75)"), 4).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


Q27_ORACLE = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       round(quantile_cont(l_extendedprice, 0.5), 4)  AS p50,
       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
"""


def q28_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: per-order sorted line-number list (emitted
    as a joined string so the cross-engine value hash is stable)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list(F.col("l_linenumber").cast("string"))),
                ",",
            ).alias("linenumbers"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q28_ORACLE = """
SELECT l_orderkey,
       array_to_string(list_sort(list(CAST(l_linenumber AS VARCHAR))), ',')
         AS linenumbers,
       count(*) AS n_lines
FROM lineitem
GROUP BY l_orderkey
"""


def q29_pandas_udf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UDF surface done the fast way: an Arrow-batched
    ``@pandas_udf`` (vectorized numpy, no per-row Python) computing a
    sigmoid order score.  Semantics stay SQL-expressible so the
    oracle can replay it; rounding absorbs libm last-ulp skew."""
    from pyspark.sql.functions import pandas_udf

    # no type hints: `from __future__ import annotations` stringifies
    # them, which pandas_udf cannot resolve — series-to-series is
    # inferred from the single argument
    @pandas_udf("double")
    def sigmoid_score(x):
        import numpy as np

        return 1.0 / (1.0 + np.exp(-x / 100000.0))

    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        pround(sigmoid_score(F.col("o_totalprice")), 4).alias("score"),
    )


Q29_ORACLE = """
SELECT o_orderkey,
       round(1.0 / (1.0 + exp(-o_totalprice / 100000.0)), 4) AS score
FROM orders
"""


def udaf_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UDAF surface: a GROUPED_AGG ``@pandas_udf`` computing
    median absolute deviation per group — an aggregate Spark has no
    builtin for (DuckDB's ``mad()`` is the oracle).  Arrow ships each
    group's values as one pandas Series; at scale the shuffle is the
    same single exchange a builtin agg pays, with per-group state =
    the group's values (exact medians are holistic — the sketch twin
    for unbounded groups is ``approx_quantiles``)."""
    from pyspark.sql.functions import pandas_udf

    # Series -> scalar type hints mark this GROUPED_AGG (the
    # PandasUDFType constant is deprecated); the stringified
    # annotations (future import) resolve fine — pd is module-global
    @pandas_udf("double")
    def mad(v: pd.Series) -> float:
        return float((v - v.median()).abs().median())

    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        pround(mad(F.col("value")), 4).alias("mad_value")
    )


UDAF_MAD_ORACLE = """
SELECT event_type, round(mad(value), 4) AS mad_value
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Tier E: dedup / text / similarity / as-of / streaming
# --------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the md5 of raw text: deterministic min-id
    representative per duplicate group plus group size
    (operators/dedup.py exact_dedup) — one hash shuffle with map-side
    partial agg."""
    d = _t(spark, sf_dir, "documents").withColumn("fp", F.md5("text"))
    return dd.exact_dedup(d.select("doc_id", "fp"), ["fp"], "doc_id")


DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS fp, min(doc_id) AS doc_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on the md5 fingerprint of NORMALIZED text
    (lowercase, punctuation stripped, whitespace collapsed) — catches
    trivially-reformatted copies exact dedup misses
    (operators/dedup.py fingerprint_dedup)."""
    return dd.fingerprint_dedup(_t(spark, sf_dir, "documents"))


DEDUP_FINGERPRINT_ORACLE = """
SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g'))) AS fp,
       min(doc_id) AS doc_id,
       count(*)    AS n_copies
FROM documents GROUP BY 1
"""

def dedup_incremental_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run dedup (operators/dedup.py incremental_fingerprint_dedup):
    the ingest batch (doc_id % 5 == 0) is deduped against the already-
    published corpus (the rest) by fingerprint anti-join — first-seen
    wins, so only never-seen fingerprints survive, deduped within the
    batch.  O(batch + corpus-fp-column), not a whole-corpus recompute."""
    d = _t(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    return dd.incremental_fingerprint_dedup(batch, corpus)


DEDUP_INCREMENTAL_FP_ORACLE = """
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g'))) AS fp
  FROM documents
), batch AS (SELECT * FROM fp WHERE doc_id % 5 = 0),
   corpus AS (SELECT * FROM fp WHERE doc_id % 5 != 0)
SELECT fp, min(doc_id) AS doc_id, count(*) AS n_copies
FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
GROUP BY fp
"""


def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup pairs (operators/dedup.py
    incremental_minhash_pairs): batch band signatures probe the
    persisted corpus LSH index — batch-vs-corpus and batch-vs-batch
    pairs only, never corpus-vs-corpus; verification reads just the
    candidate corpus docs (semi-join prune).  Oracle: exact Jaccard
    over corpus+batch restricted to pairs touching the batch."""
    d = _t(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    return dd.incremental_minhash_pairs(batch, corpus, threshold=0.8)


# Exact jaccard pairs — shared oracle for the exact and LSH paths (the
# LSH miss probability at these parameters is ~5e-8 per true pair).
# Shingle positions are generated from each document's own token count
# (per-row unnest), so arbitrarily long documents are never truncated.
_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id AS id, string_split(lower(text), ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM (SELECT id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks)
), sizes AS (
  SELECT id, count(*) AS n FROM sh GROUP BY id
), pair AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id1, id2,
       round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
FROM pair
JOIN sizes sa ON sa.id = id1
JOIN sizes sb ON sb.id = id2
WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
"""

# The incremental restriction of _JACCARD_ORACLE: only pairs touching
# the ingest batch (doc_id % 5 == 0) — corpus-vs-corpus pairs excluded.
DEDUP_INCREMENTAL_LSH_ORACLE = """
WITH toks AS (
  SELECT doc_id AS id, string_split(lower(text), ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM (SELECT id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks)
), sizes AS (
  SELECT id, count(*) AS n FROM sh GROUP BY id
), pair AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id1, id2,
       round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
FROM pair
JOIN sizes sa ON sa.id = id1
JOIN sizes sb ON sb.id = id2
WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
  AND (id1 % 5 = 0 OR id2 % 5 = 0)
"""


def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup through a broadcast Bloom bitmap
    (operators/bloom.py bloom_prefilter_anti_join): the corpus is
    touched only via its 2^20-bit packed bitmap (broadcast, zero
    corpus shuffle at probe time); bloom-negative batch keys skip the
    exact join entirely and only bloom-positives are verified — the
    result is EXACTLY the fingerprint anti-join (no false negatives,
    positives verified), so the oracle is the plain anti-join."""
    d = _t(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 7 == 0)
    corpus = d.filter(F.col("doc_id") % 7 != 0)
    from aws_cdk_pipelines_datalake_etl_spark.operators.bloom import (
        bloom_prefilter_anti_join,
    )

    return bloom_prefilter_anti_join(batch, corpus)


DEDUP_BLOOM_ORACLE = """
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g'))) AS fp
  FROM documents
), batch AS (SELECT * FROM fp WHERE doc_id % 7 = 0),
   corpus AS (SELECT * FROM fp WHERE doc_id % 7 != 0)
SELECT fp, min(doc_id) AS doc_id, count(*) AS n_copies
FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
GROUP BY fp
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs at >= 0.8 via shingle
    equi-join (operators/dedup.py ngram_jaccard_pairs) — the
    oracle-grade path the LSH operator is verified against."""
    return dd.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (128 perms) + 32-band LSH near-dup pairs with
    exact-Jaccard verification (operators/dedup.py minhash_lsh_pairs)
    — the 100 TB candidate-generation path; equals the exact operator
    at test scale."""
    return dd.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive collapse of the near-dup pair list into clusters
    (operators/clusters.py): iterative min-label propagation, each
    round two distributed shuffles, converging in ~diameter rounds.
    The oracle computes the same closure with a recursive CTE over
    the exact-Jaccard pair list."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.clusters import (
        dedup_cluster_representatives,
    )

    pairs = dd.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)
    return dedup_cluster_representatives(pairs)


DEDUP_CLUSTERS_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id AS id, string_split(lower(text), ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM (SELECT id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks)
), sizes AS (
  SELECT id, count(*) AS n FROM sh GROUP BY id
), pair AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2
), dup AS (
  SELECT id1, id2
  FROM pair
  JOIN sizes sa ON sa.id = id1
  JOIN sizes sb ON sb.id = id2
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
), edges AS (
  SELECT id1 AS a, id2 AS b FROM dup
  UNION
  SELECT id2, id1 FROM dup
), reach(node, peer) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON r.peer = e.a
)
SELECT node AS doc_id, least(node, min(peer)) AS cluster_rep
FROM reach GROUP BY node
"""


def dedup_quality_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection (operators/clusters.py:
    quality_canonicals — round 10): each near-dup cluster keeps its
    LONGEST member (token count as the quality policy, ties to the
    smaller id) instead of the min-id convention — the curation
    refinement that keeps the full copy over the truncated crawl.
    Pairs from the banded MinHash path; one struct-max agg per
    cluster, no window.  The oracle recomputes the closure with the
    recursive-CTE device and replays the argmax."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        token_count,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.clusters import (
        quality_canonicals,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.8)
    quality = docs.select(
        "doc_id", token_count("text").alias("quality")
    )
    return quality_canonicals(pairs, quality).orderBy("doc_id")


DEDUP_QUALITY_CANONICAL_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id AS id, string_split(lower(text), ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM (SELECT id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks)
), sizes AS (
  SELECT id, count(*) AS n FROM sh GROUP BY id
), pair AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2
), dup AS (
  SELECT id1, id2
  FROM pair
  JOIN sizes sa ON sa.id = id1
  JOIN sizes sb ON sb.id = id2
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
), edges AS (
  SELECT id1 AS a, id2 AS b FROM dup
  UNION
  SELECT id2, id1 FROM dup
), reach(node, peer) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON r.peer = e.a
), members AS (
  SELECT node AS doc_id, least(node, min(peer)) AS cluster_rep
  FROM reach GROUP BY node
), q AS (
  SELECT doc_id AS id, CAST(len(string_split(lower(text), ' ')) AS BIGINT)
           AS q_
  FROM documents
), best AS (
  SELECT m.cluster_rep,
         first(m.doc_id ORDER BY q.q_ DESC, m.doc_id ASC) AS canonical_id
  FROM members m JOIN q ON q.id = m.doc_id
  GROUP BY m.cluster_rep
)
SELECT m.doc_id, m.cluster_rep, CAST(b.canonical_id AS BIGINT) AS canonical_id,
       m.doc_id = b.canonical_id AS keep
FROM members m JOIN best b USING (cluster_rep)
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash signature per document over distinct tokens
    (operators/dedup.py simhash_signatures) — one explode + one
    48-column agg; Hamming-close signatures flag near-dups."""
    return dd.simhash_signatures(_t(spark, sf_dir, "documents"))


def _simhash_oracle(bits: int = 48) -> str:
    h = hash48_sql_duckdb("tok")
    sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    reassemble = " + ".join(
        f"CASE WHEN b{i} >= 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT id, tok FROM (
    SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok
    FROM documents) t
), hashed AS (
  SELECT id, {h} AS h FROM toks
), bitsums AS (
  SELECT id,
         {sums}
  FROM hashed GROUP BY id
)
SELECT id, {reassemble} AS simhash FROM bitsums
"""


Q69_WAITING_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 45 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 45 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def q69_suppliers_who_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: "late" = shipped > 45 days after the
    order date, since this schema has no receipt/commit dates): the
    sole supplier responsible for a late finished multi-supplier order
    — the classic double-correlated EXISTS + NOT EXISTS, where the
    anti branch correlates on TWO outer references (l1's order key and
    the outer order's date).  Catalyst must decorrelate both into
    semi/anti joins over one lineitem re-scan each; identical SQL text
    is the DuckDB oracle."""
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import (
        register_testdata_views,
    )

    register_testdata_views(spark, sf_dir)
    return spark.sql(Q69_WAITING_SQL)


def text_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-corpus duplication signal (operators/text.py
    boilerplate_ratio): share of each document's distinct trigrams
    occurring in >= 3 documents — the template/boilerplate quality
    score pair-level dedup does not surface."""
    return tx.boilerplate_ratio(_t(spark, sf_dir, "documents"), min_df=3)


TEXT_BOILERPLATE_ORACLE = portable_round_sql("""
WITH toks AS (
  SELECT doc_id AS id, string_split(lower(text), ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM (SELECT id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks)
), dfreq AS (
  SELECT s, count(*) AS df FROM sh GROUP BY s
)
SELECT sh.id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       round(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS boilerplate_ratio
FROM sh JOIN dfreq USING (s)
GROUP BY sh.id
""")


def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage signal (operators/text.py oov_rate): per-doc
    share of token instances outside the induced top-1000 corpus
    vocabulary (deterministic count-desc/token-asc tiebreak; vocab
    membership via an explicitly broadcast join)."""
    return tx.oov_rate(_t(spark, sf_dir, "documents"), vocab_size=1000)


TEXT_OOV_ORACLE = portable_round_sql("""
WITH toks AS (
  SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
), vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS n FROM toks GROUP BY term
    ORDER BY n DESC, term ASC LIMIT 1000
  )
)
SELECT id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS oov_rate
FROM toks LEFT JOIN vocab v USING (term)
GROUP BY id
""")


Q68_PROFILE_SQL = portable_round_sql("""
WITH b AS (
  SELECT l_returnflag,
         CAST(l_quantity AS DECIMAL(4,0)) AS qd,
         CAST(round(l_extendedprice * 100, 0) AS DECIMAL(9,0)) AS pc
  FROM lineitem
), s AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(sum(qd) AS DOUBLE)           AS s1,
         CAST(sum(qd * qd) AS DOUBLE)      AS s2,
         CAST(sum(qd * qd * qd) AS DOUBLE) AS s3,
         CAST(sum(pc) AS DOUBLE)           AS p1,
         CAST(sum(pc * pc) AS DOUBLE)      AS p2,
         CAST(sum(qd * pc) AS DOUBLE)      AS sp
  FROM b GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round(s1 / n, 6) AS mean_qty,
       round(sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS stddev_pop_qty,
       round(p1 / n / 100, 6) AS mean_price,
       round((sp / n - (s1 / n) * (p1 / n)) /
             (sqrt(s2 / n - (s1 / n) * (s1 / n)) *
              sqrt(p2 / n - (p1 / n) * (p1 / n))), 6) AS corr_qty_price,
       round((s3 / n - 3 * (s1 / n) * (s2 / n)
              + 2 * (s1 / n) * (s1 / n) * (s1 / n)) /
             pow(sqrt(s2 / n - (s1 / n) * (s1 / n)), 3), 6) AS skew_pop_qty
FROM s
""")


def q68_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling moments: per-flag mean / population stddev /
    Pearson correlation / population skewness — NOT via the engines'
    (mutually incompatible, accumulation-order-sensitive) stat
    builtins, but from EXACT decimal power sums (quantity is integral,
    price is exact cents; tight decimal widths keep every product and
    sum exact), with the double-precision moment formulas evaluated by
    the identical SQL text on both engines.  One grouped pass; at
    100 TB the power sums are algebraic (map-side partial) and the
    moment math touches only the tiny aggregate."""
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import (
        register_testdata_views,
    )

    register_testdata_views(spark, sf_dir)
    return spark.sql(Q68_PROFILE_SQL)


def sketch_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters (operators/sketches.py
    build_cm_rollup/cm_estimate): per-user frequency estimated from the
    bounded 4x512 cell table (never re-reading the fact side), keys
    with estimate >= 70 kept next to their exact counts — the sketch
    is built on portable md5 hashes, so cells AND estimates replay
    bit-for-bit in DuckDB (an exact-hash oracle, unlike rows-only
    Datasketches entries)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators import sketches as sk

    ev = _t(spark, sf_dir, "events")
    cells = sk.build_cm_rollup(ev, "user_id")
    # r12 (guide §2.4): the probe key set IS the exact-count table's
    # key column — stage exact once (key-cardinality-bounded) and
    # derive the probes from it, so events is scanned twice (cells +
    # exact) instead of three times.  Same key set, identical output.
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .localCheckpoint(eager=True)
    )
    est = sk.cm_estimate(cells, exact.select("user_id"), "user_id")
    return (
        est.join(exact, "user_id")
        .filter(F.col("cm_est") >= 70)
        .select("user_id", "cm_est", "true_cnt")
    )


def _cm_heavy_hitters_oracle() -> str:
    from aws_cdk_pipelines_datalake_etl_spark.operators.sketches import cm_oracle_sql

    return f"""
WITH est AS ({cm_oracle_sql('user_id', 'events')}),
exact AS (SELECT user_id, count(*) AS true_cnt FROM events GROUP BY user_id)
SELECT est.k AS user_id, cm_est, true_cnt
FROM est JOIN exact ON est.k = exact.user_id
WHERE cm_est >= 70
"""


def sketch_cm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-shaped count-min heavy hitters (VERDICT r5 #3):
    ``sketch_cm_heavy_hitters`` stays as the correctness gate but
    probes the sketch with the whole fact table and joins exact
    counts — it measures the comparison harness.  This entry is the
    shape a real pipeline runs: the sketch summarizes the FULL
    history (bounded 4x512 cells), the candidate list is the distinct
    keys of the most recent day only (at scale: one partition-pruned
    date slice, never the history), and the answer is the estimated
    top-20 via TakeOrderedAndProject (distributed top-k, no global
    sort, no exact-count join anywhere in the measured path).  The
    last-day cutoff is integer microseconds (max ts - 86_400e6) so
    both engines compute the identical candidate set."""
    from aws_cdk_pipelines_datalake_etl_spark.operators import sketches as sk

    ev = _t(spark, sf_dir, "events")
    cells = sk.build_cm_rollup(ev, "user_id")
    cut = ev.agg(
        (F.max(F.unix_micros("ts")) - F.lit(86_400_000_000)).alias("_cut")
    )
    cand = (
        ev.join(F.broadcast(cut))
        .filter(F.unix_micros("ts") >= F.col("_cut"))
        .select("user_id")
    )
    top = (
        sk.cm_estimate(cells, cand, "user_id")
        .orderBy(F.col("cm_est").desc(), "user_id")
        .limit(20)
    )
    rk = F.row_number().over(
        Window.orderBy(F.col("cm_est").desc(), "user_id")
    )
    return top.select("user_id", "cm_est", rk.alias("rk"))


def _cm_topk_oracle() -> str:
    from aws_cdk_pipelines_datalake_etl_spark.operators.sketches import (
        CM_DEPTH,
        CM_WIDTH,
    )

    h = (
        f"(('0x' || substr(md5(d::VARCHAR || ':' || user_id::VARCHAR), 1, 12))"
        f"::BIGINT % {CM_WIDTH})"
    )
    return f"""
WITH pos AS (
  SELECT user_id, d, {h} AS cell
  FROM events, (SELECT unnest(generate_series(0, {CM_DEPTH - 1})) AS d)
), cells AS (
  SELECT d, cell, count(*) AS cnt FROM pos GROUP BY d, cell
), cand AS (
  SELECT DISTINCT user_id FROM events
  WHERE epoch_us(ts) >= (SELECT max(epoch_us(ts)) - 86400000000 FROM events)
), ppos AS (
  SELECT user_id, d, {h} AS cell
  FROM cand, (SELECT unnest(generate_series(0, {CM_DEPTH - 1})) AS d)
), est AS (
  SELECT user_id, min(coalesce(cells.cnt, 0)) AS cm_est
  FROM ppos LEFT JOIN cells USING (d, cell)
  GROUP BY user_id
)
SELECT user_id, cm_est,
       CAST(row_number() OVER (ORDER BY cm_est DESC, user_id) AS INTEGER) AS rk
FROM est
ORDER BY cm_est DESC, user_id
LIMIT 20
"""


def q70_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-type surface: per-user event-type counts assembled into a
    real MapType column (map_from_entries over a key-sorted entry
    array — insertion order makes map_entries deterministic), then
    consumed with size / element_at / map_entries.  The output
    serializes the map as a sorted k:v string so the cross-engine hash
    is stable; the oracle computes the same relation map-free (the
    check is Spark's map semantics, not DuckDB's)."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    m = F.map_from_entries(
        F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
    )
    per_user = counts.groupBy("user_id").agg(m.alias("m"))
    return per_user.select(
        "user_id",
        F.size(F.map_keys("m")).alias("n_types"),
        F.coalesce(F.element_at("m", F.lit("purchase")), F.lit(0)).alias(
            "purchases"
        ),
        F.concat_ws(
            ",",
            F.expr("transform(map_entries(m), e -> concat(e.key, ':', e.value))"),
        ).alias("serialized"),
    )


Q70_MAP_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2
)
SELECT user_id,
       CAST(count(*) AS INT) AS n_types,
       CAST(coalesce(max(CASE WHEN event_type = 'purchase' THEN cnt END), 0)
            AS BIGINT) AS purchases,
       string_agg(event_type || ':' || cnt, ',' ORDER BY event_type)
         AS serialized
FROM c GROUP BY user_id
"""


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures turned into actual near-dup detection
    (operators/dedup.py simhash_near_dup_pairs): pigeonhole block join
    — a pair within 3 bit flips must agree on one of 4 signature
    blocks, so candidates come from a block-keyed equi-join (never
    all-pairs), verified by the exact XOR popcount.  The oracle is the
    quadratic self-join, so the hash proves the pigeonhole candidate
    generation loses nothing."""
    return dd.simhash_near_dup_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=3
    )


def _simhash_pairs_oracle(bits: int = 48, max_hamming: int = 3) -> str:
    return f"""
WITH sigs AS ({_simhash_oracle(bits)})
SELECT a.id AS id1, b.id AS id2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sigs a JOIN sigs b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def dedup_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash MOSS) fingerprints (operators/winnow.py
    winnow_fingerprints): per-window rightmost-min selection over the
    word-3-gram hash stream (w=4) — a position-covering ~1/w-size
    fingerprint set; any shared token run of >= w+k-1 tokens is
    guaranteed a shared fingerprint.  Row-local arrays, one distinct."""
    from aws_cdk_pipelines_datalake_etl_spark.operators import winnow as wn

    return wn.winnow_fingerprints(_t(spark, sf_dir, "documents"))


def dedup_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap detection by winnowed-fingerprint equi-join
    (operators/winnow.py winnow_overlap_pairs): doc pairs sharing >= 2
    distinct fingerprints — the plagiarism/contamination primitive;
    cost scales with fingerprint co-occurrence, never all-pairs."""
    from aws_cdk_pipelines_datalake_etl_spark.operators import winnow as wn

    return wn.winnow_overlap_pairs(_t(spark, sf_dir, "documents"), min_shared=2)


def text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics (length, word count, punctuation/
    stopword/digit ratios, mean word length) as zero-shuffle Catalyst
    expressions (operators/text.py text_metrics)."""
    return tx.text_metrics(_t(spark, sf_dir, "documents"))


TEXT_METRICS_ORACLE = f"""
WITH d AS (
  SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INTEGER)                     AS n_tokens,
       CAST(len(list_distinct(toks)) AS INTEGER)      AS n_uniq_tokens,
       CAST(length(text) AS BIGINT)                   AS n_chars,
       round(list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks), 6)
                                                      AS avg_token_len,
       round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS type_token_ratio,
       round({stopword_count_sql_duckdb('toks', 'en')} * 1.0 / len(toks), 6)
                                                      AS stopword_ratio,
       round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
             / length(text), 6)                       AS digit_ratio
FROM d
"""


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-heuristic language ID: per-language stopword hit scoring
    picks the best of en/de/fr/es or 'und' (operators/text.py
    language_id) — a zero-shuffle scan."""
    return tx.predict_language(_t(spark, sf_dir, "documents"))


def _langid_oracle() -> str:
    order = ["en", "es", "de", "fr", "zh"]
    scores = ",\n         ".join(
        f"CAST({stopword_count_sql_duckdb('toks', lang)} AS INTEGER) AS score_{lang}"
        for lang in order
    )
    greatest = ", ".join(f"score_{lang}" for lang in order)
    whens = "\n            ".join(
        f"WHEN score_{lang} = best THEN '{lang}'" for lang in order
    )
    return f"""
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), scored AS (
  SELECT doc_id,
         {scores}
  FROM d
), best AS (
  SELECT *, greatest({greatest}) AS best FROM scored
)
SELECT doc_id, {greatest},
       CASE WHEN best = 0 THEN 'und'
            {whens}
       END AS pred_lang
FROM best
"""


def text_langid_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL language ID (operators/langid.py): char-trigram Naive
    Bayes with add-one smoothing over the embedded public-domain
    sample (UDHR Art. 1 + everyday sentences, 19 languages incl.
    Cyrillic/Greek/Arabic/CJK/kana — round 10, VERDICT r9 #3), argmax
    per document with the top-2 confidence margin.  Every log-prob is
    an integer micro-nat before summation, so scores and margins are
    engine-exact; the DuckDB oracle RETRAINS the identical model in
    SQL from the same sample table (single-source CTE text:
    langid_model_sql_ctes — a pytest additionally pins the two model
    tables equal value-for-value).  Plan (round 9): broadcast LEFT
    model join on trigram occurrences + ONE hash agg (pivoted
    per-language conditional sums) + row-local argmax/margin — one
    doc-proportional exchange, was three; the operator widens the
    single-file-parquet scan to all cores before the ~300x explode."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.langid import (
        language_id_nb,
    )

    return language_id_nb(_t(spark, sf_dir, "documents"))


def text_langid_confident(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_langid_nb with the round-9 CONFIDENCE BAND engaged
    (min_margin_micro=3000 micro-nats/trigram — ~p7 of the corpus's
    per-trigram margin distribution): near-tie documents are labeled
    'und' instead of guessing between close languages (es/pt,
    da/sv...).  Scores and margins are unchanged — only the label
    moves, and the DuckDB oracle applies the identical integer
    cross-multiply band, so the banding rule itself is
    driver-hash-verified."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.langid import (
        language_id_nb,
    )

    return language_id_nb(
        _t(spark, sf_dir, "documents"), min_margin_micro=3000
    )


def text_script_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant Unicode script per document (operators/langid.py:
    dominant_script — round 10, VERDICT r9 #3): per-script character
    counts via literal-range regexp keep-counts (pure Catalyst, one
    scan, zero shuffles, a driver-known 7-script set) and a row-local
    array_sort argmax, ties alphabetical, 'und' when no script char.
    The script dimension is what labels text the trigram NB has no
    model for — a real multilingual pass runs this FIRST, then langid
    within each script family.  The DuckDB oracle replays each count
    with the identical literal-range regex and a list_sort over the
    same (neg, script) structs."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.langid import (
        dominant_script,
    )

    return dominant_script(_t(spark, sf_dir, "documents"))


def _script_id_oracle() -> str:
    from aws_cdk_pipelines_datalake_etl_spark.operators.langid import (
        SCRIPT_RANGES,
    )

    names = sorted(SCRIPT_RANGES)
    cnt_cols = ",\n         ".join(
        "CAST(length(regexp_replace(t, '[^{rng}]', '', 'g')) AS BIGINT)"
        " AS c_{n}".format(rng=SCRIPT_RANGES[n], n=n)
        for n in names
    )
    structs = ", ".join(
        "{{'neg': -c_{n}, 's': '{n}'}}".format(n=n) for n in names
    )
    return f"""
WITH c AS (SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents),
k AS (
  SELECT doc_id,
         {cnt_cols},
         CAST(length(t) AS INT) AS n_chars
  FROM c
),
r AS (
  SELECT doc_id, n_chars, list_sort([{structs}]) AS l FROM k
)
SELECT doc_id,
       CASE WHEN -l[1].neg > 0 THEN l[1].s ELSE 'und' END AS script,
       CAST(-l[1].neg AS INT) AS n_script_chars,
       n_chars
FROM r
"""


def _langid_nb_oracle(min_margin_micro: int = 0) -> str:
    from aws_cdk_pipelines_datalake_etl_spark.operators.langid import (
        langid_model_sql_ctes,
        norm_sql,
    )

    return f"""
WITH {langid_model_sql_ctes()},
dnorm AS (SELECT doc_id, {norm_sql('text')} AS s FROM documents),
dk AS (
  SELECT doc_id,
         CASE WHEN length(s) >= 3 THEN length(s) - 2 ELSE 0 END AS n_trigrams
  FROM dnorm
),
dtris AS (
  SELECT doc_id, substring(s, i, 3) AS tri
  FROM (SELECT doc_id, s, unnest(generate_series(1, length(s) - 2)) AS i
        FROM dnorm WHERE length(s) >= 3)
),
matched AS (
  SELECT doc_id, lang, sum(micro_logp) AS matched_micro
  FROM dtris JOIN model USING (tri) GROUP BY doc_id, lang
),
grid AS (
  SELECT dk.doc_id, c.lang, dk.n_trigrams,
         COALESCE(m.matched_micro, 0) - dk.n_trigrams * c.micro_denom
           AS score_micro
  FROM dk CROSS JOIN consts c
  LEFT JOIN matched m ON m.doc_id = dk.doc_id AND m.lang = c.lang
),
best AS (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY score_micro DESC, lang ASC) AS rn,
      lead(score_micro) OVER (
      PARTITION BY doc_id ORDER BY score_micro DESC, lang ASC) AS next_score
  FROM grid
)
SELECT doc_id,
       CASE WHEN n_trigrams = 0 THEN 'und'
            WHEN (score_micro - next_score)
                 < {min_margin_micro} * n_trigrams THEN 'und'
            ELSE lang END AS lang,
       CAST(CASE WHEN n_trigrams = 0 THEN 0 ELSE score_micro END
            AS BIGINT) AS score_micro,
       CAST(CASE WHEN n_trigrams = 0 THEN 0
            ELSE score_micro - next_score END AS BIGINT) AS margin_micro,
       CAST(n_trigrams AS INT) AS n_trigrams
FROM best WHERE rn = 1
"""


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count plus a BPE-ish subword estimate
    (ceil(len/4) per token) per document (operators/text.py
    token_count_bpe_ish)."""
    return tx.token_count_bpe_ish(_t(spark, sf_dir, "documents"))


TEXT_TOKEN_COUNT_ORACLE = """
WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_whitespace_tokens,
       CAST(list_sum(list_transform(toks, t -> CAST(ceil(length(t) / 4.0) AS BIGINT)))
            AS BIGINT)            AS n_bpe_ish_tokens
FROM d
"""


def sim_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each query vector (vec_id < 10)
    by broadcast brute force (operators/similarity.py
    brute_force_topk) — the correctness baseline the ANN paths are
    measured against."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.brute_force_topk(e, e.filter(F.col("vec_id") < 10), k=5).withColumn(
        "rank", F.col("rank").cast("int")
    )


SIM_BRUTE_TOPK_ORACLE = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
s AS (
  SELECT query_id, v.vec_id AS neighbor_id,
         round(list_cosine_similarity(qe, e), 6) AS cosine
  FROM q, v WHERE v.vec_id != query_id
), r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
  FROM s
)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
"""


def sim_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-hard triplet mining (operators/similarity.py:
    contrastive_triplets — Hermans et al. 2017): for a FIXED 50-anchor
    probe set (vec_id < 50 — bounded like sim_brute_topk's query side,
    so cost scales linearly with the corpus, never anchors x corpus
    quadratically), the most-similar same-label vector is the positive
    and the most-similar different-label vector the hard negative;
    margin <= 0 marks label-boundary crossers.  One broadcast probe +
    ONE conditional struct-max agg — no ranking window; ties on the
    6-dp cosine break on the smaller id both engines alike."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.similarity import (
        contrastive_triplets,
    )

    e = _t(spark, sf_dir, "embeddings")
    return contrastive_triplets(e, e.filter(F.col("vec_id") < 50))


SIM_CONTRASTIVE_TRIPLETS_ORACLE = """
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
a AS (SELECT vec_id AS anchor_id, label AS a_label, e AS ae
      FROM v WHERE vec_id < 50),
s AS (
  SELECT anchor_id, a_label, v.vec_id AS nid, v.label AS nlabel,
         round(list_cosine_similarity(ae, e), 6) AS cosine
  FROM a, v WHERE v.vec_id != anchor_id
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY anchor_id, (nlabel = a_label)
    ORDER BY cosine DESC, nid ASC) AS rn
  FROM s
),
pos AS (SELECT anchor_id, nid AS pos_id, cosine AS pos_cosine
        FROM r WHERE nlabel = a_label AND rn = 1),
neg AS (SELECT anchor_id, nid AS neg_id, cosine AS neg_cosine
        FROM r WHERE nlabel != a_label AND rn = 1)
SELECT a.anchor_id, pos.pos_id, pos.pos_cosine,
       neg.neg_id, neg.neg_cosine,
       pos.pos_cosine - neg.neg_cosine AS margin
FROM a LEFT JOIN pos USING (anchor_id) LEFT JOIN neg USING (anchor_id)
"""


def sim_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All embedding pairs with cosine >= 0.4 by the exact all-pairs
    product — verification-grade twin of the LSH path
    (operators/similarity.py embedding_near_dup_pairs)."""
    return sim.embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)


SIM_NEAR_DUP_ORACLE = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(list_cosine_similarity(a.e, b.e), 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4
"""


def sim_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dup (operators/similarity.py
    hyperplane_lsh_near_dup_pairs): bucketed candidate generation +
    exact-cosine verification.  The oracle is the exact all-pairs
    formulation — at the registry's band settings the LSH miss
    probability is ~1e-4 per true pair, so the outputs are equal."""
    return sim.hyperplane_lsh_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    )


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate ANN (scale path) — no SQL oracle;
    recall measured against the brute-force path in tests."""
    e = _t(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return sim.ivf_topk(
        e, e.filter(F.col("vec_id") < 10), centroids, k=5, nprobe=2
    ).withColumn("rank", F.col("rank").cast("int"))


def sim_ivf_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF plumbing made SQL-checkable: probing EVERY bucket makes
    the candidate set the whole corpus, so the result must equal the
    exact brute-force top-k — same oracle.  (Correctness gate for the
    bucketing/probe machinery; ``sim_ivf_topk`` is the nprobe<C
    approximate path.)"""
    e = _t(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return sim.ivf_topk(
        e, e.filter(F.col("vec_id") < 10), centroids, k=5, nprobe=8
    ).withColumn("rank", F.col("rank").cast("int"))


def sim_ivf_index_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED IVF index end-to-end (operators/similarity.py
    write_ivf_index + ivf_topk_from_index): vectors written partitioned
    by centroid_id, probe scans only probed partitions (partition
    pruning, plan-asserted in tests).  Probing every bucket must equal
    exact brute force — same oracle — so a hash match proves the whole
    write→prune→probe path."""
    import os
    import tempfile

    e = _t(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    # stable path + mode("overwrite") inside write_ivf_index: repeated
    # sweeps REPLACE the index instead of accumulating tempdirs
    path = os.path.join(tempfile.gettempdir(), "spark_graft_idx", "ivf")
    sim.write_ivf_index(e, centroids, path)
    return sim.ivf_topk_from_index(
        spark, path, e.filter(F.col("vec_id") < 10), centroids, k=5, nprobe=8,
        id_col="vec_id",
    ).withColumn("rank", F.col("rank").cast("int"))


def sim_ivfpq_bcast_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ with BROADCAST distance tables (operators/pq.py
    tables='broadcast' — the large-query-batch path: every query's
    m x ksub ADC table travels as data broadcast-hash-joined onto the
    posexploded codes, so the PLAN is constant-size in nq) at full
    probe + corpus shortlist: must equal brute force bit-for-bit —
    the exact gate over the scale formulation.  The literal-tables
    twin is ``sim_ivfpq_full``; tests/test_pq.py proves the two forms
    row-identical at partial probe too."""
    from aws_cdk_pipelines_datalake_etl_spark.operators import pq

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return pq.ivf_pq_topk(
        e, queries, k=5, coarse_k=4, nprobe=4, shortlist=e.count(),
        tables="broadcast",
    ).withColumn("rank", F.col("rank").cast("int"))


def sim_ivfpq_index_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED IVF+PQ index end-to-end (operators/pq.py
    write_ivfpq_index + ivfpq_topk_from_index): residual-encoded codes
    written partitioned by centroid_id with the model artifacts as a
    JSON sidecar; the probe reloads the sidecar, scans only probed
    buckets (partition pruning, plan-asserted in tests/test_pq.py),
    broadcast-ADCs a corpus-wide shortlist and exact-reranks.  At full
    probe the result must equal brute force — same oracle — so a hash
    match proves train -> encode -> write -> reload -> prune -> probe
    through real files AND the JSON float round-trip of the model."""
    import os
    import tempfile

    from aws_cdk_pipelines_datalake_etl_spark.operators import pq

    e = _t(spark, sf_dir, "embeddings")
    # stable path, overwritten per run — no tempdir accumulation
    path = os.path.join(tempfile.gettempdir(), "spark_graft_idx", "ivfpq")
    pq.write_ivfpq_index(e, path, coarse_k=4, m=16, ksub=16, residual=True)
    queries = e.filter(F.col("vec_id") < 10)
    return pq.ivfpq_topk_from_index(
        spark, path, queries, e, k=5, nprobe=4, shortlist=e.count()
    ).withColumn("rank", F.col("rank").cast("int"))


def sim_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over a k-means||-TRAINED codebook
    (operators/similarity.py train_ivf_codebook): distributed seeded
    spherical k-means|| produces the centroids, then the nprobe=2
    probe runs the scale path.  Approximate — no SQL oracle (k-means
    is not SQL-expressible); the recall gate lives in
    tests/test_similarity.py and ``sim_ann_recall_trained``."""
    e = _t(spark, sf_dir, "embeddings")
    cb = sim.train_ivf_codebook(e, n_centroids=8, max_iter=3, seed=42)
    return sim.ivf_topk(
        e, e.filter(F.col("vec_id") < 10), cb, k=5, nprobe=2
    ).withColumn("rank", F.col("rank").cast("int"))


def sim_ann_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@5 of the trained-codebook IVF probe vs exact
    brute force — the number that makes the approximate index
    trustworthy.  One row: (n_queries, mean_recall, min_recall)."""
    e = _t(spark, sf_dir, "embeddings")
    cb = sim.train_ivf_codebook(e, n_centroids=8, max_iter=3, seed=42)
    return sim.ann_recall_summary(
        e, e.filter(F.col("vec_id") < 10), cb, k=5, nprobe=2
    )


def asof_view_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase event, the latest prior (or
    simultaneous) view event of the same user."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"), "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        purchases, views, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["event_id"],
    )
    return joined.select(
        "purchase_event_id", "user_id",
        F.col("event_id_asof").alias("view_event_id"),
    )


ASOF_ORACLE = """
SELECT p.event_id AS purchase_event_id,
       p.user_id,
       v.event_id AS view_event_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
"""


def asof_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cogroup surface: same as-of semantics as
    ``asof_view_to_purchase`` but via ``cogroup().applyInPandas`` with
    a per-user ``pandas.merge_asof`` (operators/asof.py,
    asof_join_cogrouped) — proven equal to both the union+window plan
    and the DuckDB ASOF JOIN oracle."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.asof import (
        asof_join_cogrouped,
    )

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"), "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join_cogrouped(
        purchases, views, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["event_id"],
    )
    return joined.select(
        "purchase_event_id", "user_id",
        F.col("event_id_asof").alias("view_event_id"),
    )


def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window aggregation over the events
    table replayed as a file stream (streaming/windowed.py
    tumbling_window_agg) — result provably equals the batch window
    agg."""
    import os

    return tumbling_window_agg(spark, os.path.join(sf_dir, "events.parquet"))


STREAM_TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL 1 hour, ts) AS window_start,
       event_type,
       count(*)             AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
"""


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` gap sessions (30-min gap) driven as
    a stream; window end is ``last event + gap`` by Spark's
    definition."""
    import os

    from aws_cdk_pipelines_datalake_etl_spark.streaming.windowed import (
        session_window_agg,
    )

    return session_window_agg(spark, os.path.join(sf_dir, "events.parquet"))


# Spark merges an event into a session while event_time < session_end
# (strict), so a gap of exactly 30 min starts a NEW session: >= in the
# oracle's boundary test.
STREAM_SESSION_WINDOW_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT *, sum(new_s) OVER (
    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT min(ts)                          AS session_start,
       max(ts) + INTERVAL 30 MINUTE    AS session_end,
       user_id,
       count(*)                         AS n_events,
       round(sum(value), 2)             AS total_value
FROM sess
GROUP BY user_id, sid
"""


def stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: ``applyInPandasWithState``
    gap-sessionization.  With a finite one-batch source the emitted
    set is every CLOSED session — all but each user's last."""
    import os

    from aws_cdk_pipelines_datalake_etl_spark.streaming.stateful import (
        sessionize_stream,
    )

    out = sessionize_stream(spark, os.path.join(sf_dir, "events.parquet"))
    return out.withColumn("total_value", pround("total_value", 2))


STREAM_SESSIONIZE_STATEFUL_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT *, sum(new_s) OVER (
    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
aggd AS (
  SELECT user_id, sid,
         min(ts)              AS session_start,
         max(ts)              AS session_end,
         count(*)             AS n_events,
         round(sum(value), 2) AS total_value
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events, total_value
FROM aggd
QUALIFY sid < max(sid) OVER (PARTITION BY user_id)
"""


def stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics end-to-end: 3-batch replay with late-row
    drops + append-mode emission (streaming/late_data.py)."""
    import os

    from aws_cdk_pipelines_datalake_etl_spark.streaming.late_data import (
        tumbling_window_late_drop,
    )

    return tumbling_window_late_drop(spark, os.path.join(sf_dir, "events.parquet"))


# Replays the 3-batch watermark arithmetic: batch1 = on-time rows
# before t1 (minus the delayed slice), watermark wm1 = max(batch1.ts)
# - 2 days; delayed rows whose window end <= wm1 are dropped; append
# emission stops at wm_final = max(ts) - 2 days.
STREAM_LATE_DROP_ORACLE = """
WITH b1 AS (
  SELECT * FROM events
  WHERE ts < TIMESTAMP '2024-01-15' AND event_id % 11 <> 0
),
b12 AS (
  SELECT * FROM events
  WHERE ts < TIMESTAMP '2024-01-25' AND event_id % 11 <> 0
),
b3 AS (
  SELECT * FROM events
  WHERE event_id % 11 = 0 OR ts >= TIMESTAMP '2024-01-25'
),
wm1 AS (SELECT max(ts) - INTERVAL 2 DAY AS w FROM b1),
wmf AS (SELECT max(ts) - INTERVAL 2 DAY AS w FROM events),
kept AS (
  SELECT * FROM b12
  UNION ALL
  SELECT b3.* FROM b3
  WHERE NOT (time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR
             <= (SELECT w FROM wm1))
)
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       event_type,
       count(*)             AS n_events,
       round(sum(value), 2) AS total_value
FROM kept
GROUP BY 1, 2
HAVING window_start + INTERVAL 1 HOUR <= (SELECT w FROM wmf)
"""


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column convention: wrap document text bytes as a blob +
    typed metadata (media_type, byte_len, sha256)."""
    d = attach_binary_column(
        _t(spark, sf_dir, "documents"), "text", "text/plain"
    )
    return d.select(
        "doc_id",
        F.col("blob_meta.media_type").alias("media_type"),
        F.col("blob_meta.byte_len").alias("byte_len"),
        F.col("blob_meta.sha").alias("sha"),
    )


MULTIMODAL_META_ORACLE = """
SELECT doc_id,
       'text/plain'                          AS media_type,
       CAST(octet_length(text::BLOB) AS BIGINT) AS byte_len,
       sha256(text)                          AS sha
FROM documents
"""


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio path end-to-end: per-doc square-wave WAVs are
    synthesized (functions/audiocodec.py synth_square_wave — rate,
    channels, amplitude, period all closed-form in doc_id), then
    decoded + feature-extracted by decode_audio_batch's DEFAULT PCM
    codec over mapInPandas.  The oracle replays the closed forms, so a
    hash match proves the encoder, the chunk-walking decoder, and
    every feature (floor-ms duration, integer-exact RMS, carried-sign
    zero crossings) simultaneously."""
    from pyspark.sql.types import BinaryType

    from aws_cdk_pipelines_datalake_etl_spark.functions.audiocodec import (
        synth_square_wave,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        decode_audio_batch,
    )

    @F.pandas_udf(BinaryType())
    def synth(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_square_wave(int(i))[0])

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        # split-ceiling dial: a single-file parquet would cap the
        # per-clip Python codec at <=2 tasks (the bpe_encode_ids /
        # progressive-JPEG lesson)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("blob", synth("doc_id"))
    )
    feats = decode_audio_batch(d)
    return feats.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        "n_frames",
        "duration_ms",
        pround(F.col("rms"), 4).alias("rms"),
        "peak",
        "zero_crossings",
    )


# Closed forms of the synth parameters: rate 8000+(id%3)*4000,
# channels 1+id%2, amplitude 1000+(id%20)*500, half-period 1+id%5,
# frames 800+(id%7)*160.  Square wave => RMS == amplitude exactly,
# peak == amplitude, one sign flip per half-period boundary.
MULTIMODAL_AUDIO_ORACLE = """
SELECT doc_id,
       CAST(8000 + (doc_id % 3) * 4000 AS INT)          AS sample_rate,
       CAST(1 + doc_id % 2 AS INT)                      AS n_channels,
       CAST(800 + (doc_id % 7) * 160 AS BIGINT)         AS n_frames,
       CAST(((800 + (doc_id % 7) * 160) * 1000)
            // (8000 + (doc_id % 3) * 4000) AS BIGINT)  AS duration_ms,
       round(CAST(1000 + (doc_id % 20) * 500 AS DOUBLE), 4) AS rms,
       CAST(1000 + (doc_id % 20) * 500 AS INT)          AS peak,
       CAST((800 + (doc_id % 7) * 160 - 1)
            // (1 + doc_id % 5) AS BIGINT)              AS zero_crossings
FROM documents
"""


def multimodal_audio_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED audio end-to-end (round-7 de-stub of the 4-bit
    codec seam): per-doc constant-amplitude signals encoded as REAL
    IMA ADPCM (format 0x0011) WAVs — multi-block streams with
    predictor headers, nibble packing, a fact chunk — then decoded +
    feature-extracted by the DEFAULT codec.  The exactness device
    (the audio analogue of the JPEG per-block-constant trick): a
    constant signal encodes to all-zero nibbles whose quantized diff
    is ``step(0) >> 3 == 0``, so the lossy codec reproduces the
    signal EXACTLY and every feature has a closed form the oracle
    replays — while the bytes still exercise the real block
    structure.  General lossy tracking is gated in pytest
    (tests/test_multimodal.py)."""
    from pyspark.sql.types import BinaryType

    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        decode_audio_batch,
    )

    @F.pandas_udf(BinaryType())
    def synth(ids: pd.Series) -> pd.Series:
        import numpy as np

        from aws_cdk_pipelines_datalake_etl_spark.functions.audiocodec import (
            encode_adpcm_wav,
        )

        def mk(i: int) -> bytes:
            amp = 500 + (i % 40) * 700
            rate = 8000 + (i % 4) * 2000
            frames = 600 + (i % 9) * 128
            return encode_adpcm_wav(
                np.full(frames, amp, dtype=np.int16), rate
            )

        return ids.map(lambda i: mk(int(i)))

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        # split-ceiling dial: a single-file parquet would cap the
        # per-clip Python codec at <=2 tasks (the bpe_encode_ids /
        # progressive-JPEG lesson)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("blob", synth("doc_id"))
    )
    feats = decode_audio_batch(d)
    return feats.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        "n_frames",
        "duration_ms",
        pround(F.col("rms"), 4).alias("rms"),
        "peak",
        "zero_crossings",
    )


MULTIMODAL_ADPCM_ORACLE = """
SELECT doc_id,
       CAST(8000 + (doc_id % 4) * 2000 AS INT)          AS sample_rate,
       CAST(1 AS INT)                                   AS n_channels,
       CAST(600 + (doc_id % 9) * 128 AS BIGINT)         AS n_frames,
       CAST(((600 + (doc_id % 9) * 128) * 1000)
            // (8000 + (doc_id % 4) * 2000) AS BIGINT)  AS duration_ms,
       round(CAST(500 + (doc_id % 40) * 700 AS DOUBLE), 4) AS rms,
       CAST(500 + (doc_id % 40) * 700 AS INT)           AS peak,
       CAST(0 AS BIGINT)                                AS zero_crossings
FROM documents
"""


def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real video path end-to-end: per-doc concatenated-P6 streams
    (functions/imagecodec.py synth_ppm_video) are frame-sampled every
    2nd frame by sample_video_frames' DEFAULT header-walking splitter
    — the 1→N fan-out mapInPandas shape.  Returned sha256 of each
    sampled frame's exact bytes is rebuilt by the oracle (frames are
    printable-ASCII constant fill), so a hash match proves boundary
    recovery byte-for-byte."""
    from pyspark.sql.types import BinaryType

    from aws_cdk_pipelines_datalake_etl_spark.functions.imagecodec import (
        synth_ppm_video,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        sample_video_frames,
    )

    @F.pandas_udf(BinaryType())
    def synth(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_ppm_video(int(i))[0])

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        # split-ceiling dial: a single-file parquet would cap the
        # per-blob Python codec at <=2 tasks (the bpe_encode_ids /
        # progressive-JPEG lesson)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("blob", synth("doc_id"))
    )
    frames = sample_video_frames(d, every_nth=2)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.length("frame").cast("bigint").alias("byte_len"),
        F.sha2("frame", 256).alias("sha"),
    )


# Sampled frame j is original frame 2*j (j = 0..(n_frames-1)//2);
# each frame is the 11-byte P6 header + 48 constant bytes
# 32 + (doc_id*7 + (2*j)*13) % 96 (printable ASCII, so chr/repeat
# rebuilds the exact byte string DuckDB-side).
MULTIMODAL_VIDEO_ORACLE = """
WITH base AS (
  SELECT doc_id, 3 + doc_id % 4 AS nf FROM documents
), j AS (
  SELECT doc_id, unnest(generate_series(0, (nf - 1) // 2)) AS j FROM base
)
SELECT doc_id,
       CAST(j AS INT)      AS frame_idx,
       CAST(59 AS BIGINT)  AS byte_len,
       sha256('P6' || chr(10) || '4 4' || chr(10) || '255' || chr(10)
              || repeat(chr(CAST(32 + (doc_id * 7 + (2 * j) * 13) % 96 AS INT)),
                        48)) AS sha
FROM j
"""


def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image resize path end-to-end: per-doc gradient P6 images
    (w=8+doc%5 x h=6+doc%4, every channel 32+(doc*3+x*7+y*11)%96) are
    nearest-neighbor thumbnailed to 5x3 by resize_image_batch's
    DEFAULT codec, then the RESIZED bytes are decoded and
    feature-extracted — so the hash probes encode -> resize(mapping:
    src=(t*dim)//target, edge-clamped) -> re-encode -> decode through
    actual bytes.  The oracle replays the mean luma from the same
    nearest-neighbor coordinate map in SQL (channels equal => luma ==
    value; denominator 15 admits no 4-dp rounding ties)."""
    from pyspark.sql.types import BinaryType

    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        decode_image_batch,
        resize_image_batch,
    )

    @F.pandas_udf(BinaryType())
    def synth(ids: pd.Series) -> pd.Series:
        import numpy as np

        from aws_cdk_pipelines_datalake_etl_spark.functions.imagecodec import (
            encode_ppm,
        )

        def mk(i: int) -> bytes:
            w, h = 8 + i % 5, 6 + i % 4
            xs, ys = np.arange(w), np.arange(h)
            v = (32 + (i * 3 + xs[None, :] * 7 + ys[:, None] * 11) % 96).astype(
                np.uint8
            )
            return encode_ppm(np.repeat(v[:, :, None], 3, axis=2))

        return ids.map(lambda i: mk(int(i)))

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        # split-ceiling dial: a single-file parquet would cap the
        # per-blob Python codec at <=2 tasks (the bpe_encode_ids /
        # progressive-JPEG lesson)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("blob", synth("doc_id"))
    )
    resized = resize_image_batch(d, width=5, height=3)
    return decode_image_batch(resized)


MULTIMODAL_RESIZE_ORACLE = """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h FROM documents
), coords AS (
  SELECT doc_id,
         least((xp * w) // 5, w - 1) AS sx,
         least((yp * h) // 3, h - 1) AS sy
  FROM dims,
       (SELECT unnest(generate_series(0, 4)) AS xp),
       (SELECT unnest(generate_series(0, 2)) AS yp)
), vals AS (
  SELECT doc_id,
         sum(32 + (doc_id * 3 + sx * 7 + sy * 11) % 96) AS total
  FROM coords GROUP BY doc_id
)
SELECT doc_id,
       CAST(5 AS INT) AS width,
       CAST(3 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       printf('%.4f', CAST(total AS DOUBLE) / 15) AS mean_luma
FROM vals
"""


def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG decode end-to-end (round-5 de-stub of the compressed-
    format seam): per-doc gradient RGB images (w in {8,10,16} by
    doc%3, h=5, every channel 32+(doc*5+x*3+y*7)%96) are encoded as
    REAL non-interlaced 8-bit PNGs — stdlib zlib DEFLATE, one scanline
    per filter type 0-4 (h=5 rows, row y filtered y%5, so every PNG
    filter is exercised per image) — then decoded back by
    ``decode_image_batch``'s DEFAULT codec (functions/imagecodec.py:
    chunk walk + CRC check + inflate + unfilter).  Channels are equal
    so luma == pixel value; the oracle replays the mean from the
    closed form.  Dims are chosen so w*h has only 2/5 factors — the
    mean is an exact <=4-dp decimal, so the %.4f formatting admits no
    rounding ties."""
    from pyspark.sql.types import BinaryType

    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        decode_image_batch,
    )

    @F.pandas_udf(BinaryType())
    def synth(ids: pd.Series) -> pd.Series:
        import numpy as np

        from aws_cdk_pipelines_datalake_etl_spark.functions.imagecodec import (
            encode_png,
        )

        def mk(i: int) -> bytes:
            w = (8, 10, 16)[i % 3]
            xs, ys = np.arange(w), np.arange(5)
            v = (32 + (i * 5 + xs[None, :] * 3 + ys[:, None] * 7) % 96).astype(
                np.uint8
            )
            return encode_png(np.repeat(v[:, :, None], 3, axis=2))

        return ids.map(lambda i: mk(int(i)))

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        # split-ceiling dial: a single-file parquet would cap the
        # per-blob Python codec at <=2 tasks (the bpe_encode_ids /
        # progressive-JPEG lesson)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("blob", synth("doc_id"))
    )
    return decode_image_batch(d)


MULTIMODAL_PNG_ORACLE = """
WITH dims AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 10 ELSE 16 END AS w
  FROM documents
), vals AS (
  SELECT doc_id, w,
         sum(32 + (doc_id * 5 + x * 3 + y * 7) % 96) AS total
  FROM dims,
       (SELECT unnest(generate_series(0, 15)) AS x),
       (SELECT unnest(generate_series(0, 4)) AS y)
  WHERE x < w
  GROUP BY doc_id, w
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(5 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       printf('%.4f', CAST(total AS DOUBLE) / (w * 5)) AS mean_luma
FROM vals
"""


def multimodal_decode_png_adam7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adam7-interlaced PNG decode end-to-end (round-7 de-stub of the
    interlace seam): the same gradient images as
    ``multimodal_decode_png``, encoded with ``interlace=True`` — seven
    independently-filtered sub-images on the Adam7 pass grid (h=5
    exercises empty and short passes) — and decoded by the DEFAULT
    codec.  PNG is lossless, so decoded pixels are identical to the
    non-interlaced entry's; sharing MULTIMODAL_PNG_ORACLE is the
    invariance proof."""
    from pyspark.sql.types import BinaryType

    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        decode_image_batch,
    )

    @F.pandas_udf(BinaryType())
    def synth(ids: pd.Series) -> pd.Series:
        import numpy as np

        from aws_cdk_pipelines_datalake_etl_spark.functions.imagecodec import (
            encode_png,
        )

        def mk(i: int) -> bytes:
            w = (8, 10, 16)[i % 3]
            xs, ys = np.arange(w), np.arange(5)
            v = (32 + (i * 5 + xs[None, :] * 3 + ys[:, None] * 7) % 96).astype(
                np.uint8
            )
            return encode_png(
                np.repeat(v[:, :, None], 3, axis=2), interlace=True
            )

        return ids.map(lambda i: mk(int(i)))

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        # split-ceiling dial: a single-file parquet would cap the
        # per-blob Python codec at <=2 tasks (the bpe_encode_ids /
        # progressive-JPEG lesson)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("blob", synth("doc_id"))
    )
    return decode_image_batch(d)


def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real baseline-JPEG decode end-to-end (round-6 de-stub of the
    last compressed-image seam, VERDICT r5 #7): per-doc 16x16 gray-RGB
    images whose four 8x8 blocks each hold a constant
    128 + 2*((doc*7 + bx*5 + by*3) % 48) - 48 are encoded as REAL
    JPEGs (functions/jpegcodec.py: DCT -> Annex-K quantization ->
    zigzag -> Huffman with DC prediction -> marker stream) and decoded
    back by ``decode_image_batch``'s DEFAULT codec.  Per-block-constant
    even-offset values make the lossy codec EXACT (only the DC
    coefficient is nonzero and the Annex-K DC step 16 divides
    8*(v-128)), so the oracle replays the mean in closed form — while
    the bytes still exercise the full entropy coder (4 blocks, nonzero
    DC diffs, EOBs).  Block sums are integers, mean = sum/4 -> %.4f
    admits no rounding ties."""
    from pyspark.sql.types import BinaryType

    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        decode_image_batch,
    )

    @F.pandas_udf(BinaryType())
    def synth(ids: pd.Series) -> pd.Series:
        import numpy as np

        from aws_cdk_pipelines_datalake_etl_spark.functions.jpegcodec import (
            encode_jpeg,
        )

        def mk(i: int) -> bytes:
            bxs, bys = np.arange(2), np.arange(2)
            vals = (
                128
                + 2 * ((i * 7 + bxs[None, :] * 5 + bys[:, None] * 3) % 48)
                - 48
            )
            img = np.kron(vals, np.ones((8, 8), dtype=np.int64)).astype(
                np.uint8
            )
            return encode_jpeg(np.repeat(img[:, :, None], 3, axis=2))

        return ids.map(lambda i: mk(int(i)))

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        # split-ceiling dial: a single-file parquet would cap the
        # per-blob Python codec at <=2 tasks (the bpe_encode_ids /
        # progressive-JPEG lesson)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("blob", synth("doc_id"))
    )
    return decode_image_batch(d)


MULTIMODAL_JPEG_ORACLE = """
WITH vals AS (
  SELECT doc_id,
         sum(128 + 2 * ((doc_id * 7 + bx * 5 + byy * 3) % 48) - 48) AS total
  FROM documents,
       (SELECT unnest(generate_series(0, 1)) AS bx),
       (SELECT unnest(generate_series(0, 1)) AS byy)
  GROUP BY doc_id
)
SELECT doc_id,
       CAST(16 AS INT) AS width,
       CAST(16 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       printf('%.4f', CAST(total AS DOUBLE) / 4) AS mean_luma
FROM vals
"""


def multimodal_decode_jpeg_progressive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PROGRESSIVE (SOF2) JPEG decode end-to-end (round-7 de-stub of
    the progressive seam): the same per-block-constant images as
    ``multimodal_decode_jpeg``, but encoded with
    ``encode_jpeg_progressive``'s default scan script — shifted DC
    first scan, split+shifted AC bands, AC and DC successive-
    approximation refinements, multi-block EOB runs — then decoded by
    the DEFAULT codec's magic sniff.  Progressive re-orders the same
    quantized coefficients, so the decoded pixels (and this entry's
    oracle) are identical to the baseline entry's — sharing
    MULTIMODAL_JPEG_ORACLE is the invariance proof, the
    dedup_semantic_skewguard precedent."""
    from pyspark.sql.types import BinaryType

    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        decode_image_batch,
    )

    @F.pandas_udf(BinaryType())
    def synth(ids: pd.Series) -> pd.Series:
        import numpy as np

        from aws_cdk_pipelines_datalake_etl_spark.functions.jpegcodec import (
            encode_jpeg_progressive,
        )

        def mk(i: int) -> bytes:
            bxs, bys = np.arange(2), np.arange(2)
            vals = (
                128
                + 2 * ((i * 7 + bxs[None, :] * 5 + bys[:, None] * 3) % 48)
                - 48
            )
            img = np.kron(vals, np.ones((8, 8), dtype=np.int64)).astype(
                np.uint8
            )
            return encode_jpeg_progressive(
                np.repeat(img[:, :, None], 3, axis=2)
            )

        return ids.map(lambda i: mk(int(i)))

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        # split-ceiling dial (the bpe_encode_ids / text_langid_nb
        # lesson): the sf1 documents parquet is a single file (<=2
        # scan tasks), which would run the per-blob Python codec
        # 2-wide on 32 cores — repartition BEFORE the synth/decode
        # UDFs so the probe measures the codec, not the split count
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("blob", synth("doc_id"))
    )
    return decode_image_batch(d)


def multimodal_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob → embedding bridge with the DEFAULT extractor: the 256-bin
    byte histogram (raw counts, exact in float32) of each document's
    text bytes, reduced JVM-side (fold expressions, no second UDF) to
    its L2 norm and cosine against a fixed ramp query vector
    q[b] = b+1.  All sums are exact integers in double, so both
    engines agree bit-for-bit before the 6-dp rounding."""
    from aws_cdk_pipelines_datalake_etl_spark.functions import vector as vec
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        extract_embedding_batch,
    )

    d = attach_binary_column(
        _t(spark, sf_dir, "documents").withColumn(
            # byte==codepoint insurance: the oracle reads codepoints, the
            # extractor reads bytes — strip non-ASCII so both agree even
            # if a future testdata regeneration introduces any
            "text",
            F.regexp_replace("text", r"[^\x00-\x7F]", ""),
        ),
        "text",
        "text/plain",
    )
    emb = extract_embedding_batch(d).withColumn(
        "qvec", F.array(*[F.lit(float(b + 1)) for b in range(256)])
    )
    return emb.select(
        "doc_id",
        pround(vec.norm("embedding"), 6).alias("l2_norm"),
        pround(vec.cosine("embedding", "qvec"), 6).alias("cos_ramp"),
    )


def multimodal_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The advertised multimodal → similarity bridge composed end to
    end: blob → DEFAULT byte-histogram embedding → exact cosine top-5
    per query doc (doc_id < 10) via broadcast brute force.  The oracle
    recomputes the same neighbors from a SPARSE char-frequency join
    (cosine needs only co-occurring codes), so a hash match proves the
    extractor, the Arrow bridge, and the top-k ranking together."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        extract_embedding_batch,
    )

    d = attach_binary_column(
        _t(spark, sf_dir, "documents").withColumn(
            "text", F.regexp_replace("text", r"[^\x00-\x7F]", "")
        ),
        "text",
        "text/plain",
    )
    emb = extract_embedding_batch(d)
    return sim.brute_force_topk(
        emb, emb.filter(F.col("doc_id") < 10), k=5, id_col="doc_id"
    ).withColumn("rank", F.col("rank").cast("int"))


MULTIMODAL_EMBED_TOPK_ORACLE = """
WITH ascii_docs AS (
  SELECT doc_id, regexp_replace(text, '[^\\x00-\\x7F]', '', 'g') AS text
  FROM documents
), pos AS (
  SELECT doc_id, unicode(substring(text, i, 1)) AS code
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, length(text))) AS i
        FROM ascii_docs)
), hist AS (
  SELECT doc_id, code, CAST(count(*) AS DOUBLE) AS c
  FROM pos GROUP BY 1, 2
), norms AS (
  SELECT doc_id, sqrt(sum(c * c)) AS n FROM hist GROUP BY doc_id
), s AS (
  SELECT q.doc_id AS query_id, v.doc_id AS neighbor_id,
         round(sum(q.c * v.c) / (nq.n * nv.n), 6) AS cosine
  FROM hist q
  JOIN hist v  ON q.code = v.code AND v.doc_id != q.doc_id
  JOIN norms nq ON nq.doc_id = q.doc_id
  JOIN norms nv ON nv.doc_id = v.doc_id
  WHERE q.doc_id < 10
  GROUP BY 1, 2, nq.n, nv.n
), r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
  FROM s
)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
"""


# Both sides strip non-ASCII first, so per-char unicode() == byte
# value and the histogram is a char-frequency table.
MULTIMODAL_EMBED_ORACLE = """
WITH ascii_docs AS (
  SELECT doc_id, regexp_replace(text, '[^\\x00-\\x7F]', '', 'g') AS text
  FROM documents
), pos AS (
  SELECT doc_id, unicode(substring(text, i, 1)) AS code
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, length(text))) AS i
        FROM ascii_docs)
), hist AS (
  SELECT doc_id, code, CAST(count(*) AS DOUBLE) AS c
  FROM pos GROUP BY 1, 2
), agg AS (
  SELECT doc_id,
         sum(c * (code + 1)) AS dot,
         sqrt(sum(c * c))    AS hn
  FROM hist GROUP BY doc_id
)
SELECT doc_id,
       round(hn, 6) AS l2_norm,
       round(dot / (hn * (SELECT sqrt(sum(CAST((v + 1) * (v + 1) AS DOUBLE)))
                          FROM (SELECT unnest(generate_series(0, 255)) AS v))),
             6) AS cos_ramp
FROM agg
"""


# --------------------------------------------------------------------------
# Deep multi-join analytics (TPC-H Q3/Q5/Q8 shapes) — the join-order /
# broadcast / shuffle-minimization surface the 100 TB posture lives on
# --------------------------------------------------------------------------


def q31_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (full shape): 3-way fact join with per-table filters
    pushed to each scan, agg on (orderkey, orderdate, priority),
    top-20.  No manual broadcast: the segment-filtered customer side
    scales with SF, so join strategy is left to Catalyst/AQE (which
    broadcasts it while it fits and sort-merges beyond)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1996-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(20)
    )


Q31_ORACLE = """
SELECT l_orderkey,
       o_orderdate,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 20
"""


def q32_regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join (lineitem-orders-customer-
    supplier-nation-region) with the customer-and-supplier-same-nation
    constraint.  nation/region are fixed-cardinality (25/5 rows at ANY
    scale factor) so they are explicitly broadcast; the SF-scaled
    sides go through Catalyst's reordering + AQE."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "AMERICA"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


Q32_ORACLE = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'AMERICA')
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


def q33_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: per-order-year market share of one supplier
    nation within one customer region — conditional aggregation (the
    sum(CASE)/sum ratio) over a 6-table join with two roles for
    nation (customer side filters region, supplier side labels)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n_cust = _t(spark, sf_dir, "nation").alias("n1")
    n_supp = _t(spark, sf_dir, "nation").alias("n2")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(r), F.col("n1.n_regionkey") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_supp), s.s_nationkey == F.col("n2.n_nationkey"))
    )
    return (
        joined.select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("volume"),
            F.col("n2.n_name").alias("supp_nation"),
        )
        .groupBy("o_year")
        .agg(
            pround(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
    )


Q33_ORACLE = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'AMERICA'
GROUP BY 1
"""


def q34_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-navigation surface: lag / lead / ntile / first_value
    over each customer's order history (one shuffle by o_custkey
    shared by all four functions — single Window exchange in the
    plan)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        pround("o_totalprice", 2).alias("total"),
        pround(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias(
            "delta_prev"
        ),
        pround(F.lead("o_totalprice").over(w), 2).alias("next_total"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        pround(F.first("o_totalprice").over(w), 2).alias("first_total"),
    )


Q34_ORACLE = """
SELECT o_custkey,
       o_orderkey,
       round(o_totalprice, 2) AS total,
       round(o_totalprice - lag(o_totalprice) OVER w, 2) AS delta_prev,
       round(lead(o_totalprice) OVER w, 2) AS next_total,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       round(first_value(o_totalprice) OVER w, 2) AS first_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# --------------------------------------------------------------------------
# Scale-posture operators: deterministic sampling, skew-safe agg,
# approximate aggregates (Tier E)
# --------------------------------------------------------------------------


def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 4/16 corpus sample by md5-bucket of doc_id
    (operators/sampling.py) — row-local, shuffle-free, identical row
    set on any partitioning/engine — then per-language stats."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import hash_sample

    d = hash_sample(_t(spark, sf_dir, "documents"), "doc_id", 4)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


def _sample_hash_oracle() -> str:
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        hash_sample_predicate_sql,
    )

    return f"""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE {hash_sample_predicate_sql("doc_id", 4)}
GROUP BY lang
"""


def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation on a low-cardinality (hot) key
    (operators/skew.py): bit-identical result to the plain GROUP BY —
    the oracle IS the plain GROUP BY — with the hot key's rows spread
    over 16 reducers in stage 1."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.skew import salted_sum_count

    ev = _t(spark, sf_dir, "events")
    return salted_sum_count(ev, ["event_type"], "value", "event_id", n_salts=16)


AGG_SALTED_SKEW_ORACLE = """
SELECT event_type,
       round(sum(value), 2) AS total,
       count(*) AS n_rows,
       round(sum(value) / count(*), 6) AS avg_value
FROM events
GROUP BY event_type
"""


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count (``approx_count_distinct``,
    rsd=1%) next to the exact count.  At 100 TB the exact
    count-distinct shuffles every (key, user) pair; the HLL sketch is
    fixed-size per key and merges map-side.  No oracle: sketch
    estimates are implementation-specific (DuckDB's differs); the
    unit test bounds relative error against the exact column."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate percentiles
    (``percentile_approx``, accuracy 10000) next to the exact
    percentile.  The sketch is mergeable (map-side partials; no full
    sort / no per-key value shuffle like the exact path).  No oracle
    (sketch-specific); unit test bounds the error."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        pround(
            F.percentile_approx("o_totalprice", 0.5, 10000), 2
        ).alias("approx_median"),
        pround(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("exact_median"),
    )


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (streaming/joins.py):
    purchases attributed to a view by the same user within 1 hour.
    Finite source -> equals the batch interval join (the oracle)."""
    import os

    from aws_cdk_pipelines_datalake_etl_spark.streaming.joins import (
        stream_interval_join,
    )

    out = stream_interval_join(spark, os.path.join(sf_dir, "events.parquet"))
    return out.withColumn("right_value", pround("right_value", 2))


STREAM_STREAM_JOIN_ORACLE = """
SELECT v.user_id        AS user_id,
       v.event_id       AS left_id,
       p.event_id       AS right_id,
       v.ts             AS left_ts,
       p.ts             AS right_ts,
       round(p.value, 2) AS right_value
FROM (SELECT * FROM events WHERE event_type = 'view') v
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact-to-dim join (operators/skew.py salted_join):
    lineitem salted 16 ways, supplier replicated 16x — identical row
    multiset to the plain join (the oracle), hot supplier keys spread
    across reducers."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").withColumnRenamed("s_suppkey", "l_suppkey")
    joined = salted_join(li, s, key="l_suppkey", id_col="l_orderkey", n_salts=16)
    return joined.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("n_lines"),
        pround(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


JOIN_SALTED_SKEW_ORACLE = """
SELECT s_name,
       count(*) AS n_lines,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
"""


def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level last-writer-wins (operators/cdc.py): each user's
    latest event = their current state — the MERGE/upsert collapse,
    one shuffle."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.cdc import latest_snapshot

    ev = _t(spark, sf_dir, "events")
    return latest_snapshot(
        ev, ["user_id"], version_col="ts", tiebreak_col="event_id"
    ).select("user_id", "ts", "event_type", "value")


CDC_LATEST_STATE_ORACLE = """
SELECT user_id, ts, event_type, value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) = 1
"""


def cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history (operators/cdc.py scd2_history): each user's
    event-type change stream becomes validity-ranged rows with no-op
    runs collapsed — one hash exchange, ranges from lead(), current
    row flagged.  The standard dimension-history materialization."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.cdc import scd2_history

    ev = _t(spark, sf_dir, "events")
    return scd2_history(
        ev,
        key_cols=["user_id"],
        version_col="ts",
        tiebreak_col="event_id",
        attr_cols=["event_type"],
    )


CDC_SCD2_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
), runs AS (
  SELECT user_id, event_type, ts, event_id
  FROM ordered WHERE prev IS NULL OR event_type != prev
)
SELECT user_id, event_type,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM runs
"""


def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE (streaming/cdc_upsert.py): the events table is
    split into 4 files and driven as 4 micro-batches through the
    bucket-partitioned foreachBatch merge — each batch reads only its
    touched state buckets and dynamic-overwrites them; latest-per-key
    is resolved on (ts, event_id), so batch arrival order cannot
    change the result.  Final state must equal the one-shot batch
    collapse (same oracle as cdc_latest_state)."""
    import os
    import tempfile

    from aws_cdk_pipelines_datalake_etl_spark.streaming.cdc_upsert import (
        stream_cdc_upsert as run_upsert,
    )

    work = tempfile.mkdtemp(prefix="cdc_upsert_q_")
    changes_dir = os.path.join(work, "changes")
    _t(spark, sf_dir, "events").repartition(4).write.parquet(changes_dir)
    state = run_upsert(
        spark,
        changes_dir,
        os.path.join(work, "state"),
        os.path.join(work, "ckpt"),
        key_cols=["user_id"],
        version_col="ts",
        tiebreak_col="event_id",
        n_buckets=16,
        ts_cols=("ts",),
        max_files_per_trigger=1,
    )
    return state.select("user_id", "ts", "event_type", "value")


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join over bucketed tables (plans/bucketing.py):
    customer and orders both hash-clustered into 8 buckets on custkey
    -> the join and the following per-custkey aggregation run with no
    exchange on either side.  Result equals the plain join (the
    oracle); the layout only changes the physical plan."""
    import re

    from aws_cdk_pipelines_datalake_etl_spark.plans.bucketing import (
        colocated_join,
        write_bucketed,
    )

    tag = re.sub(r"[^0-9a-zA-Z]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    c_tbl, o_tbl = f"bkt_customer_{tag}", f"bkt_orders_{tag}"
    write_bucketed(
        _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "custkey"),
        c_tbl,
        ["custkey"],
        8,
        sort_cols=["custkey"],
    )
    write_bucketed(
        _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "custkey"),
        o_tbl,
        ["custkey"],
        8,
        sort_cols=["custkey"],
    )
    return (
        colocated_join(spark, c_tbl, o_tbl, on=["custkey"])
        .groupBy("custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            pround(F.sum("o_totalprice"), 2).alias("sum_spend"),
        )
    )


BUCKETED_JOIN_ORACLE = """
SELECT c_custkey AS custkey,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_spend
FROM customer
JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey
"""


def q35_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per-user trailing-7-day value sum at
    every event.  The frame is defined on event-time microseconds
    (``rangeBetween`` over ``unix_micros``), not row counts — ties and
    irregular spacing handled identically on any engine."""
    ev = _t(spark, sf_dir, "events")
    seven_days_us = 7 * 86400 * 1_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-seven_days_us, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        pround(F.sum("value").over(w), 4).alias("trailing_7d_value"),
    )


Q35_ORACLE = """
SELECT event_id,
       user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                              RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW),
             4) AS trailing_7d_value
FROM events
"""


def text_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality filter (operators/text.py quality_gate): docs
    passing token-count and type-token-ratio thresholds; decisions
    made on rounded metrics so the kept set is engine-exact."""
    return tx.quality_gate(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "type_token_ratio"
    )


TEXT_QUALITY_GATE_ORACLE = """
WITH d AS (
  SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS type_token_ratio
  FROM d
)
SELECT doc_id, n_tokens, type_token_ratio
FROM m
WHERE n_tokens >= 30
  AND type_token_ratio >= 0.35
  AND type_token_ratio <= 0.95
"""


def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows as a stream: 1-hour
    windows every 15 minutes — each event contributes to 4 overlapping
    windows.  The oracle replays the window expansion with UNNEST."""
    import os

    return tumbling_window_agg(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        window_size="1 hour",
        slide="15 minutes",
    )


STREAM_SLIDING_ORACLE = """
SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE AS window_start,
       event_type,
       count(*)             AS n_events,
       round(sum(value), 2) AS total_value
FROM events, UNNEST([0, 1, 2, 3]) AS t(k)
GROUP BY 1, 2
"""


def q36_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by ship
    year — a 5-way join where the same dimension (nation) joins twice
    under different roles.  Both nation sides are filtered to the two
    nations of interest *before* the join (pushdown) and broadcast;
    the residual pair predicate runs post-join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n1 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


Q36_ORACLE = """
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
)
GROUP BY supp_nation, cust_nation, l_year
"""


def q37_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer in one
    quarter — fact-fact-dim join, agg on customer grain, top-20 with
    a total order (tiebreak on c_custkey)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


Q37_ORACLE = """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q38_priority_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional CASE-sum aggregation — high- vs
    low-priority line counts per ship year.  The CASE folds into the
    hash aggregate's partial step (map-side combine), so the shuffle
    carries one row per year, not per line."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
    )


Q38_ORACLE = """
SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


def q39_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: single-row CASE-ratio — share of one month's
    revenue from PROMO parts.  Both sums fold into one aggregate pass
    over the month-filtered join (the shipdate range is pushed to the
    lineitem scan)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            pround(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type").like("PROMO%"), disc).otherwise(0.0))
                / F.sum(disc),
                6,
            ).alias("promo_revenue")
        )
    )


Q39_ORACLE = """
SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


def q40_avg_qty_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar-aggregate subquery — revenue
    from small-quantity lines of one brand, where "small" is relative
    to that part's own average.  Decorrelated the classic way: compute
    the per-part threshold as an aggregate, join it back (the
    brand-filtered part list is broadcast on both passes)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12")
    brand_lines = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    thresh = brand_lines.groupBy("p_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_thresh")
    )
    return (
        brand_lines.join(F.broadcast(thresh), "p_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(pround(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


Q40_ORACLE = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#12'
  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                    FROM lineitem l2
                    WHERE l2.l_partkey = part.p_partkey)
"""


def q41_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery over a HAVING aggregate — orders
    whose total quantity exceeds a threshold, joined back to customer
    detail.

    r12 (guide §2.4): the textbook form scans lineitem TWICE (the
    HAVING aggregate, then the detail re-aggregation behind a semi
    join) — but the re-aggregated ``sum(l_quantity)`` per order IS the
    HAVING sum (o_orderkey is unique in orders, c_custkey in customer,
    so the joins never fan out detail rows).  Aggregate lineitem once,
    filter, join the per-order total through.  Quantities are whole
    numbers in double — the sum is exact below 2^53, so the value is
    bit-identical to the two-pass form (driver hash unchanged)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("oq"))
        .filter(F.col("oq") > 300)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            pround(F.col("oq"), 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


Q41_ORACLE = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(sum(l_quantity), 2) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q42_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    bands evaluated across a join.  The OR-of-ANDs cannot be pushed to
    either scan whole, but each side's derivable bounds (p_size <= 50,
    l_quantity <= 40) can — Catalyst extracts them; the residual runs
    post-join in codegen."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.filter(band).agg(
        pround(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


Q42_ORACLE = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 40)
"""


def q43_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global scalar-aggregate threshold + NOT EXISTS
    anti join + final rollup — wealthy customers who never placed an
    urgent order, counted per nation.  The scalar avg is a one-row
    broadcast; the NOT EXISTS is a left-anti join against the
    urgent-order custkey set."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    urgent_cust = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent_cust, c.c_custkey == urgent_cust.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            pround(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


Q43_ORACLE = """
SELECT n_name,
       count(*)                 AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY n_name
"""


def q44_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT) per attribute triple with a
    NOT IN exclusion list.  The NOT IN over non-null s_suppkey is an
    anti join (broadcast — the exclusion list is tiny); the distinct
    count is Spark's two-phase partial-distinct aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#11") & (F.col("p_type") != "MEDIUM")
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


Q44_ORACLE = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM part
JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#11'
  AND p_type  <> 'MEDIUM'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user
    (operators/timeseries.py ewma_halflife): power-of-two lag weights
    over exact cents make every row's EWMA an exact integer quotient —
    the portable formulation of a statistic that float recursion can
    never hash-match across engines.  One shared window exchange."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.timeseries import (
        ewma_halflife,
    )

    return ewma_halflife(_t(spark, sf_dir, "events"))


def _ts_ewma_oracle(depth: int = 16) -> str:
    num = " + ".join(
        f"coalesce(lag(cents, {d}) OVER w, 0) * {1 << (depth - 1 - d)}"
        if d
        else f"cents * {1 << (depth - 1 - d)}"
        for d in range(depth)
    )
    den = " + ".join(
        f"CASE WHEN lag(cents, {d}) OVER w IS NOT NULL THEN {1 << (depth - 1 - d)} ELSE 0 END"
        if d
        else f"{1 << (depth - 1 - d)}"
        for d in range(depth)
    )
    return portable_round_sql(f"""
WITH c AS (
  SELECT event_id, user_id, ts,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
)
SELECT event_id, user_id,
       round(({num}) * 1.0 / ({den}) / 100.0, 6) AS ewma_value
FROM c
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")


def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style regularization (operators/timeseries.py):
    per-user daily rollup on a dense date spine, gaps forward-filled.
    Day rendered as a string so both engines hash identically."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.timeseries import (
        gapfill_forward_fill,
    )

    out = gapfill_forward_fill(_t(spark, sf_dir, "events"))
    return out.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "filled_value",
        "is_observed",
    )


TS_GAPFILL_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, round(sum(value), 2) AS day_value
  FROM events GROUP BY 1, 2
),
spine AS (
  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY))::DATE AS day
  FROM (SELECT user_id, min(day) AS mn, max(day) AS mx FROM daily GROUP BY 1)
)
SELECT s.user_id,
       strftime(s.day, '%Y-%m-%d') AS day,
       last_value(d.day_value IGNORE NULLS)
         OVER (PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       d.day_value IS NOT NULL AS is_observed
FROM spine s
LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
"""


_STRATA = {"view": 1, "click": 2, "signup": 8, "purchase": 16, "error": 4}


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified rebalancing sample
    (operators/sampling.py): dominant event types keep 1-2/16, rare
    ones keep more — the exact kept row set is engine- and
    partitioning-independent (md5-bucket per stratum)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        stratified_hash_sample,
    )

    return stratified_hash_sample(
        _t(spark, sf_dir, "events"), "event_id", "event_type", _STRATA
    ).select("event_id", "event_type")


def _sample_stratified_oracle() -> str:
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        stratified_predicate_sql,
    )

    pred = stratified_predicate_sql("event_id", "event_type", _STRATA)
    return f"SELECT event_id, event_type FROM events WHERE {pred}"


def stream_daily_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with watermark-bounded state
    (streaming/windowed.py streaming_daily_distinct): the distinct
    (user, event_type, day) set emitted incrementally; equals batch
    DISTINCT on a finite source."""
    import os

    from aws_cdk_pipelines_datalake_etl_spark.streaming.windowed import (
        streaming_daily_distinct,
    )

    out = streaming_daily_distinct(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    return out.select(
        "user_id", "event_type", F.date_format("day", "yyyy-MM-dd").alias("day")
    )


STREAM_DAILY_DISTINCT_ORACLE = """
SELECT DISTINCT user_id, event_type,
       strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
FROM events
"""


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF
    (operators/text.py tfidf_top_terms): two-level aggregation with a
    one-row broadcast for N; ranked on the rounded score with the
    term as tiebreaker so the kept set is engine-exact."""
    return tx.tfidf_top_terms(_t(spark, sf_dir, "documents"))


TEXT_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT id, term, tf,
         round(tf * ln(n_docs * 1.0 / df), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT id AS doc_id, term, tf, tfidf, rank
FROM (SELECT *, CAST(row_number() OVER (PARTITION BY id
                                        ORDER BY tfidf DESC, term) AS INTEGER) AS rank
      FROM scored)
WHERE rank <= 3
"""


def q45_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day,
    counted on each active day-offset in their first week.  Two
    aggregations sharing the user_id shuffle key plus one join —
    the canonical product-analytics rollup."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    activity = ev.select("user_id", F.to_date("ts").alias("active_day")).distinct()
    return (
        activity.join(firsts, "user_id")
        .withColumn(
            "day_offset", F.datediff("active_day", "cohort_day").cast("int")
        )
        .filter(F.col("day_offset") <= 7)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


Q45_ORACLE = """
WITH firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY 1
),
activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(active_day - cohort_day AS INTEGER) AS day_offset,
       count(*) AS n_active
FROM activity JOIN firsts USING (user_id)
WHERE active_day - cohort_day <= 7
GROUP BY 1, 2
"""


def q46_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered 3-step funnel (view -> click -> purchase):
    per-user earliest view, earliest click after it, earliest
    purchase after that — successive min-aggregate + join steps, the
    relational funnel formulation both engines express identically."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n")).select(F.lit("1_view").alias("stage"), "n")
        .unionAll(
            c.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit("2_click").alias("stage"), "n"
            )
        )
        .unionAll(
            p.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit("3_purchase").alias("stage"), "n"
            )
        )
    )


Q46_ORACLE = """
WITH e AS (SELECT user_id, ts, event_type FROM events),
v AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id, min(e.ts) AS t2
      FROM e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
p AS (SELECT e.user_id, min(e.ts) AS t3
      FROM e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
SELECT '1_view' AS stage, count(*) AS n FROM v
UNION ALL SELECT '2_click', count(*) FROM c
UNION ALL SELECT '3_purchase', count(*) FROM p
"""


def q47_reaggregation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate pattern: the monthly rollup is computed
    FROM the daily partials (count and sum re-aggregate losslessly),
    not from raw events — at 100 TB the daily materialization is what
    makes coarser granularities nearly free.  The oracle computes the
    monthly rollup directly from events: equality IS the claim that
    re-aggregation is lossless."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.to_date("ts").alias("day"), F.col("event_type")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("v"),
        )
    )
    return (
        daily.groupBy(
            F.date_format(F.date_trunc("month", F.col("day")), "yyyy-MM").alias(
                "month"
            ),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n_events"),
            pround(F.sum("v"), 2).alias("total_value"),
        )
    )


Q47_ORACLE = """
SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
"""


def q48_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users (WAU) per day — formulated as the
    scale path: each (day, user) activity row is EXPANDED to the 7
    spine days it supports (``sequence`` + ``explode``), then one
    hash-aggregate counts distinct users per spine day.  That keeps
    the whole computation equi-shuffled; the naive range join (spine
    BETWEEN day-6 AND day) plans as a nested-loop broadcast that
    re-scans activity once per spine day."""
    ev = _t(spark, sf_dir, "events")
    pairs = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = pairs.select("day").distinct()
    contrib = pairs.select(
        F.explode(F.expr("sequence(day, date_add(day, 6))")).alias("day2"),
        "user_id",
    )
    return (
        contrib.join(F.broadcast(days), contrib.day2 == days.day, "left_semi")
        .groupBy(F.date_format("day2", "yyyy-MM-dd").alias("day"))
        .agg(F.count_distinct("user_id").alias("wau"))
    )


Q48_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
contrib AS (
  SELECT unnest(generate_series(day, day + 6, INTERVAL 1 DAY))::DATE AS day2,
         user_id
  FROM pairs
),
days AS (SELECT DISTINCT day FROM pairs)
SELECT strftime(day2, '%Y-%m-%d') AS day,
       count(DISTINCT user_id) AS wau
FROM contrib
WHERE day2 IN (SELECT day FROM days)
GROUP BY 1
"""


def q49_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): ``parse_json`` once
    into the binary variant encoding, then typed ``variant_get``
    extraction — the engine-native way to query JSON event payloads
    without a schema, replacing per-access string re-parsing."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select("event_type", F.parse_json("props").alias("v"))
        .select(
            "event_type", F.variant_get("v", "$.k", "int").alias("k")
        )
        .groupBy("event_type")
        .agg(
            pround(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


Q49_ORACLE = """
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS INTEGER))           AS max_k,
       count(*)                                                          AS n
FROM events
GROUP BY event_type
"""


def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram statistics: top-20 word bigrams by
    document frequency (each doc counts a bigram once).  Row-local
    bigram generation + array_distinct, one count shuffle, totally
    ordered top-k (count desc, bigram asc)."""
    # tokenize ONCE into a column; the bigram transform reads the
    # materialized array (recomputing split() inside the lambda
    # defeats common-subexpression elimination and measured ~4x
    # slower at sf0.1)
    d = (
        _t(spark, sf_dir, "documents")
        .select(F.split(F.lower("text"), " ").alias("w"))
        .select(
            F.array_distinct(
                F.expr(
                    "CASE WHEN size(w) < 2 THEN array()"
                    " ELSE transform(sequence(1, size(w) - 1),"
                    " i -> w[i - 1] || ' ' || w[i]) END"
                )
            ).alias("bigrams")
        )
    )
    return (
        d.select(F.explode("bigrams").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("bigram"))
        .limit(20)
    )


TEXT_TOP_BIGRAMS_ORACLE = """
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
bg AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS bigram
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM d)
)
SELECT bigram, count(*) AS doc_freq
FROM bg
GROUP BY bigram
ORDER BY doc_freq DESC, bigram
LIMIT 20
"""


def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking for pretraining data
    (operators/chunking.py chunk_documents): 64-token chunks every 48
    tokens, produced row-locally (sequence + slice + explode, zero
    shuffle)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.chunking import (
        chunk_documents,
    )

    return chunk_documents(_t(spark, sf_dir, "documents"))


TEXT_CHUNK_ORACLE = """
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
starts AS (
  SELECT doc_id, toks, i AS chunk_idx, 1 + (i - 1) * 48 AS start
  FROM d, (SELECT unnest(generate_series(1, 500)) AS i) g
  WHERE 1 + (i - 1) * 48 <= greatest(1, len(toks))
)
SELECT doc_id,
       CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(len(list_slice(toks, start, start + 63)) AS INTEGER) AS n_chunk_tokens,
       array_to_string(list_slice(toks, start, start + 63), ' ') AS chunk_text
FROM starts
"""


def text_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sharded greedy packing into 2048-token training
    bins (operators/chunking.py pack_greedy_bins): md5 sharding +
    per-shard running-sum window — one shuffle, engine/partitioning
    stable."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.chunking import (
        pack_greedy_bins,
    )

    return pack_greedy_bins(_t(spark, sf_dir, "documents"))


TEXT_PACK_ORACLE = """
WITH d AS (
  SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         doc_id,
         CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens
  FROM documents
)
SELECT shard, doc_id, n_tokens,
       CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
                  / 2048.0) AS BIGINT) AS bin_id
FROM d
"""


def text_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing with loader offsets (operators/chunking.py
    pack_with_offsets): bin assignment PLUS each doc's 0-based global
    token offset in its shard stream — the attention-mask boundary
    information a sequence loader needs; same one window, no extra
    shuffle."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.chunking import (
        pack_with_offsets,
    )

    return pack_with_offsets(_t(spark, sf_dir, "documents"))


TEXT_PACK_OFFSETS_ORACLE = """
WITH d AS (
  SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         doc_id,
         CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens
  FROM documents
), c AS (
  SELECT shard, doc_id, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d
)
SELECT shard, doc_id, n_tokens,
       CAST(floor((cum - 1) / 2048.0) AS BIGINT) AS bin_id,
       CAST(cum - n_tokens AS BIGINT)            AS start_global
FROM c
"""


def q50_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the wide per-month aggregate row turned into
    long (month, metric, value) rows via ``stack`` — the inverse of
    q19's pivot, a row-local Expand with no extra shuffle."""
    ev = _t(spark, sf_dir, "events")
    wide = ev.groupBy(F.date_format("ts", "yyyy-MM").alias("month")).agg(
        pround(F.sum("value"), 2).alias("total_value"),
        pround(F.avg("value"), 6).alias("avg_value"),
        F.count(F.lit(1)).cast("double").alias("n_events"),
    )
    return wide.select(
        "month",
        F.expr(
            "stack(3, 'total_value', total_value,"
            " 'avg_value', avg_value, 'n_events', n_events)"
        ).alias("metric", "value"),
    )


Q50_ORACLE = """
WITH wide AS (
  SELECT strftime(ts, '%Y-%m') AS month,
         round(sum(value), 2)  AS total_value,
         round(avg(value), 6)  AS avg_value,
         CAST(count(*) AS DOUBLE) AS n_events
  FROM events GROUP BY 1
)
SELECT month, metric, value
FROM wide
UNPIVOT (value FOR metric IN (total_value, avg_value, n_events))
"""


def asof_forward_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of (operators/asof.py asof_join_forward): for every
    view event, the user's earliest purchase at-or-after it — the
    "time to conversion" primitive.  One shuffle (union + forward
    window); purchases pre-deduped to one row per (user, ts) so the
    carried value is deterministic.  The oracle uses correlated
    ORDER-BY-LIMIT-1 subqueries, which DuckDB decorrelates."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.asof import (
        asof_join_forward,
    )

    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(pround(F.sum("value"), 2).alias("purchase_value"))
    )
    return asof_join_forward(
        views,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["ts", "purchase_value"],
    )


ASOF_FORWARD_ORACLE = """
WITH v AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, ts, round(sum(value), 2) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT v.event_id, v.user_id, v.ts,
       (SELECT p.ts FROM p
        WHERE p.user_id = v.user_id AND p.ts >= v.ts
        ORDER BY p.ts LIMIT 1) AS ts_next,
       (SELECT p.purchase_value FROM p
        WHERE p.user_id = v.user_id AND p.ts >= v.ts
        ORDER BY p.ts LIMIT 1) AS purchase_value_next
FROM v
"""


def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/incremental.py): the
    corpus split deterministically into a 12/16 "base" and 4/16
    "delta", each rolled up to additive partials, merged by key —
    proving merge-of-partials equals the from-scratch aggregate (the
    oracle).  Per-batch cost at scale is delta-sized, not
    history-sized."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.incremental import (
        additive_rollup,
        merge_rollups,
        read_rollup,
    )

    ev = _t(spark, sf_dir, "events")
    bucket = F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
    delta_digits = ["0", "1", "2", "3"]
    base = additive_rollup(
        ev.filter(~bucket.isin(delta_digits)), ["event_type"], "value"
    )
    delta = additive_rollup(
        ev.filter(bucket.isin(delta_digits)), ["event_type"], "value"
    )
    return read_rollup(merge_rollups(base, delta, ["event_type"]))


INCREMENTAL_ROLLUP_ORACLE = """
SELECT event_type,
       round(sum(value), 2) AS total_value,
       round(sum(value) / count(*), 6) AS avg_value,
       count(*) AS n_events
FROM events
GROUP BY event_type
"""


_EVENT_CATEGORIES = [
    ("view", "engagement"),
    ("click", "engagement"),
    ("signup", "acquisition"),
    ("purchase", "revenue"),
    ("error", "ops"),
]


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless stream-static enrichment (streaming/joins.py
    stream_static_enrich): the event stream joined per micro-batch to
    a broadcast dimension, rolled up by the dim attribute; equals the
    batch join + GROUP BY on a finite source."""
    import os

    from aws_cdk_pipelines_datalake_etl_spark.streaming.joins import (
        stream_static_enrich,
    )

    dim = spark.createDataFrame(_EVENT_CATEGORIES, ["event_type", "category"])
    return stream_static_enrich(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        dim,
        on="event_type",
    )


STREAM_STATIC_JOIN_ORACLE = """
SELECT CASE event_type
         WHEN 'view' THEN 'engagement'
         WHEN 'click' THEN 'engagement'
         WHEN 'signup' THEN 'acquisition'
         WHEN 'purchase' THEN 'revenue'
         ELSE 'ops'
       END AS category,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1
"""


def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER watermarked stream-stream interval join
    (streaming/joins.py stream_interval_left_join): matched pairs
    stream out normally; unmatched views emit with nulls only after a
    sentinel batch sweeps the watermark past their join window —
    equal to the batch left join, which is exactly what the oracle
    asserts."""
    import os

    from aws_cdk_pipelines_datalake_etl_spark.streaming.joins import (
        stream_interval_left_join,
    )

    return stream_interval_left_join(
        spark, os.path.join(sf_dir, "events.parquet")
    )


STREAM_LEFT_OUTER_ORACLE = """
WITH v AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT v.user_id,
       v.event_id AS left_id,
       p.event_id AS right_id,
       v.ts AS left_ts,
       p.ts AS right_ts
FROM v
LEFT JOIN p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


def dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality suite over lineitem (operators/quality.py):
    completeness + range checks in one aggregation pass, composite-key
    uniqueness, and lineitem->orders referential integrity as an
    anti-join count — the Glue Data Quality role, as a queryable
    report table."""
    from aws_cdk_pipelines_datalake_etl_spark.operators import quality as dq

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        dq.completeness_and_bounds_report(
            li,
            completeness_cols=["l_orderkey", "l_shipdate"],
            bounds={"l_discount": (0.0, 1.0), "l_quantity": (1.0, 50.0)},
        )
        .unionByName(dq.uniqueness_report(li, ["l_orderkey", "l_linenumber"]))
        .unionByName(dq.referential_report(li, o, "l_orderkey", "o_orderkey"))
    )


DQ_REPORT_ORACLE = """
SELECT 'completeness' AS check_name, 'l_orderkey' AS target,
       round(count(l_orderkey) * 1.0 / count(*), 6) AS value,
       count(l_orderkey) = count(*) AS passed
FROM lineitem
UNION ALL
SELECT 'completeness', 'l_shipdate',
       round(count(l_shipdate) * 1.0 / count(*), 6),
       count(l_shipdate) = count(*)
FROM lineitem
UNION ALL
SELECT 'bounds', 'l_discount',
       round(avg(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 1.0 ELSE 0.0 END), 6),
       min(l_discount) >= 0 AND max(l_discount) <= 1
FROM lineitem
UNION ALL
SELECT 'bounds', 'l_quantity',
       round(avg(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1.0 ELSE 0.0 END), 6),
       min(l_quantity) >= 1 AND max(l_quantity) <= 50
FROM lineitem
UNION ALL
SELECT 'uniqueness', 'l_orderkey+l_linenumber',
       round(count(DISTINCT (l_orderkey, l_linenumber)) * 1.0
             / count(*), 6),
       count(DISTINCT (l_orderkey, l_linenumber)) = count(*)
FROM lineitem
UNION ALL
SELECT 'referential', 'l_orderkey->o_orderkey',
       CAST(n AS DOUBLE), n = 0
FROM (SELECT count(*) AS n FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey))
"""


def q51_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single-row filtered aggregate — the query
    where everything should collapse into the scan (all three
    predicates pushed, two columns read)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            pround(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


Q51_ORACLE = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q52_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: supply cost modeled as 10% of
    p_retailprice since partsupp doesn't exist here): profit by
    supplier nation and year over a name-filtered part join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.1) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
        )
        .agg(pround(F.sum(amount), 2).alias("sum_profit"))
    )


Q52_ORACLE = """
SELECT n_name AS nation,
       CAST(year(l_shipdate) AS INTEGER) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - 0.1 * p_retailprice * l_quantity), 2) AS sum_profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


def q53_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: a derived revenue relation used twice — once
    joined to supplier detail, once aggregated to its max — with the
    equality filter selecting the top supplier(s).  Revenue is
    rounded inside the CTE so the max-equality is engine-exact."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q53_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def q54_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of event values — data-profiling
    shape, formulated for scale: a global ``ntile`` would sort the
    whole table in ONE partition, so instead the 9 decile boundaries
    come from one partial-aggregating ``percentile`` pass, broadcast
    as a single row, and each row's bucket is a row-local comparison
    count against the (rounded) boundaries.  Two narrow passes, no
    global sort.  (The conditionless 1-row join plans as a
    BroadcastNestedLoopJoin — with a single-row build side that IS
    the scalar-broadcast pattern, one in-memory row per task.)"""
    ev = _t(spark, sf_dir, "events")
    qs = [i / 10.0 for i in range(1, 10)]
    bounds = ev.agg(
        F.expr(
            "transform(percentile(value, array({qs})), b -> round(b, 6))".format(
                qs=", ".join(map(str, qs))
            )
        ).alias("bounds")
    )
    return (
        ev.join(F.broadcast(bounds))
        .withColumn(
            "bucket",
            (
                F.lit(1)
                + F.expr(
                    "aggregate(bounds, 0, (acc, b) ->"
                    " acc + CASE WHEN value > b THEN 1 ELSE 0 END)"
                )
            ).cast("int"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            pround(F.min("value"), 2).alias("lo"),
            pround(F.max("value"), 2).alias("hi"),
        )
    )


Q54_ORACLE = """
WITH bounds AS (
  SELECT list_transform(
           quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
           b -> round(b, 6)) AS bs
  FROM events
)
SELECT CAST(1 + len(list_filter(bs, b -> value > b)) AS INTEGER) AS bucket,
       count(*) AS n,
       round(min(value), 2) AS lo,
       round(max(value), 2) AS hi
FROM events, bounds
GROUP BY 1
"""


def sample_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-way split sizes (operators/sampling.py
    train_val_test_split): 1/16 test, 1/16 val, 14/16 train —
    row-local md5 routing, stable across engines/partitionings."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        train_val_test_split,
    )

    return (
        train_val_test_split(_t(spark, sf_dir, "documents"), "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SAMPLE_SPLIT_ORACLE = """
SELECT CASE
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' THEN 'test'
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '1' THEN 'val'
         ELSE 'train'
       END AS split,
       count(*) AS n_docs
FROM documents
GROUP BY 1
"""


def sample_cap_per_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class down-capping (operators/sampling.py cap_per_class):
    at most 300 events per event_type, picked by deterministic
    md5-order rank — the label-balancing pass, oracle-replayed with
    the same window."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        cap_per_class,
    )

    return cap_per_class(
        _t(spark, sf_dir, "events"), "event_id", "event_type", cap=300
    ).select("event_id", "event_type")


SAMPLE_CAP_ORACLE = """
SELECT event_id, event_type
FROM (
  SELECT event_id, event_type,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
  FROM events
)
WHERE rn <= 300
"""


def q55_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total analytics: each nation's revenue share within
    its region — a windowed sum over the aggregate (one extra
    exchange on the small aggregated relation, never on the fact)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    per_nation = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            pround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("r_name")
    return per_nation.select(
        "r_name",
        "n_name",
        "revenue",
        pround(F.col("revenue") / F.sum("revenue").over(w), 6).alias(
            "region_share"
        ),
    )


Q55_ORACLE = """
WITH per_nation AS (
  SELECT r_name, n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
)
SELECT r_name, n_name, revenue,
       round(revenue / sum(revenue) OVER (PARTITION BY r_name), 6)
         AS region_share
FROM per_nation
"""


_CLUSTER_DROP_CTE = """
WITH RECURSIVE toks AS (
  SELECT doc_id AS id, string_split(lower(text), ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM (SELECT id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks)
), sizes AS (
  SELECT id, count(*) AS n FROM sh GROUP BY id
), pair AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2
), dup AS (
  SELECT id1, id2
  FROM pair
  JOIN sizes sa ON sa.id = id1
  JOIN sizes sb ON sb.id = id2
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
), edges AS (
  SELECT id1 AS a, id2 AS b FROM dup
  UNION
  SELECT id2, id1 FROM dup
), reach(node, peer) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON r.peer = e.a
), dropped AS (
  SELECT node FROM (
    SELECT node, least(node, min(peer)) AS rep FROM reach GROUP BY node
  ) WHERE node != rep
)
"""


def _dedup_dropped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-representative members of near-dup clusters — the docs
    dedup removes."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.clusters import (
        dedup_cluster_representatives,
    )

    pairs = dd.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)
    clusters = dedup_cluster_representatives(pairs)
    return clusters.filter(F.col("doc_id") != F.col("cluster_rep")).select(
        "doc_id"
    )


def corpus_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduped corpus: every document except non-representative
    near-dup cluster members (MinHash-LSH pairs -> connected
    components -> keep min-id per cluster) — the end product the
    dedup family exists for, as one anti join."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return docs.join(_dedup_dropped(spark, sf_dir), "doc_id", "left_anti")


CORPUS_SURVIVORS_ORACLE = (
    _CLUSTER_DROP_CTE
    + """
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT node FROM dropped)
"""
)


def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus "data card": one (metric, value) relation a training
    run ships with its dataset — document/token volume, duplication
    rate (normalized-fingerprint), language mix entropy, mean quality
    signals — every number an exact or portably-rounded aggregate so
    the card is engine-reproducible.  All branches are small
    aggregates unioned lazily; at 100 TB each is one scan-with-partial
    -agg (and in practice materialized from the metrics tables the
    other operators already maintain)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.lower("text"), " ")).alias("t"))
    fp = d.select(F.md5(F.expr(
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''), ' +', ' '))"
    )).alias("fp"))
    p = F.col("n") / F.col("tot")
    lang = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        # the global window runs over the ~|languages|-row aggregate,
        # never the corpus
        .withColumn("tot", F.sum("n").over(Window.partitionBy()))
        # each language's -p*log2(p) term quantized to integer
        # micro-units BEFORE the sum: integer addition is
        # order-independent, so the partition-dependent float-sum
        # order can't flip the 6-dp round (same device as
        # mean_type_token_ratio below)
        .select(
            F.floor(-(p * F.log2(p)) * 1000000 + F.lit(0.5)).alias("micro")
        )
        .agg(pround(F.sum("micro") / 1000000.0, 6).alias("v"))
    )

    def row(name: str, col_df: DataFrame) -> DataFrame:
        return col_df.select(
            F.lit(name).alias("metric"), F.col("v").cast("double").alias("value")
        )

    branches = [
        row("n_documents", d.agg(F.count(F.lit(1)).alias("v"))),
        row("n_tokens", toks.agg(F.count(F.lit(1)).alias("v"))),
        row("n_distinct_tokens", toks.agg(F.countDistinct("t").alias("v"))),
        row(
            "mean_doc_tokens",
            d.agg(
                pround(F.avg(F.size(F.split(F.lower("text"), " "))), 6).alias("v")
            ),
        ),
        row(
            "duplicate_doc_rate",
            fp.agg(
                pround(
                    (F.count(F.lit(1)) - F.countDistinct("fp"))
                    / F.count(F.lit(1)),
                    6,
                ).alias("v")
            ),
        ),
        row("lang_mix_entropy_bits", lang),
        row(
            # per-doc ratio quantized to integer micro-units before the
            # mean: an exact bigint sum divided once is engine-identical
            # (float-sum order can flip a 6-dp round; cf. unigram_logprob)
            "mean_type_token_ratio",
            d.select(F.split(F.lower("text"), " ").alias("w"))
            .select(
                F.floor(
                    (F.size(F.array_distinct("w")) / F.size("w")) * 1000000
                    + F.lit(0.5)
                ).alias("micro")
            )
            .agg(
                pround(F.sum("micro") / (F.count(F.lit(1)) * 1000000.0), 6).alias(
                    "v"
                )
            ),
        ),
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


CORPUS_DATA_CARD_ORACLE = portable_round_sql("""
WITH t AS (
  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
), fp AS (
  SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g'))) AS fp
  FROM documents
), lang AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang
)
SELECT 'n_documents' AS metric, CAST(count(*) AS DOUBLE) AS value FROM documents
UNION ALL
SELECT 'n_tokens', CAST(count(*) AS DOUBLE) FROM t
UNION ALL
SELECT 'n_distinct_tokens', CAST(count(DISTINCT tok) AS DOUBLE) FROM t
UNION ALL
SELECT 'mean_doc_tokens',
       round(avg(CAST(len(string_split(lower(text), ' ')) AS DOUBLE)), 6)
FROM documents
UNION ALL
SELECT 'duplicate_doc_rate',
       round((count(*) - count(DISTINCT fp)) * 1.0 / count(*), 6) FROM fp
UNION ALL
SELECT 'lang_mix_entropy_bits',
       round(sum(floor(-(n / tot) * log2(n / tot) * 1000000 + 0.5)) / 1000000.0, 6)
FROM (SELECT n, sum(n) OVER () AS tot FROM lang)
UNION ALL
SELECT 'mean_type_token_ratio',
       round(sum(floor(len(list_distinct(w)) * 1.0 / len(w) * 1000000 + 0.5))
             / (count(*) * 1000000.0), 6)
FROM (SELECT string_split(lower(text), ' ') AS w FROM documents)
""")


def corpus_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's capstone composition — the final training corpus:
    documents that (a) pass the quality gate, (b) survive near-dup
    cluster collapse, and (c) route to the train split.  Three
    operator families composed as semi/anti joins on doc_id; each
    piece is individually oracle-checked elsewhere, and here the
    whole pipeline is checked as one relation."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        train_val_test_split,
    )

    docs = _t(spark, sf_dir, "documents")
    passing = tx.quality_gate(docs).select("doc_id")
    train = (
        train_val_test_split(docs, "doc_id")
        .filter(F.col("split") == "train")
        .select("doc_id")
    )
    return (
        docs.select("doc_id")
        .join(passing, "doc_id", "left_semi")
        .join(_dedup_dropped(spark, sf_dir), "doc_id", "left_anti")
        .join(train, "doc_id", "left_semi")
    )


CORPUS_TRAINING_SET_ORACLE = (
    _CLUSTER_DROP_CTE
    + """
, metrics AS (
  SELECT doc_id,
         CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens,
         round(len(list_distinct(string_split(lower(text), ' '))) * 1.0
               / len(string_split(lower(text), ' ')), 6) AS ttr
  FROM documents
)
SELECT doc_id FROM metrics
WHERE n_tokens >= 30 AND ttr >= 0.35 AND ttr <= 0.95
  AND doc_id NOT IN (SELECT node FROM dropped)
  AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1')
"""
)


def corpus_training_set_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ROUND-9 capstone composition — every corpus-curation family
    the engine grew this round, composed into ONE oracle-verified
    relation: documents that (a) pass the quality gate, (b) survive
    near-dup cluster collapse, (c) route to the train split, (d) get a
    CONFIDENT language label (19-language NB, margin band 3000 — no
    near-tie guesses), and (e) pass the distilled quality classifier:
    the quality GATE itself is the teacher — its boolean over the 90%
    split labels the one-step-GD training (the distillation pattern:
    learn the rule from its own decisions so the learned WORDS
    generalize past the rule's hard metric edges) — scored by integer
    dot-product sign.  Output carries the evidence columns
    ``(doc_id, lang, logit_micro)``.  The DuckDB oracle replays the
    ENTIRE pipeline — MinHash-free exact-Jaccard clustering, metrics,
    NB model retraining + banded argmax, teacher labels, gradient,
    weights, scoring — as one SQL statement; each piece is also
    individually oracle-backed elsewhere (corpus_training_set,
    text_langid_confident, corpus_quality_scores)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.classifier import (
        score_quality_micro,
        train_one_step_micro,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.langid import (
        language_id_nb,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        train_val_test_split,
    )

    docs = _t(spark, sf_dir, "documents")
    passing = tx.quality_gate(docs).select("doc_id")
    train = (
        train_val_test_split(docs, "doc_id")
        .filter(F.col("split") == "train")
        .select("doc_id")
    )
    confident = (
        language_id_nb(docs, min_margin_micro=3000)
        .filter(F.col("lang") != "und")
        .select("doc_id", "lang")
    )
    labeled = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .join(
            passing.select("doc_id", F.lit(True).alias("keep")),
            "doc_id",
            "left",
        )
        .withColumn("keep", F.coalesce("keep", F.lit(False)))
    )
    w = train_one_step_micro(labeled, "keep", dim=1024, lr=1.0)
    scored = (
        score_quality_micro(docs, w, dim=1024)
        .filter(F.col("pred"))
        .select("doc_id", "logit_micro")
    )
    return (
        docs.select("doc_id")
        .join(passing, "doc_id", "left_semi")
        .join(_dedup_dropped(spark, sf_dir), "doc_id", "left_anti")
        .join(train, "doc_id", "left_semi")
        .join(confident, "doc_id")
        .join(scored, "doc_id")
        .orderBy("doc_id")
    )


def _training_set_v2_oracle() -> str:
    from aws_cdk_pipelines_datalake_etl_spark.operators.langid import (
        langid_model_sql_ctes,
        norm_sql,
    )

    feats = """
  SELECT doc_id,
         (('0x' || substr(md5(tok), 1, 12))::BIGINT) % 1024 AS slot,
         count(*) AS k
  FROM (SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                      x -> x != '')) AS tok
        FROM documents{where})
  GROUP BY doc_id, slot
  UNION ALL
  SELECT doc_id, -1 AS slot, 1 AS k FROM documents{where}
"""
    return (
        _CLUSTER_DROP_CTE
        + f"""
, metrics AS (
  SELECT doc_id,
         CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens,
         round(len(list_distinct(string_split(lower(text), ' '))) * 1.0
               / len(string_split(lower(text), ' ')), 6) AS ttr
  FROM documents
),
{langid_model_sql_ctes()},
dnorm AS (SELECT doc_id, {norm_sql("text")} AS s FROM documents),
dk AS (
  SELECT doc_id,
         CASE WHEN length(s) >= 3 THEN length(s) - 2 ELSE 0 END AS n_trigrams
  FROM dnorm
),
dtris AS (
  SELECT doc_id, substring(s, i, 3) AS tri
  FROM (SELECT doc_id, s, unnest(generate_series(1, length(s) - 2)) AS i
        FROM dnorm WHERE length(s) >= 3)
),
matched AS (
  SELECT doc_id, lang, sum(micro_logp) AS matched_micro
  FROM dtris JOIN model USING (tri) GROUP BY doc_id, lang
),
grid AS (
  SELECT dk.doc_id, c.lang, dk.n_trigrams,
         COALESCE(m.matched_micro, 0) - dk.n_trigrams * c.micro_denom
           AS score_micro
  FROM dk CROSS JOIN consts c
  LEFT JOIN matched m ON m.doc_id = dk.doc_id AND m.lang = c.lang
),
best AS (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY score_micro DESC, lang ASC) AS rn,
      lead(score_micro) OVER (
      PARTITION BY doc_id ORDER BY score_micro DESC, lang ASC) AS next_score
  FROM grid
),
lng AS (
  SELECT doc_id,
         CASE WHEN n_trigrams = 0 THEN 'und'
              WHEN (score_micro - next_score) < 3000 * n_trigrams THEN 'und'
              ELSE lang END AS lang
  FROM best WHERE rn = 1
),
cl_labels AS (
  SELECT doc_id,
         CAST((n_tokens >= 30 AND ttr >= 0.35 AND ttr <= 0.95) AS INT) AS y
  FROM metrics WHERE doc_id % 10 != 0
),
cl_trf AS ({feats.format(where=" WHERE doc_id % 10 != 0")}),
cl_nn AS (SELECT count(*) AS n FROM cl_labels),
cl_resid AS (SELECT doc_id, 500000 - 1000000 * y AS r_micro FROM cl_labels),
cl_grad AS (
  SELECT slot, sum(k * r_micro) AS g_micro
  FROM cl_trf JOIN cl_resid USING (doc_id) GROUP BY slot
),
cl_wnz AS (
  SELECT * FROM (
    SELECT slot,
           CAST(floor(-1.0 * g_micro / (SELECT n FROM cl_nn) + 0.5)
                AS BIGINT) AS w_micro
    FROM cl_grad
  ) WHERE w_micro != 0
),
cl_allf AS ({feats.format(where="")}),
cl_logit AS (
  SELECT doc_id, CAST(sum(k * w_micro) AS BIGINT) AS logit_micro
  FROM cl_allf JOIN cl_wnz USING (slot) GROUP BY doc_id
)
SELECT q.doc_id,
       lng.lang,
       CAST(COALESCE(cl_logit.logit_micro, 0) AS BIGINT) AS logit_micro
FROM metrics q
JOIN lng USING (doc_id)
LEFT JOIN cl_logit USING (doc_id)
WHERE q.n_tokens >= 30 AND q.ttr >= 0.35 AND q.ttr <= 0.95
  AND q.doc_id NOT IN (SELECT node FROM dropped)
  AND substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1')
  AND lng.lang != 'und'
  AND COALESCE(cl_logit.logit_micro, 0) >= 0
"""
    )


def udtf_word_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (functions/udtf_fn.py WordNgrams): per-row
    fan-out through a LATERAL table function — every word trigram of
    the first 50 docs with its position.  Arrow-batched; the oracle
    replays the same expansion with generate_series, so the hash match
    proves the UDTF's row semantics exactly."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.udtf_fn import (
        register_udtfs,
    )
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import (
        register_testdata_views,
    )

    register_testdata_views(spark, sf_dir)
    register_udtfs(spark)
    return spark.sql(
        """
        SELECT d.doc_id, g.pos, g.ngram
        FROM documents d, LATERAL word_ngrams(d.text, 3) g
        WHERE d.doc_id < 50
        """
    )


UDTF_WORD_NGRAMS_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w
  FROM documents WHERE doc_id < 50
)
SELECT doc_id,
       CAST(i - 1 AS INT) AS pos,
       w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS ngram
FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks)
"""


def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource end-to-end (sources/corpusgen.py,
    Spark 4 datasource API): ``format("corpusgen")`` generates a
    deterministic corpus partition-parallel on executors, then a
    normal aggregation runs over it.  The oracle rebuilds the exact
    rows from generate_series — a hash match proves the connector's
    partition planning and row generation, not just that it ran."""
    from aws_cdk_pipelines_datalake_etl_spark.sources.corpusgen import register

    register(spark)
    gen = (
        spark.read.format("corpusgen")
        .option("n", "3000")
        .option("parallelism", "8")
        .load()
    )
    toks = gen.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    return toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("first_doc"),
    )


SOURCE_PYTHON_DATASOURCE_ORACLE = """
WITH ids AS (
  SELECT unnest(generate_series(0, 2999)) AS i
), toks AS (
  SELECT i AS doc_id, 'w' || ((i * 7 + j * 3) % 13) AS tok
  FROM (SELECT i, unnest(generate_series(0, 4 + i % 5 - 1)) AS j FROM ids)
)
SELECT tok, count(*) AS n, min(doc_id) AS first_doc
FROM toks GROUP BY tok
"""


def sim_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization end-to-end (operators/pq.py): codebooks
    trained on a deterministic sample, vectors encoded to m=16
    4-bit-ish sub-codes (~16x compression), queries answered by ADC
    shortlist (50) + exact cosine re-rank of only the shortlisted
    vectors — the production IVF+PQ retrieval shape.  Approximate
    (rows-only); recall@5 vs brute force is gated in
    tests/test_pq.py."""
    from aws_cdk_pipelines_datalake_etl_spark.operators import pq

    e = _t(spark, sf_dir, "embeddings")
    books = pq.train_pq_codebooks(e, m=16, ksub=16)
    codes = pq.pq_encode(e, books)
    queries = e.filter(F.col("vec_id") < 10)
    return pq.pq_shortlist_rerank(codes, e, books, queries, k=5, shortlist=50).withColumn(
        "rank", F.col("rank").cast("int")
    )


def sim_pq_full_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ plumbing made SQL-checkable (the ivf_full_probe trick):
    with the shortlist widened to the whole corpus the exact re-rank
    covers every vector, so train->encode->ADC->re-rank must equal the
    brute-force top-k bit-for-bit — one hash gate over the entire PQ
    pipeline's join/rank mechanics, independent of ADC quality."""
    from aws_cdk_pipelines_datalake_etl_spark.operators import pq

    e = _t(spark, sf_dir, "embeddings")
    books = pq.train_pq_codebooks(e, m=16, ksub=16)
    codes = pq.pq_encode(e, books)
    queries = e.filter(F.col("vec_id") < 10)
    n = e.count()
    return pq.pq_shortlist_rerank(
        codes, e, books, queries, k=5, shortlist=n
    ).withColumn("rank", F.col("rank").cast("int"))


def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF+PQ retrieval stack (operators/pq.py
    ivf_pq_topk): k-means||-trained coarse buckets prune the scan to
    nprobe=2 of 8, PQ codes make the in-bucket ADC scan ~16-32x
    cheaper, shortlisted candidates re-rank by exact cosine.
    Approximate (rows-only); the >=0.85 recall gate runs on planted
    clusters in tests/test_pq.py (the sf testdata embeddings are
    near-uniform, which caps ANY partition-pruned ANN's recall)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators import pq

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return pq.ivf_pq_topk(
        e, queries, k=5, coarse_k=8, nprobe=2, shortlist=50
    ).withColumn("rank", F.col("rank").cast("int"))


def sim_ivfpq_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ with every bucket probed and the shortlist widened to
    the corpus: coarse routing, PQ encode, per-query gated ADC and the
    re-rank joins must reproduce brute force bit-for-bit — the exact
    hash gate over the whole composed stack."""
    from aws_cdk_pipelines_datalake_etl_spark.operators import pq

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return pq.ivf_pq_topk(
        e, queries, k=5, coarse_k=4, nprobe=4, shortlist=e.count()
    ).withColumn("rank", F.col("rank").cast("int"))


def sim_ivfpq_residual_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF+PQ (operators/pq.py ivf_pq_topk_residual —
    FAISS-IVFPQ's encoding of x - centroid, per-bucket query distance
    tables, residual never materialized: scalar codegen subtraction
    inside the distance expression) with full probe + corpus-wide
    shortlist: must equal brute force bit-for-bit — the exact gate
    over the residual pipeline; the nprobe=2 recall gate lives in
    tests/test_pq.py."""
    from aws_cdk_pipelines_datalake_etl_spark.operators import pq

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    return pq.ivf_pq_topk_residual(
        e, queries, k=5, coarse_k=4, nprobe=4, shortlist=e.count()
    ).withColumn("rank", F.col("rank").cast("int"))


def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python STREAMING DataSource end-to-end
    (sources/eventgen.py, Spark 4 SimpleDataSourceStreamReader):
    ``readStream.format("eventgen")`` drains a bounded synthetic event
    feed in ~5 offset-tracked micro-batches into a per-user rollup —
    the programmatic queue/CDC-connector contract (initialOffset /
    read / readBetweenOffsets replay).  The oracle rebuilds the exact
    rows from generate_series, so the hash proves offset bookkeeping
    lost and duplicated nothing across batches."""
    import uuid as _uuid

    from aws_cdk_pipelines_datalake_etl_spark.sources.eventgen import register

    register(spark)
    stream = (
        spark.readStream.format("eventgen")
        .option("n", "5000")
        .option("batch_rows", "1100")
        .load()
    )
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    name = f"eventgen_out_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


SOURCE_PYTHON_STREAM_ORACLE = """
SELECT i % 37 AS user_id,
       count(*) AS n_events,
       CAST(sum((i * i) % 101) AS BIGINT) AS total_value
FROM (SELECT unnest(generate_series(0, 4999)) AS i)
GROUP BY 1
"""


def source_python_stream_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partition-planned streaming DataSource (sources/eventgen.py
    EventGenParallelStreamReader, full DataSourceStreamReader
    contract): latestOffset claims a bounded chunk per micro-batch,
    partitions() splits each claimed range into 4 slices, and read()
    generates rows ON THE EXECUTORS — the scale path where one logical
    feed fans out like a file scan.  Same closed form and oracle as
    the simple-reader entry, so the hash also proves the two connector
    variants agree."""
    import uuid as _uuid

    from aws_cdk_pipelines_datalake_etl_spark.sources.eventgen import (
        register_parallel,
    )

    register_parallel(spark)
    stream = (
        spark.readStream.format("eventgenpar")
        .option("n", "5000")
        .option("batch_rows", "1100")
        .option("parallelism", "4")
        .load()
    )
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    name = f"eventgenpar_out_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def sink_python_stream_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python STREAMING SINK end-to-end (sources/jsonl_sink.py,
    Spark 4 DataSourceStreamWriter): the eventgen feed streams through
    format("jsonldir")'s two-phase commit (executor-staged files ->
    driver publish + _COMMIT marker, replays discarded by marker), the
    committed batches are read back, and the rollup must equal the
    closed form — a hash match proves the commit protocol published
    every row exactly once across ~5 micro-batches."""
    import os as _os
    import tempfile as _tempfile
    import uuid as _uuid

    from aws_cdk_pipelines_datalake_etl_spark.sources import eventgen, jsonl_sink

    eventgen.register(spark)
    jsonl_sink.register(spark)
    path = _os.path.join(
        _tempfile.gettempdir(), f"jsonlsink_{_uuid.uuid4().hex[:8]}"
    )
    stream = (
        spark.readStream.format("eventgen")
        .option("n", "5000")
        .option("batch_rows", "1100")
        .load()
    )
    q = (
        stream.writeStream.format("jsonldir")
        .option("path", path)
        .option("checkpointLocation", path + "_ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = jsonl_sink.read_committed(spark, path)
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )


def text_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable pseudonymization (operators/text.py pseudonymize_emails):
    emails become salt-keyed tokens — same address, same token, so the
    pseudonymized corpus still joins/dedups.  Emails are PLANTED
    deterministically (the corpus has none), so the oracle rebuilds
    the identical input and the hash match proves the extract→hash→
    fold-replace pipeline exactly."""
    planted = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            (F.col("doc_id") % 23).cast("string"),
            F.lit("@ex"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".com"),
        ),
    )
    return tx.pseudonymize_emails(planted).select("doc_id", "pseudo")


TEXT_PSEUDONYMIZE_ORACLE = r"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact u' || (doc_id % 23) || '@ex' || (doc_id % 7)
              || '.com' AS text
  FROM documents
)
SELECT doc_id,
       list_reduce(
         list_prepend(text,
                      regexp_extract_all(text,
                                         '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]+')),
         (acc, e) -> replace(acc, e,
                             '<EMAIL:' || substr(md5('s1:' || e), 1, 8) || '>')
       ) AS pseudo
FROM planted
"""


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheap perplexity proxy (operators/text.py unigram_logprob):
    mean token log-probability under the corpus's own unigram
    distribution — the classic quality-filter signal.  One explode
    feeds both the vocabulary counts and the per-doc average; the
    corpus total rides a one-row broadcast."""
    return tx.unigram_logprob(_t(spark, sf_dir, "documents"))


TEXT_UNIGRAM_LOGPROB_ORACLE = """
WITH toks AS (
  SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
), freq AS (
  SELECT term, count(*) AS n_term FROM toks GROUP BY term
), tot AS (
  SELECT count(*) AS n_total FROM toks
)
SELECT id AS doc_id,
       round(sum(CAST(floor(ln(n_term * 1.0 / n_total) * 1000000 + 0.5)
                      AS BIGINT)) / (count(*) * 1000000.0), 6) AS avg_logprob,
       count(*) AS n_tokens
FROM toks JOIN freq USING (term), tot
GROUP BY id
"""


def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-deterministic training shuffle (operators/sampling.py
    epoch_shuffle): every row ranked by hash48(epoch ':' doc_id) — a
    layout-independent permutation that differs per epoch but is
    bit-reproducible on any cluster.  Assembled distributed (bucketed
    prefix offsets + per-bucket window), never a one-partition global
    window; the oracle states the same total order as one SQL
    row_number."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        epoch_shuffle,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return epoch_shuffle(docs, "doc_id", epoch=2)


CORPUS_EPOCH_SHUFFLE_ORACLE = f"""
SELECT doc_id,
       row_number() OVER (
         ORDER BY {hash48_sql_duckdb("'2:' || CAST(doc_id AS VARCHAR)")},
                  doc_id
       ) AS shuffle_rank
FROM documents
"""


_U32_SQL = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)"
    " / 4294967296.0"
)


def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sampling (operators/sampling.py
    weighted_hash_sample): keep probability = type-token ratio
    clamped to [0.1, 1], decided by the deterministic row uniform —
    higher-quality docs survive more often, and the kept set is
    bit-reproducible (both engines compute the identical weight from
    the identical rounded metric)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        weighted_hash_sample,
    )

    m = tx.text_metrics(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.least(
            F.lit(1.0), F.greatest(F.lit(0.1), F.col("type_token_ratio"))
        ).alias("w"),
    )
    return weighted_hash_sample(m, "doc_id", "w").select("doc_id")


SAMPLE_WEIGHTED_ORACLE = f"""
WITH m AS (
  SELECT doc_id,
         round(len(list_distinct(string_split(lower(text), ' '))) * 1.0
               / len(string_split(lower(text), ' ')), 6) AS ttr
  FROM documents
)
SELECT doc_id FROM m
WHERE {_U32_SQL} < least(1.0, greatest(0.1, ttr))
"""


def sample_source_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform data-mixture rebalance: every source downsampled to
    (in expectation) HALF the smallest source's size — per-source
    keep fraction min_count/(2*count), applied with the deterministic
    row uniform (the halving keeps the fraction strictly < 1 so the
    filter provably discriminates even on an already-balanced
    corpus).  Two tiny aggregates broadcast against the fact scan;
    the keep decision itself is row-local."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import row_uniform

    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    mn = counts.agg(F.min("n").alias("mn"))
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(counts), "source")
        .join(F.broadcast(mn))
        .filter(row_uniform("doc_id") < F.col("mn") / (2 * F.col("n")))
        .select("doc_id", "source")
    )


SAMPLE_REBALANCE_ORACLE = f"""
WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
mn AS (SELECT min(n) AS mn FROM counts)
SELECT d.doc_id, d.source
FROM documents d
JOIN counts c ON d.source = c.source
CROSS JOIN mn
WHERE {_U32_SQL} < mn * 0.5 / c.n
"""


def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (operators/sampling.py
    temperature_mix): source share proportional to n^(1/tau) with
    tau=2 — the standard multilingual/multi-source LM flattening —
    scaled to half the corpus in expectation, keep decisions by the
    deterministic row uniform.  The per-source WEIGHT is quantized to
    integer micro-units (VERDICT r5 #5), so every value downstream of
    the (sqrt, IEEE-exact) weight is integer-derived and the float
    predicate hash-reproduces; the oracle replays the whole rule."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        temperature_mix,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return temperature_mix(
        d, "doc_id", source_col="source", tau=2.0, target_fraction=0.5
    )


def _temperature_oracle(w_sql: str, target: float) -> str:
    """DuckDB replay of temperature_mix for a given weight expression
    over the per-source count ``n`` — weight micro-unit-quantized,
    identical expression tree as the Spark side."""
    return f"""
WITH counts AS (
  SELECT source, count(*) AS n,
         CAST(floor({w_sql} * 1000000 + 0.5) AS BIGINT) AS wq
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(n) AS total, sum(wq) AS zq FROM counts)
SELECT d.doc_id, d.source
FROM documents d
JOIN counts c ON d.source = c.source
CROSS JOIN tot
WHERE {_U32_SQL} <
      least(1.0, {target!r} * total * wq / (CAST(zq AS DOUBLE) * c.n))
"""


SAMPLE_TEMPERATURE_ORACLE = _temperature_oracle("sqrt(CAST(n AS DOUBLE))", 0.5)


def sample_temperature_mix_t3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixing at tau=3 (VERDICT r5 #5: exactness beyond
    the sqrt case).  The weight n^(1/3) comes from ``pow`` — libm-
    dependent in its last ulp — but micro-unit quantization means a
    cross-engine flip needs the weight to land within one ulp of a
    half-micro-unit boundary (~1e-10 per source); everything after
    ``wq`` is integer-derived and bit-identical.  Driver hash match
    here retires the docstring caveat that tau!=2 was only
    approximately portable."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        temperature_mix,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return temperature_mix(
        d, "doc_id", source_col="source", tau=3.0, target_fraction=0.5
    )


SAMPLE_TEMPERATURE_T3_ORACLE = _temperature_oracle(
    f"pow(CAST(n AS DOUBLE), {1.0 / 3.0!r})", 0.5
)


def dedup_semantic_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/similarity.py
    semantic_dedup_survivors): vectors are clustered to fixed
    centroids (embeddings vec_id<8, same device as the IVF entries so
    the oracle can replay the assignment), near-dup pairs are found
    ONLY within a cluster (bucket-local join — the quadratic term is
    bounded by the largest cluster, never the corpus), and each
    epsilon-pair keeps its smaller id.  Returns survivors
    ``(vec_id, centroid_id)``."""
    e = _t(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return sim.semantic_dedup_survivors(e, centroids, threshold=0.4)


DEDUP_SEMANTIC_ORACLE = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, e AS c FROM v WHERE vec_id < 8),
scored AS (
  SELECT v.vec_id, cent.centroid_id,
         round(list_cosine_similarity(v.e, cent.c), 6) AS sim
  FROM v, cent
),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
pairs AS (
  SELECT a2.vec_id AS id2
  FROM assign a1
  JOIN assign a2 ON a1.centroid_id = a2.centroid_id
                AND a1.vec_id < a2.vec_id
  JOIN v v1 ON v1.vec_id = a1.vec_id
  JOIN v v2 ON v2.vec_id = a2.vec_id
  WHERE round(list_cosine_similarity(v1.e, v2.e), 6) >= 0.4
)
SELECT a.vec_id, a.centroid_id
FROM assign a
WHERE a.vec_id NOT IN (SELECT id2 FROM pairs)
"""


def dedup_semantic_skewguard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The block-grid SKEW GUARD path of semantic dedup
    (operators/similarity.py semantic_dedup_pairs, VERDICT r5 #2):
    same fixed centroids and threshold as ``dedup_semantic_survivors``
    but with ``max_bucket_rows=64``, forcing every cluster through a
    multi-block triangular grid (ceil(n/64) hash blocks per bucket;
    per-task candidate volume <= 64^2 regardless of cluster skew).
    The guard preserves the pair set EXACTLY — so this entry shares
    the unguarded entry's oracle verbatim: a driver hash match here
    is machine proof of the invariance the property test asserts."""
    e = _t(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return sim.semantic_dedup_survivors(
        e, centroids, threshold=0.4, max_bucket_rows=64
    )


def text_repetition_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition removal: keep each token's FIRST
    occurrence, preserving order — the within-doc dedup quality pass.
    Entirely row-local (an indexed lambda filter over the token
    array); emits the compression ratio the filter achieves."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("w")
    )
    deduped = F.expr("filter(w, (x, i) -> array_position(w, x) == i + 1)")
    return d.select(
        "doc_id",
        F.size("w").alias("n_tokens"),
        F.size(deduped).alias("n_after"),
        pround(F.size(deduped) / F.size("w"), 6).alias("keep_ratio"),
        F.array_join(deduped, " ").alias("dedup_text"),
    )


TEXT_REPETITION_ORACLE = """
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
x AS (
  SELECT doc_id, w,
         list_filter(w, (t, i) -> list_position(w, t) = i) AS dd
  FROM d
)
SELECT doc_id,
       CAST(len(w) AS INTEGER)  AS n_tokens,
       CAST(len(dd) AS INTEGER) AS n_after,
       round(len(dd) * 1.0 / len(w), 6) AS keep_ratio,
       array_to_string(dd, ' ') AS dedup_text
FROM x
"""


def q56_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: per-nation customer and supplier counts kept
    even when a nation has only one side — both aggregates reduced
    BEFORE the join (25-row inputs), so the outer join is trivial
    regardless of fact size."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        c.join(s, "nk", "full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


Q56_ORACLE = """
WITH c AS (
  SELECT c_nationkey AS nk, count(*) AS n_customers FROM customer GROUP BY 1
),
s AS (
  SELECT s_nationkey AS nk, count(*) AS n_suppliers FROM supplier GROUP BY 1
)
SELECT coalesce(c.nk, s.nk) AS nationkey,
       coalesce(n_customers, 0) AS n_customers,
       coalesce(n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON c.nk = s.nk
"""


def q57_dense_grid_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-grid report: every (region x order-priority) cell,
    zero-filled — an intentional small CROSS JOIN of two dimensions
    left-joined to the aggregated facts.  The cartesian product is
    |regions| x |priorities| (tiny and bounded); the fact side is
    pre-aggregated so nothing big ever crosses."""
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    prio = _t(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    facts = (
        _t(spark, sf_dir, "orders")
        .join(_t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_regionkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = r.crossJoin(prio)
    return (
        grid.join(
            facts,
            (grid.r_regionkey == facts.n_regionkey)
            & (grid.o_orderpriority == facts.o_orderpriority),
            "left",
        )
        .select(
            "r_name",
            grid.o_orderpriority.alias("priority"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
        )
    )


Q57_ORACLE = """
WITH grid AS (
  SELECT r_regionkey, r_name, o_orderpriority
  FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)
),
facts AS (
  SELECT n_regionkey, o_orderpriority, count(*) AS n
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT g.r_name, g.o_orderpriority AS priority, coalesce(f.n, 0) AS n_orders
FROM grid g
LEFT JOIN facts f
  ON g.r_regionkey = f.n_regionkey AND g.o_orderpriority = f.o_orderpriority
"""


def q58_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix: counts of consecutive (event_type ->
    next event_type) per user — one window (lead over the user's time
    order) + one aggregate.  The canonical behavioral-sequence rollup;
    ties broken by event_id so both engines see the same order."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


Q58_ORACLE = """
SELECT event_type, next_type, count(*) AS n_transitions
FROM (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
)
WHERE next_type IS NOT NULL
GROUP BY 1, 2
"""


def cdc_state_asof_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over an event-sourced table: reconstruct each
    user's state AS OF a cutoff instant — filter history to ts <=
    cutoff (pushed to the scan), then one latest-per-key window.  The
    same one-shuffle shape as the live CDC collapse, just bounded in
    time; on a date-partitioned lake the cutoff also prunes
    partitions."""
    ev = _t(spark, sf_dir, "events")
    cutoff = "2024-01-15 00:00:00"
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.filter(F.col("ts") <= cutoff)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


CDC_STATE_ASOF_ORACLE = """
SELECT user_id, event_id, ts, event_type, value
FROM (
  SELECT user_id, event_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
  WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
)
WHERE rn = 1
"""


def q59_union_heterogeneous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-aligning union of heterogeneous relations
    (``unionByName(allowMissingColumns=True)``): customers and
    suppliers as one `entities` relation — columns matched by NAME,
    side-specific columns null-filled — then rolled up per kind.
    The schema-drift companion to the conform zone's
    last-writer-wins behavior."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.lit("customer").alias("kind"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("nationkey"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("kind"),
    )
    entities = c.unionByName(s, allowMissingColumns=True)
    return entities.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        pround(F.sum("acctbal"), 2).alias("total_acctbal"),
        F.count("mktsegment").alias("n_with_segment"),
    )


Q59_ORACLE = """
WITH entities AS (
  SELECT c_name AS name, c_nationkey AS nationkey, c_acctbal AS acctbal,
         c_mktsegment AS mktsegment, 'customer' AS kind
  FROM customer
  UNION ALL BY NAME
  SELECT s_name AS name, s_nationkey AS nationkey, s_acctbal AS acctbal,
         'supplier' AS kind
  FROM supplier
)
SELECT kind,
       count(*) AS n,
       round(sum(acctbal), 2) AS total_acctbal,
       count(mktsegment) AS n_with_segment
FROM entities
GROUP BY kind
"""


def q60_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution scalar surface: Levenshtein edit distance of
    every nation name against a probe plus a normalized similarity —
    the fuzzy-matching primitive (at corpus scale the all-pairs
    version blocks on a cheap key first, same pattern as the LSH
    ops)."""
    n = _t(spark, sf_dir, "nation")
    dist = F.levenshtein(F.col("n_name"), F.lit("NATION_1"))
    return n.select(
        "n_name",
        dist.alias("edit_distance"),
        pround(
            F.lit(1.0)
            - dist / F.greatest(F.length("n_name"), F.lit(len("NATION_1"))),
            6,
        ).alias("similarity"),
    )


Q60_ORACLE = """
SELECT n_name,
       levenshtein(n_name, 'NATION_1') AS edit_distance,
       round(1.0 - levenshtein(n_name, 'NATION_1') * 1.0
                   / greatest(length(n_name), 8), 6) AS similarity
FROM nation
"""


# --------------------------------------------------------------------------
# Tier-E (round 6): web/URL canonicalization, substring-span dedup,
# JL random projection, ORC format parity
# --------------------------------------------------------------------------


def _synth_url() -> F.Column:
    """Deterministic messy URL per doc_id (the registry's established
    synthesize-then-process pattern, cf. multimodal blob entries):
    scheme-case / www / optional 'blog.' subdomain / default-and-
    explicit ports / trailing slash / tracking params / fragments all
    vary arithmetically so every normalization rule fires."""
    did = F.col("doc_id")
    m2, m3, m4, m5, m6, m7, m11, m23 = [did % n for n in (2, 3, 4, 5, 6, 7, 11, 23)]
    scheme = F.when(m3 == 0, "HTTPS").when(m3 == 1, "https").otherwise("http")
    suffix = (
        F.when(m4 == 0, "com").when(m4 == 1, "co.uk").when(m4 == 2, "org").otherwise("net")
    )
    port = (
        F.when(m5 == 0, F.when(m3 == 2, ":80").otherwise(":443"))
        .when(m7 == 0, ":8080")
        .otherwise("")
    )
    return F.concat(
        scheme,
        F.lit("://"),
        F.when(m2 == 0, "WWW.").otherwise(""),
        F.when(m6.isin(3, 4), "blog.").otherwise(""),
        F.lit("Site"),
        m23.cast("string"),
        F.lit("."),
        suffix,
        port,
        F.lit("/p/"),
        m11.cast("string"),
        F.when(m2 == 1, "/").otherwise(""),
        F.when(m4 == 0, "?b=2&utm_source=feed&a=1")
        .when(m4 == 1, "?a=1&fbclid=xyz")
        .when(m4 == 2, "?utm_campaign=x")
        .otherwise(""),
        F.when(m3 == 1, "#sec").otherwise(""),
    )


def web_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators/web.py): per-document messy URL
    -> canonical URL + registered domain.  Pure codegen narrow map —
    zero shuffle at any corpus size.  The DuckDB oracle reimplements
    every normalization rule independently in SQL."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.web import url_normalize

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", _synth_url().alias("url_raw")
    )
    return url_normalize(d, "url_raw", "url_norm").select(
        "doc_id", "url_raw", "url_norm", "domain"
    )


def web_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain rollup after canonicalization (operators/web.py):
    pages, URL-dedup survivor count, canonical min id per registered
    domain.  One hash agg on the domain key (map-side partials)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.web import domain_stats

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", _synth_url().alias("url_raw")
    )
    return domain_stats(d, "url_raw", "doc_id")


_WEB_URL_SQL = """
u AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'HTTPS' WHEN 1 THEN 'https' ELSE 'http' END
         || '://'
         || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
         || CASE WHEN doc_id % 6 IN (3, 4) THEN 'blog.' ELSE '' END
         || 'Site' || CAST(doc_id % 23 AS VARCHAR) || '.'
         || CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
                            WHEN 2 THEN 'org' ELSE 'net' END
         || CASE WHEN doc_id % 5 = 0
                 THEN (CASE WHEN doc_id % 3 = 2 THEN ':80' ELSE ':443' END)
                 WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END
         || '/p/' || CAST(doc_id % 11 AS VARCHAR)
         || CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END
         || CASE doc_id % 4 WHEN 0 THEN '?b=2&utm_source=feed&a=1'
                            WHEN 1 THEN '?a=1&fbclid=xyz'
                            WHEN 2 THEN '?utm_campaign=x' ELSE '' END
         || CASE WHEN doc_id % 3 = 1 THEN '#sec' ELSE '' END AS url_raw
  FROM documents
),
parts AS (
  SELECT doc_id, url_raw,
         lower(regexp_extract(url_raw, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_replace(
           lower(regexp_extract(
             regexp_extract(url_raw, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
             '^([^:]*)', 1)),
           '^www\\.', '') AS host,
         regexp_extract(
           regexp_extract(url_raw, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
           ':([0-9]+)$', 1) AS port,
         regexp_replace(
           regexp_extract(url_raw, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
           '/$', '') AS path,
         regexp_extract(url_raw, '\\?([^#]*)', 1) AS q
  FROM u
),
normed AS (
  SELECT doc_id, url_raw, host,
         scheme || '://' || host
         || CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
                      OR (scheme = 'http' AND port = '80')
                 THEN '' ELSE ':' || port END
         || path
         || CASE WHEN qn = '' THEN '' ELSE '?' || qn END AS url_norm
  FROM (
    SELECT *,
           CASE WHEN q = '' THEN ''
                ELSE coalesce(array_to_string(list_sort(list_filter(
                       string_split(q, '&'),
                       pp -> NOT (starts_with(pp, 'utm_')
                                  OR string_split(pp, '=')[1]
                                     IN ('fbclid', 'gclid', 'msclkid', 'ref')))), '&'), '')
           END AS qn
    FROM parts
  )
),
domained AS (
  SELECT doc_id, url_raw, url_norm,
         CASE WHEN len(labels) <= 2 THEN host
              WHEN labels[-2] || '.' || labels[-1] IN
                   ('co.uk','org.uk','gov.uk','ac.uk','co.jp','ne.jp','com.au',
                    'net.au','com.br','co.in','co.kr','com.mx','co.nz','com.sg',
                    'com.cn')
              THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
              ELSE labels[-2] || '.' || labels[-1] END AS domain
  FROM (SELECT *, string_split(host, '.') AS labels FROM normed)
)
"""

WEB_URL_NORMALIZE_ORACLE = f"""
WITH {_WEB_URL_SQL}
SELECT doc_id, url_raw, url_norm, domain FROM domained
"""

WEB_DOMAIN_STATS_ORACLE = f"""
WITH {_WEB_URL_SQL}
SELECT domain,
       count(*) AS n_pages,
       count(DISTINCT url_norm) AS n_unique_urls,
       min(doc_id) AS first_id
FROM domained
GROUP BY domain
"""


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring stats at word-8-gram granularity
    (operators/dedup.py:substring_span_stats — the distributed
    approximation of Lee et al. 2022 suffix-array substring dedup).
    ``key='text'`` here so the DuckDB oracle is value-exact; the
    default 'hash' path (xxhash64 keys, 8-byte shuffle rows) is the
    100 TB form and is proven equal in tests/test_dedup.py."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.dedup import (
        substring_span_stats,
    )

    return substring_span_stats(
        _t(spark, sf_dir, "documents"), k=8, key="text"
    )


def dedup_substring_spans_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of substring-span dedup (VERDICT r6 #6):
    ``key='hash'`` shuffles 8-byte xxhash64 gram keys instead of the
    gram text — sub-linear at 10x data (SCALE.md probe) where the
    text-key form is not.  Shares the text-key DuckDB oracle: the two
    forms are proven to produce the identical relation
    (tests/test_web.py::test_substring_spans_hash_equals_text_key),
    so a green row here is an invariance proof, exactly the
    dedup_semantic_skewguard precedent.  This is the bench headline
    entry; the text-key twin stays as the value-exact gate."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.dedup import (
        substring_span_stats,
    )

    return substring_span_stats(
        _t(spark, sf_dir, "documents"), k=8, key="hash"
    )


def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of Lee et al. 2022 substring dedup
    (operators/dedup.py:remove_duplicate_spans — dedup_substring_spans
    measures, this EDITS): every cross-document word-8-gram is cut
    from every doc except the gram's min-id canonical owner, the
    covered windows merged by position-set union, and the text rebuilt
    row-locally.  ``key='hash'`` (the production 8-byte-key form) —
    proven equal to the text-key form the DuckDB oracle replays
    (tests/test_dedup.py::test_remove_duplicate_spans_matches_reference),
    the dedup_substring_spans_prod precedent."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    return remove_duplicate_spans(
        _t(spark, sf_dir, "documents"), k=8, key="hash"
    )


DEDUP_SPAN_REMOVAL_ORACLE = """
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
g AS (
  SELECT doc_id, i AS pos,
         array_to_string(w[i + 1:i + 8], ' ') AS gram
  FROM d, LATERAL (SELECT unnest(generate_series(0, len(w) - 8)) AS i)
  WHERE len(w) >= 8
),
dup AS (
  SELECT gram, min(doc_id) AS lo FROM g GROUP BY gram
  HAVING min(doc_id) != max(doc_id)
),
cov AS (
  SELECT doc_id,
         list_distinct(flatten(list_transform(
           list(DISTINCT pos), p -> generate_series(p, p + 7)))) AS covered
  FROM g JOIN dup USING (gram) WHERE doc_id != lo GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.w) AS INT) AS n_tokens,
       CAST(coalesce(len(cov.covered), 0) AS INT) AS n_removed,
       coalesce(array_to_string(
         list_filter(d.w, (t, i) ->
           NOT list_contains(coalesce(cov.covered, []), i - 1)),
         ' '), '') AS text_dedup
FROM d LEFT JOIN cov USING (doc_id)
"""


DEDUP_SUBSTRING_ORACLE = """
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
g AS (
  SELECT doc_id,
         unnest(CASE WHEN len(w) >= 8
                     THEN list_transform(generate_series(0, len(w) - 8),
                                         i -> array_to_string(w[i+1:i+8], ' '))
                     ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM d
),
multi AS (
  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
),
per AS (
  SELECT doc_id, count(*) AS n_dup FROM g JOIN multi USING (gram) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(greatest(len(d.w) - 7, 0) AS INT) AS n_grams,
       CAST(coalesce(per.n_dup, 0) AS BIGINT) AS n_dup_grams
FROM d LEFT JOIN per USING (doc_id)
"""


def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss Rademacher projection 64 -> 8
    (operators/similarity.py:random_projection_microunits): integer
    micro-unit arithmetic with a portable sign matrix, so the result
    is engine-exact.  Zero-shuffle codegen narrow map."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.similarity import (
        random_projection_microunits,
    )

    return random_projection_microunits(
        _t(spark, sf_dir, "embeddings"), dim=64, out_dim=8
    )


_SIM_RP_COLS = ",\n".join(
    f"       CAST(sum(CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000000 + 0.5)"
    f" AS BIGINT) * (1 - 2 * (((i * 2654435761 + {j * 40503}) // 65536) % 2)))"
    f" AS BIGINT) AS p{j}"
    for j in range(8)
)

SIM_RANDOM_PROJECTION_ORACLE = f"""
SELECT vec_id,
{_SIM_RP_COLS}
FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS i)
GROUP BY vec_id
"""


def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format parity: lineitem written as ORC (Spark-native columnar
    alternative to Parquet) and read back; the identical aggregate
    over the original Parquet is the oracle, so the round trip must
    be lossless.  Output dir is keyed by sf_dir (overwrite mode), so
    reruns are idempotent; entries run single-flight (driver and
    pytest are sequential), documented here per the jsonldir
    append-collision lesson."""
    import hashlib

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    out = f"/tmp/spark_graft_orc/{tag}"
    li.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        pround(F.sum("l_quantity"), 2).alias("sum_qty"),
        pround(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


SOURCE_ORC_ORACLE = """
SELECT l_returnflag,
       count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem
GROUP BY l_returnflag
"""


def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format parity for the remaining built-in row format: lineitem
    written as JSON Lines (``df.write.json``) and read back with the
    WRITER'S schema pinned (inference would widen types) — the
    identical aggregate over the original Parquet is the oracle, so
    the text round trip must be lossless (Jackson emits shortest
    round-trip doubles).  Same idempotence discipline as
    source_orc_roundtrip: output keyed by sf_dir, overwrite mode,
    single-flight."""
    import hashlib

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    out = f"/tmp/spark_graft_jsonl/{tag}"
    li.write.mode("overwrite").json(out)
    back = spark.read.schema(li.schema).json(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        pround(F.sum("l_quantity"), 2).alias("sum_qty"),
        pround(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals at word-bigram granularity
    (operators/text.py:repetition_metrics): top-ngram fraction and
    duplicated-ngram fraction per document.  Two doc-keyed hash aggs,
    O(total tokens); micro-unit-rounded fractions so the oracle is
    value-exact."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.text import (
        repetition_metrics,
    )

    return repetition_metrics(_t(spark, sf_dir, "documents"), n=2)


TEXT_REPETITION_METRICS_ORACLE = """
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
base AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_tokens,
         CAST(greatest(len(toks) - 1, 0) AS INT) AS n_ngrams
  FROM d
),
g AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 2
                     THEN list_transform(generate_series(1, len(toks) - 1),
                                         i -> toks[i] || ' ' || toks[i + 1])
                     ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM d
),
pg AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
pd AS (
  SELECT doc_id,
         max(cnt) AS top_cnt,
         sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS dup_cnt
  FROM pg GROUP BY doc_id
)
SELECT base.doc_id, n_tokens, n_ngrams,
       floor(coalesce(top_cnt, 0) / greatest(n_ngrams, 1) * 1000000 + 0.5)
         / 1000000 AS top_ngram_frac,
       floor(coalesce(dup_cnt, 0) / greatest(n_ngrams, 1) * 1000000 + 0.5)
         / 1000000 AS dup_ngram_frac
FROM base LEFT JOIN pd USING (doc_id)
"""


def web_domain_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe corpus split (operators/web.py:domain_split):
    every page routed by md5 of its registered domain, so no domain
    straddles train/eval.  Zero-shuffle narrow map — the group key IS
    the hash input."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.web import domain_split

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", _synth_url().alias("url_raw")
    )
    return domain_split(d, "url_raw").select("doc_id", "domain", "split")


WEB_DOMAIN_SPLIT_ORACLE = f"""
WITH {_WEB_URL_SQL}
SELECT doc_id, domain,
       CASE WHEN substr(md5(domain), 1, 1) = '0' THEN 'test'
            WHEN substr(md5(domain), 1, 1) = '1' THEN 'val'
            ELSE 'train' END AS split
FROM domained
"""


def web_frontier_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier incremental URL dedup
    (operators/web.py:url_frontier_dedup): the even-doc_id half of the
    synthetic crawl plays the persisted frontier; the full corpus is
    the new batch.  First-seen-wins anti-join on canonical URL +
    in-batch min-id collapse — only URL strings shuffle."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.web import (
        url_frontier_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    batch = docs.select("doc_id", _synth_url().alias("url_raw"))
    seen = docs.filter(F.col("doc_id") % 2 == 0).select(
        _synth_url().alias("url_raw")
    )
    return url_frontier_dedup(batch, seen, "url_raw", "doc_id")


WEB_FRONTIER_DEDUP_ORACLE = f"""
WITH {_WEB_URL_SQL},
seen AS (SELECT DISTINCT url_norm FROM domained WHERE doc_id % 2 = 0),
fresh AS (
  SELECT * FROM domained
  WHERE url_norm NOT IN (SELECT url_norm FROM seen)
)
SELECT url_norm,
       min(doc_id) AS doc_id,
       count(*) AS n_batch_copies,
       min(domain) AS domain
FROM fresh
GROUP BY url_norm
"""


def web_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-politeness filter (operators/web.py:
    robots_disallow_filter): domains whose md5 starts 0-7 disallow
    '/p/1', '/p/3' and '/p/2/' — '/p/1' (no trailing slash) also
    prefix-matches '/p/10', exercising the spec's plain-prefix rule,
    while '/p/2/' exercises the segment-wise slash-terminated branch
    (blocks the canonical directory page '/p/2', would NOT block a
    '/p/20' sibling if one existed).  Broadcast anti-join with the
    match test in the join condition; the page side never shuffles."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.web import (
        robots_disallow_filter,
        url_normalize,
    )

    pages = _t(spark, sf_dir, "documents").select(
        "doc_id", _synth_url().alias("url_raw")
    )
    doms = (
        url_normalize(pages, "url_raw")
        .select("domain")
        .distinct()
        .filter(F.substring(F.md5("domain"), 1, 1) <= "7")
    )
    rules = doms.selectExpr(
        "domain", "explode(array('/p/1', '/p/3', '/p/2/')) AS disallow_prefix"
    )
    out = robots_disallow_filter(pages, rules, "url_raw")
    return out.select("doc_id", "url_norm", "domain")


WEB_ROBOTS_FILTER_ORACLE = f"""
WITH {_WEB_URL_SQL},
rules AS (
  SELECT domain, unnest(['/p/1', '/p/3', '/p/2/']) AS pre
  FROM (SELECT DISTINCT domain FROM domained
        WHERE substr(md5(domain), 1, 1) <= '7')
),
paths AS (
  SELECT d.*,
         regexp_extract(d.url_norm,
           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
  FROM domained d
)
SELECT doc_id, url_norm, domain
FROM paths d
WHERE NOT EXISTS (
  SELECT 1 FROM rules r
  WHERE r.domain = d.domain
    AND (CASE WHEN r.pre LIKE '%/'
         THEN d.path = regexp_replace(r.pre, '/$', '')
              OR starts_with(d.path, r.pre)
         ELSE starts_with(d.path, r.pre) END)
)
"""


def multimodal_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-file ingest edge (sources/binaryfiles.py): per-doc gradient
    PNGs are EXPORTED to real files executor-side (``write_blobs_dir``
    via mapInPandas — no driver collect), then ingested back through
    Spark's built-in ``binaryFile`` source with a pushed
    ``pathGlobFilter``, ids recovered from filenames, and decoded by
    the stdlib PNG codec.  Gates the full blob->files->blob round trip
    plus filename identity.  Dims (h=4, w in {5,8,10,20}) keep w*h to
    2/5 factors so mean_luma is an exact <=4-dp decimal; channels are
    equal so luma == value.  Output dir keyed by sf_dir (cleared then
    rewritten; entries run single-flight)."""
    import hashlib
    import shutil

    from pyspark.sql.types import BinaryType

    from aws_cdk_pipelines_datalake_etl_spark.operators.multimodal import (
        decode_image_batch,
    )
    from aws_cdk_pipelines_datalake_etl_spark.sources.binaryfiles import (
        read_binary_dir,
        write_blobs_dir,
    )

    @F.pandas_udf(BinaryType())
    def synth(ids: pd.Series) -> pd.Series:
        import numpy as np

        from aws_cdk_pipelines_datalake_etl_spark.functions.imagecodec import (
            encode_png,
        )

        def mk(i: int) -> bytes:
            w = (5, 8, 10, 20)[i % 4]
            xs, ys = np.arange(w), np.arange(4)
            v = (16 + (i * 7 + xs[None, :] * 5 + ys[:, None] * 3) % 128).astype(
                np.uint8
            )
            return encode_png(np.repeat(v[:, :, None], 3, axis=2))

        return ids.map(lambda i: mk(int(i)))

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    out = f"/tmp/spark_graft_blobs/{tag}"
    shutil.rmtree(out, ignore_errors=True)
    d = _t(spark, sf_dir, "documents").select("doc_id").withColumn(
        "blob", synth("doc_id")
    )
    write_blobs_dir(d, out, ext="png").write.format("noop").mode(
        "overwrite"
    ).save()
    back = read_binary_dir(spark, out, glob="*.png")
    return decode_image_batch(
        back.select("doc_id", "file_name", F.col("content").alias("blob"))
    ).join(back.select("doc_id", "file_name"), "doc_id")


MULTIMODAL_BINARYFILE_ORACLE = """
WITH dims AS (
  SELECT doc_id,
         CASE doc_id % 4 WHEN 0 THEN 5 WHEN 1 THEN 8
                         WHEN 2 THEN 10 ELSE 20 END AS w
  FROM documents
), vals AS (
  SELECT doc_id, w,
         sum(16 + (doc_id * 7 + x * 5 + y * 3) % 128) AS total
  FROM dims,
       (SELECT unnest(generate_series(0, 19)) AS x),
       (SELECT unnest(generate_series(0, 3)) AS y)
  WHERE x < w
  GROUP BY doc_id, w
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(4 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       printf('%.4f', CAST(total AS DOUBLE) / (w * 4)) AS mean_luma,
       CAST(doc_id AS VARCHAR) || '.png' AS file_name
FROM vals
"""


def web_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> visible text (operators/web.py:html_text): each
    document's text wrapped in deterministic HTML (title, style and
    script elements with hostile content — an embedded '<' inside JS,
    a multi-clause CSS rule — block tags, inline tags, all six
    entities), then extracted back.  Pure codegen regexp chain, zero
    shuffle; the DuckDB oracle replays the identical RE2-compatible
    algorithm step by step."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.web import html_extract

    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        did,
        F.lit('</title><STYLE type="text/css">body { color: red; } '),
        F.lit("h1 { margin: 0; }</STYLE><script>var x = 1 < 2 && \"skip"),
        did,
        F.lit('";</script></head><body><h1>Title '),
        did,
        F.lit('</h1><p class="lead">'),
        F.col("text"),
        F.lit("</p><div>footer &amp;amp; nav &lt;raw"),
        did,
        F.lit("&gt; &quot;q&quot;&nbsp;&#39;s&#39;</div></body></html>"),
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", html.alias("html")
    )
    out = html_extract(d, "html", "text")
    return out.select("doc_id", "text", F.length("text").alias("n_chars"))


WEB_HTML_EXTRACT_ORACLE = """
WITH h AS (
  SELECT doc_id,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || '</title><STYLE type="text/css">body { color: red; } '
         || 'h1 { margin: 0; }</STYLE><script>var x = 1 < 2 && "skip'
         || CAST(doc_id AS VARCHAR)
         || '";</script></head><body><h1>Title ' || CAST(doc_id AS VARCHAR)
         || '</h1><p class="lead">' || text
         || '</p><div>footer &amp;amp; nav &lt;raw' || CAST(doc_id AS VARCHAR)
         || '&gt; &quot;q&quot;&nbsp;&#39;s&#39;</div></body></html>' AS html
  FROM documents
),
s1 AS (
  SELECT doc_id,
         regexp_replace(html, '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g') AS t
  FROM h
),
s2 AS (
  SELECT doc_id,
         regexp_replace(t, '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g') AS t
  FROM s1
),
s3 AS (
  SELECT doc_id,
         regexp_replace(t,
           '(?i)<br\\s*/?>|</(?:p|div|h[1-6]|li|tr|td|table|ul|ol|section|article)\\s*>',
           ' ', 'g') AS t
  FROM s2
),
s4 AS (
  SELECT doc_id, regexp_replace(t, '(?s)<[^>]*>', '', 'g') AS t FROM s3
),
s5 AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(replace(t,
           '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#39;', chr(39)), '&amp;', '&') AS t
  FROM s4
),
e AS (
  SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS text FROM s5
)
SELECT doc_id, text, CAST(length(text) AS INT) AS n_chars FROM e
"""


def sketch_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch rollup (operators/sketches.py): one scan
    builds a per-(day, event_type) sketch table; per-type distinct
    users is then answered by UNIONING SKETCHES, never re-reading the
    fact table — the scale-correct materialization of
    COUNT(DISTINCT) in the purpose-built zone.  No oracle: estimates
    are Datasketches-HLL-specific; tests assert <=5% error vs exact
    and merge==direct-sketch equality."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sketches import (
        build_hll_rollup,
        merge_hll_rollup,
    )

    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    rollup = build_hll_rollup(ev, ["day", "event_type"], "user_id")
    return merge_hll_rollup(rollup, ["event_type"]).orderBy("event_type")


def sketch_theta_audience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra (operators/sketches.py): audience
    overlap — distinct viewers, buyers, union, intersection, and
    viewed-but-never-bought — computed ENTIRELY from two per-type
    sketches, no fact-table rejoin.  Sized (lgNomEntries=15) so the
    sketch is in exact mode at oracle scale: the DuckDB set-op oracle
    matches exactly; past ~32k distincts/key it degrades to ~1-2%
    error instead of failing."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sketches import (
        build_theta_rollup,
        theta_overlap,
    )

    ev = _t(spark, sf_dir, "events")
    rollup = build_theta_rollup(ev, ["event_type"], "user_id")
    return theta_overlap(rollup, "event_type", "view", "purchase")


SKETCH_THETA_ORACLE = """
WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
     p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT (SELECT count(*) FROM v) AS n_left,
       (SELECT count(*) FROM p) AS n_right,
       (SELECT count(*) FROM (SELECT * FROM v UNION SELECT * FROM p)) AS n_union,
       (SELECT count(*) FROM (SELECT * FROM v INTERSECT SELECT * FROM p)) AS n_intersection,
       (SELECT count(*) FROM (SELECT * FROM v EXCEPT SELECT * FROM p)) AS n_left_only
"""


def sketch_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile-sketch rollup (operators/sketches.py): per-(day,
    type) sketches merged per type answer p50/p95 of event value over
    any range from a fixed-size summary.  No oracle (KLL rank-error
    is sketch-specific); tests bound the rank error."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sketches import (
        build_kll_rollup,
        merge_kll_quantiles,
    )

    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    rollup = build_kll_rollup(ev, ["day", "event_type"], "value")
    return merge_kll_quantiles(rollup, ["event_type"], [0.5, 0.95]).orderBy(
        "event_type"
    )


# One SQL text, both engines (like q23): Spark 4 and DuckDB share the
# WITH RECURSIVE dialect.  The closure is tiny here (3-level
# hierarchy); at scale each recursion step is one self-join the
# optimizer plans like any other, with total work bounded by closure
# depth — for unbounded-depth graphs the iterative min-label
# propagation in operators/clusters.py is the production path.
Q61_RECURSIVE_SQL = """
WITH RECURSIVE edges(child, parent) AS (
  -- concat() implicitly stringifies on both engines; an explicit cast
  -- can't be written portably (Spark: STRING, DuckDB: VARCHAR)
  SELECT concat('c', c_custkey), concat('n', c_nationkey) FROM customer
  UNION ALL
  SELECT concat('n', n_nationkey), concat('r', n_regionkey) FROM nation
),
closure(child, anc) AS (
  SELECT child, parent FROM edges
  UNION ALL
  SELECT c.child, e.parent FROM closure c JOIN edges e ON c.anc = e.child
)
SELECT anc, count(*) AS n_descendants
FROM closure GROUP BY anc
"""


def q61_recursive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): transitive ancestor
    closure of the customer -> nation -> region hierarchy, counting
    descendants per ancestor.  The identical SQL text runs on DuckDB
    as the oracle."""
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import (
        register_testdata_views,
    )

    register_testdata_views(spark, sf_dir)
    return spark.sql(Q61_RECURSIVE_SQL)


def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination scan (operators/text.py): corpus docs
    sharing >=2 distinct word trigrams with an eval-set doc (eval set
    = doc_id % 97 == 0, broadcast).  One corpus scan + broadcast
    probe; no corpus-side shuffle before the pair aggregation."""
    docs = _t(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    return tx.contamination(docs, eval_docs, k=3, min_shared=2)


TEXT_CONTAMINATION_ORACLE = """
WITH toks AS (
  SELECT doc_id AS id, string_split(lower(text), ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM (SELECT id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks)
)
SELECT c.id AS doc_id, e.id AS eval_id, count(*) AS n_shared
FROM sh c JOIN sh e ON c.s = e.s AND c.id <> e.id
WHERE e.id % 97 = 0
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (operators/text.py
    normalize_text): lowercase + whitespace collapse + trim, with the
    md5 of the normalized form — the portable fingerprint input.
    Zero-shuffle scan."""
    docs = _t(spark, sf_dir, "documents")
    return tx.normalize_text(docs).select(
        "doc_id", "norm", F.md5("norm").alias("norm_md5")
    )


TEXT_NORMALIZE_ORACLE = """
SELECT doc_id,
       trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g')) AS norm,
       md5(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g'))) AS norm_md5
FROM documents
"""


def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/text.py): emails and phone-shaped
    numbers replaced by typed placeholders.  The testdata corpus
    carries none, so deterministic PII is injected first (derived
    from doc_id on BOTH engines) and the scrub is verified by exact
    string hash-match."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com or 555-867-5309 now"),
        ).alias("text"),
    )
    return tx.redact_pii(docs).select("doc_id", "redacted")


TEXT_REDACT_ORACLE = """
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           text || ' contact user' || doc_id || '@example.com or 555-867-5309 now',
           '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]+', '<EMAIL>', 'g'),
         '[0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}', '<PHONE>', 'g') AS redacted
FROM documents
"""


def sim_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization (operators/similarity.py): the 4x
    storage/shuffle cut for vector columns.  Codes are engine-exact
    (floor-based rounding), so the DuckDB lambda oracle hash-matches
    the full quantized arrays.  The codes are emitted CSV-serialized
    (``q8_csv``) rather than as ``array<int>`` because the driver's
    canonicalizer hashes via pandas ``sort_values``, which cannot
    factorize list-valued cells (CORRECTNESS_r04 TypeError) — the
    serialization is lossless, so the hash check is just as strong."""
    emb = _t(spark, sf_dir, "embeddings")
    out = sim.quantize_embeddings(emb)
    return out.select(
        "vec_id",
        pround(F.col("scale"), 8).alias("scale_r"),
        F.array_join(F.col("q8").cast("array<string>"), ",").alias("q8_csv"),
    )


SIM_QUANTIZE_ORACLE = """
WITH s AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
  FROM embeddings
)
SELECT e.vec_id,
       round(s.scale, 8) AS scale_r,
       array_to_string(
         CASE WHEN s.scale = 0
              THEN list_transform(e.embedding, x -> 0)
              ELSE list_transform(e.embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) / s.scale + 0.5) AS INT))
         END, ',') AS q8_csv
FROM embeddings e JOIN s USING (vec_id)
"""


def q62_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window distribution functions: percent_rank, cume_dist, and
    nth_value(2) per nation over customer balances — one shared
    Window frame like q34."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_nationkey",
        pround(F.percent_rank().over(w), 6).alias("pr"),
        pround(F.cume_dist().over(w), 6).alias("cd"),
        pround(F.nth_value("c_acctbal", 2).over(wf), 2).alias("second_bal"),
    )


Q62_ORACLE = """
SELECT c_custkey,
       c_nationkey,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist()    OVER w, 6) AS cd,
       round(nth_value(c_acctbal, 2) OVER
             (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
             2) AS second_bal
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
"""


def grouped_apply_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grouped-map surface (``groupBy().applyInPandas``): per-user
    z-score of event values computed in Arrow-fed pandas (population
    std, matching ``stddev_pop``).  Semantics ARE window-expressible
    — that's deliberate: the DuckDB window oracle proves the pandas
    path exact, the same way the cogroup as-of is proven.  One
    co-partitioning shuffle; per-key state = the key's rows, so the
    window twin is the production path for unbounded keys."""
    import pandas as pd

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        std = pdf["value"].std(ddof=0)
        mean = pdf["value"].mean()
        z = (pdf["value"] - mean) / std if std > 0 else pdf["value"] * 0.0
        out = pdf[["event_id", "user_id"]].copy()
        # floor-based rounding, identical to functions/rounding.pround
        import numpy as np

        out["z"] = np.floor(z * 1_000_000 + 0.5) / 1_000_000
        return out

    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").applyInPandas(
        zscore, schema="event_id long, user_id long, z double"
    )


GROUPED_ZSCORE_ORACLE = """
SELECT event_id,
       user_id,
       CASE WHEN stddev_pop(value) OVER w > 0
            THEN floor((value - avg(value) OVER w)
                       / (stddev_pop(value) OVER w) * 1000000 + 0.5) / 1000000
            ELSE 0.0 END AS z
FROM events
WINDOW w AS (PARTITION BY user_id)
"""


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` under a full redelivery (the
    file set streamed twice): drained result equals ONE copy — the
    bounded-state dedup for at-least-once upstreams.  Oracle: plain
    DISTINCT over the single copy."""
    import os

    from aws_cdk_pipelines_datalake_etl_spark.streaming.windowed import (
        streaming_dedup_within_watermark,
    )

    return streaming_dedup_within_watermark(
        spark, os.path.join(sf_dir, "events.parquet")
    )


STREAM_DEDUP_WW_ORACLE = """
SELECT event_id, ts, event_type FROM events
"""


def cdc_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (operators/cdc.py table_diff): orders
    vs a derived snapshot with deterministic removals (key%13==0),
    changes (key%7==0 price bump), and additions (key%17 re-keyed) —
    every key classified added/removed/changed/unchanged in one
    full-outer join on md5 row fingerprints."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.cdc import table_diff

    o = _t(spark, sf_dir, "orders")
    kept = o.filter(F.col("o_orderkey") % 13 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    )
    added = o.filter(F.col("o_orderkey") % 17 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 3000000
    )
    right = kept.unionByName(added)
    return table_diff(o, right, key_cols=["o_orderkey"])


CDC_TABLE_DIFF_ORACLE = """
WITH right_t AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderkey + 3000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 17 = 0
)
SELECT coalesce(l.o_orderkey, r.o_orderkey) AS o_orderkey,
       CASE WHEN l.o_orderkey IS NULL THEN 'added'
            WHEN r.o_orderkey IS NULL THEN 'removed'
            WHEN l.o_custkey = r.o_custkey
             AND l.o_orderstatus = r.o_orderstatus
             AND l.o_totalprice = r.o_totalprice
             AND l.o_orderdate = r.o_orderdate
             AND l.o_orderpriority = r.o_orderpriority THEN 'unchanged'
            ELSE 'changed' END AS diff_status
FROM orders l FULL OUTER JOIN right_t r ON l.o_orderkey = r.o_orderkey
"""


# One SQL text, both engines (like q23/q61): the standard FILTER
# clause — per-aggregate predicates in a single grouped pass (one
# scan + one shuffle for all four conditional measures).
Q64_FILTER_SQL = """
SELECT event_type,
       count(*)                                              AS n_all,
       count(*)    FILTER (WHERE value > 50)                 AS n_high,
       round(sum(value) FILTER (WHERE value > 50), 2)        AS sum_high,
       round(avg(value) FILTER (WHERE user_id % 2 = 0), 6)   AS avg_even_users
FROM events
GROUP BY event_type
"""


def q64_filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate FILTER clause: four conditional measures in ONE
    grouped pass — identical SQL text runs on DuckDB as the oracle."""
    from aws_cdk_pipelines_datalake_etl_spark.sources.testdata import (
        register_testdata_views,
    )

    register_testdata_views(spark, sf_dir)
    return spark.sql(Q64_FILTER_SQL)


def q67_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): two
    per-bucket aggregates full-outer-joined on a key that is NULL for
    one bucket (nullif) — under plain `=` the NULL groups would never
    match and the full outer would emit them as two dangling rows;
    null-safe equality pairs them.  The hash proves Spark's eqNullSafe
    and DuckDB's IS NOT DISTINCT FROM agree on NULL-key semantics."""
    ev = _t(spark, sf_dir, "events")
    k = F.nullif(F.col("user_id") % 10, F.lit(7))
    a = ev.groupBy(k.alias("k")).agg(F.count(F.lit(1)).alias("n_all"))
    b = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(k.alias("k"))
        .agg(F.count(F.lit(1)).alias("n_purchase"))
    )
    return (
        a.join(b, a["k"].eqNullSafe(b["k"]), "full")
        .select(
            F.coalesce(a["k"], b["k"]).alias("k_val"),
            (a["k"].isNull() & b["k"].isNull()).alias("is_null_group"),
            "n_all",
            "n_purchase",
        )
    )


Q67_ORACLE = """
WITH a AS (
  SELECT nullif(user_id % 10, 7) AS k, count(*) AS n_all
  FROM events GROUP BY 1
), b AS (
  SELECT nullif(user_id % 10, 7) AS k, count(*) AS n_purchase
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT coalesce(a.k, b.k) AS k_val,
       (a.k IS NULL AND b.k IS NULL) AS is_null_group,
       n_all, n_purchase
FROM a FULL JOIN b ON a.k IS NOT DISTINCT FROM b.k
"""


def q66_mode_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group via Spark's deterministic mode()
    (ties -> lowest value); the oracle replays the same total order
    (count desc, value asc) explicitly, so tie-broken results are
    engine-exact."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.mode("event_type", True).alias("mode_event"),
        F.count(F.lit(1)).alias("n_events"),
    )


Q66_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY user_id, event_type
), r AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY n DESC, event_type) AS rn
  FROM c
)
SELECT r.user_id, r.event_type AS mode_event, t.n_events
FROM r JOIN (SELECT user_id, count(*) AS n_events
             FROM events GROUP BY user_id) t USING (user_id)
WHERE r.rn = 1
"""


def q65_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex capture groups (the extraction twin of redact_pii's
    replace): first 'th…' word per document, empty-string no-match
    normalized to NULL identically on both engines."""
    docs = _t(spark, sf_dir, "documents")
    ext = F.regexp_extract(F.col("text"), "\\b(th[a-z]{2,})", 1)
    return docs.select(
        "doc_id",
        F.nullif(ext, F.lit("")).alias("first_th_word"),
    )


Q65_ORACLE = """
SELECT doc_id,
       nullif(regexp_extract(text, '\\b(th[a-z]{2,})', 1), '') AS first_th_word
FROM documents
"""


def q63_array_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function breadth on token lists: distinct + sort + slice
    + size, all row-local (zero shuffle), list results hash-compared
    whole against DuckDB's list functions.  The slice is emitted
    CSV-joined (``first3``) so the driver canonicalizer — which can't
    factorize list cells — can hash it; the join is lossless here
    because the check is equality, not structure."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    vocab = F.array_sort(F.array_distinct(toks))
    return docs.select(
        "doc_id",
        F.size(vocab).alias("n_distinct_tokens"),
        F.array_join(F.slice(vocab, 1, 3), ",").alias("first3"),
        F.element_at(vocab, -1).alias("last_token"),
    )


Q63_ORACLE = """
SELECT doc_id,
       len(list_sort(list_distinct(string_split(lower(text), ' ')))) AS n_distinct_tokens,
       array_to_string(list_sort(list_distinct(string_split(lower(text), ' ')))[1:3], ',') AS first3,
       list_sort(list_distinct(string_split(lower(text), ' ')))[-1]  AS last_token
FROM documents
"""


from aws_cdk_pipelines_datalake_etl_spark.operators.winnow import (  # noqa: E402
    winnow_fingerprints_oracle as _winnow_fp_oracle_fn,
    winnow_overlap_oracle as _winnow_ov_oracle_fn,
)

_winnow_fp_oracle = _winnow_fp_oracle_fn()
_winnow_ov_oracle = _winnow_ov_oracle_fn(min_shared=2)


# --------------------------------------------------------------------------
# Round 6, session 2: retrieval, n-gram LM scoring, link-graph rank
# --------------------------------------------------------------------------

_BM25_QUERY_TERMS = [
    ("q_hash_join", "hash"),
    ("q_hash_join", "join"),
    ("q_window_stream", "window"),
    ("q_window_stream", "stream"),
    ("q_window_stream", "agg"),
    ("q_vector_scan", "vector"),
    ("q_vector_scan", "scan"),
    ("q_vector_scan", "fast"),
]


def retrieval_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 per query (operators/retrieval.py): three
    multi-term queries scored against the documents corpus in one
    pass.  The corpus-side inverted index is built once (one explode
    feeds tf, dl, df); the query-term table rides a broadcast so the
    corpus never reshuffles for the probe; per-term partial scores
    are micro-quantized before the per-doc bigint sum (order-safe);
    ranking partitions by query id."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.retrieval import (
        bm25_topk,
    )

    queries = spark.createDataFrame(
        _BM25_QUERY_TERMS, "query_id string, term string"
    )
    return bm25_topk(
        _t(spark, sf_dir, "documents"), queries, k=10
    )


_BM25_VALUES = ", ".join(f"('{q}','{t}')" for q, t in _BM25_QUERY_TERMS)

RETRIEVAL_BM25_ORACLE = f"""
WITH q AS (SELECT * FROM (VALUES {_BM25_VALUES}) AS t(qid, term)),
toks AS (
  SELECT doc_id AS doc, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
docterm AS (SELECT doc, term, count(*) AS tf FROM toks GROUP BY doc, term),
docstats AS (SELECT doc, count(*) AS dl FROM toks GROUP BY doc),
corpus AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM docstats),
hits AS (SELECT q.qid, dt.doc, dt.term, dt.tf FROM docterm dt JOIN q USING (term)),
termdf AS (SELECT term, count(DISTINCT doc) AS df FROM hits GROUP BY term),
parts AS (
  SELECT h.qid, h.doc,
         CAST(floor(
           ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
           * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / (sum_dl / n_docs)))))
           * 1000000 + 0.5) AS BIGINT) AS part_micro
  FROM hits h JOIN termdf USING (term) JOIN docstats USING (doc), corpus
),
scored AS (
  SELECT qid, doc, sum(part_micro) AS score_micro,
         count(*) AS n_matched_terms
  FROM parts GROUP BY qid, doc
),
ranked AS (
  SELECT qid, doc, score_micro, n_matched_terms,
         row_number() OVER (
           PARTITION BY qid ORDER BY score_micro DESC, doc ASC
         ) AS rank
  FROM scored
)
SELECT qid AS query_id, doc AS doc_id, rank,
       score_micro / 1000000.0 AS bm25, n_matched_terms
FROM ranked WHERE rank <= 10
"""


def _tf_topk(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """The second retrieval system for RRF fusion: rank docs per query
    by RAW query-term occurrence count (ties on doc id) — deliberately
    cruder than BM25 so the fused order differs from either input.
    Same scale shape as the BM25 probe: the query-term table rides a
    broadcast, the token stream never reshuffles for the probe."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import tokens

    queries = spark.createDataFrame(
        _BM25_QUERY_TERMS, "query_id string, term string"
    )
    qterms = queries.select(
        F.col("query_id").alias("qid"), "term"
    ).distinct()
    toks = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("doc"), F.explode(tokens("text")).alias("term")
    )
    scored = toks.join(F.broadcast(qterms), "term").groupBy("qid", "doc").agg(
        F.count(F.lit(1)).alias("tf_total")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("tf_total").desc(), F.col("doc").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("doc").alias("doc_id"),
            "rank",
        )
    )


def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (operators/retrieval.py:rrf_fuse) of two
    genuinely different systems over the same corpus — BM25 top-10 and
    a raw term-frequency top-10 — in exact integer nano-units
    (1e9 div (60 + rank)), so the fused ordering is engine-exact.
    The fusion itself touches only the two top-k tables: one union,
    one hash agg on (query, doc), one per-query ranking window."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.retrieval import (
        bm25_topk,
        rrf_fuse,
    )

    queries = spark.createDataFrame(
        _BM25_QUERY_TERMS, "query_id string, term string"
    )
    bm25 = bm25_topk(_t(spark, sf_dir, "documents"), queries, k=10)
    return rrf_fuse([bm25, _tf_topk(spark, sf_dir, k=10)], k=10)


_RETR_BM25_CTE = f"""
q AS (SELECT * FROM (VALUES {_BM25_VALUES}) AS t(qid, term)),
toks AS (
  SELECT doc_id AS doc, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
docterm AS (SELECT doc, term, count(*) AS tf FROM toks GROUP BY doc, term),
docstats AS (SELECT doc, count(*) AS dl FROM toks GROUP BY doc),
corpus AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM docstats),
hits AS (SELECT q.qid, dt.doc, dt.term, dt.tf FROM docterm dt JOIN q USING (term)),
termdf AS (SELECT term, count(DISTINCT doc) AS df FROM hits GROUP BY term),
parts AS (
  SELECT h.qid, h.doc,
         CAST(floor(
           ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
           * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / (sum_dl / n_docs)))))
           * 1000000 + 0.5) AS BIGINT) AS part_micro
  FROM hits h JOIN termdf USING (term) JOIN docstats USING (doc), corpus
),
bm_scored AS (
  SELECT qid, doc, sum(part_micro) AS score_micro
  FROM parts GROUP BY qid, doc
),
bm_ranked AS (
  SELECT qid, doc,
         row_number() OVER (
           PARTITION BY qid ORDER BY score_micro DESC, doc ASC
         ) AS rank
  FROM bm_scored
)"""

RETRIEVAL_RRF_FUSION_ORACLE = f"""
WITH {_RETR_BM25_CTE},
tf_scored AS (
  SELECT q.qid, t.doc, count(*) AS tf_total
  FROM toks t JOIN q USING (term) GROUP BY q.qid, t.doc
),
tf_ranked AS (
  SELECT qid, doc,
         row_number() OVER (
           PARTITION BY qid ORDER BY tf_total DESC, doc ASC
         ) AS rank
  FROM tf_scored
),
pooled AS (
  SELECT qid, doc, 1000000000 // (60 + rank) AS part_nano
  FROM bm_ranked WHERE rank <= 10
  UNION ALL
  SELECT qid, doc, 1000000000 // (60 + rank)
  FROM tf_ranked WHERE rank <= 10
),
fused AS (
  SELECT qid, doc,
         CAST(sum(part_nano) AS BIGINT) AS rrf_nano,
         count(*) AS n_systems
  FROM pooled GROUP BY qid, doc
),
franked AS (
  SELECT qid, doc, rrf_nano, n_systems,
         row_number() OVER (
           PARTITION BY qid ORDER BY rrf_nano DESC, doc ASC
         ) AS rank
  FROM fused
)
SELECT qid AS query_id, doc AS doc_id, rank, rrf_nano, n_systems
FROM franked WHERE rank <= 10
"""

# qrels derivation shared by the Spark entry and the oracle: one
# residue filter per query, plus one query judged but never retrieved.
_QRELS_RULES = [
    ("q_hash_join", 17, 0),
    ("q_window_stream", 19, 3),
    ("q_vector_scan", 23, 5),
    ("q_never_retrieved", 29, 1),
]


def retrieval_metrics_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality metrics (operators/retrieval.py:
    retrieval_metrics) of the BM25 top-10 against a deterministic
    synthetic qrels table (per-query residue classes of doc_id; one
    query judged relevant but never retrieved exercises the
    zero-hit row).  Every metric is an exact integer (micro-unit
    recall/MRR), so the comparison is bit-level; the qrels side rides
    a broadcast (plan-asserted in tests/test_retrieval.py)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.retrieval import (
        bm25_topk,
        retrieval_metrics,
    )

    docs = _t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        _BM25_QUERY_TERMS, "query_id string, term string"
    )
    results = bm25_topk(docs, queries, k=10)
    rels = [
        docs.select(
            F.lit(qid).alias("query_id"), F.col("doc_id")
        ).filter(F.col("doc_id") % m == r)
        for qid, m, r in _QRELS_RULES
    ]
    qrels = rels[0]
    for part in rels[1:]:
        qrels = qrels.unionByName(part)
    return retrieval_metrics(results, qrels, k=10).orderBy("query_id")


_QRELS_SQL = "\n  UNION ALL\n".join(
    f"  SELECT '{qid}' AS qid, doc_id AS doc FROM documents"
    f" WHERE doc_id % {m} = {r}"
    for qid, m, r in _QRELS_RULES
)

RETRIEVAL_METRICS_ORACLE = f"""
WITH {_RETR_BM25_CTE},
res AS (SELECT qid, doc, rank FROM bm_ranked WHERE rank <= 10),
rel AS (
{_QRELS_SQL}
),
nrel AS (SELECT qid, count(*) AS n_relevant FROM rel GROUP BY qid),
matched AS (
  SELECT r.qid, count(*) AS hits_at_k, min(r.rank) AS first_rel_rank
  FROM res r JOIN rel USING (qid, doc) GROUP BY r.qid
)
SELECT n.qid AS query_id,
       CAST(COALESCE(m.hits_at_k, 0) AS BIGINT) AS hits_at_k,
       CAST(n.n_relevant AS BIGINT) AS n_relevant,
       CAST(COALESCE(m.hits_at_k, 0) * 1000000 // n.n_relevant AS BIGINT)
         AS recall_at_k_micro,
       CAST(COALESCE(1000000 // m.first_rel_rank, 0) AS BIGINT) AS mrr_micro
FROM nrel n LEFT JOIN matched m ON n.qid = m.qid
"""


def retrieval_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 hard-negative mining (operators/retrieval.py:
    bm25_hard_negatives — the DPR recipe, Karpukhin et al. 2020): the
    deterministic residue-class qrels are the positives; the 10
    best-scoring NON-relevant docs from each query's BM25 top-50 are
    the mined negatives a contrastive dual-encoder trains against.
    The qrels ride a broadcast LEFT ANTI join over the queries x 50
    ranked rows — corpus-independent after the probe; scores are
    integer-micro sums so both rankings are engine-exact."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.retrieval import (
        bm25_hard_negatives,
    )

    docs = _t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        _BM25_QUERY_TERMS, "query_id string, term string"
    )
    rels = [
        docs.select(
            F.lit(qid).alias("query_id"), F.col("doc_id")
        ).filter(F.col("doc_id") % m == r)
        for qid, m, r in _QRELS_RULES
    ]
    qrels = rels[0]
    for part in rels[1:]:
        qrels = qrels.unionByName(part)
    return bm25_hard_negatives(
        docs, queries, positives=qrels, k_neg=10, depth=50
    ).orderBy("query_id", "neg_rank")


RETRIEVAL_HARD_NEGATIVES_ORACLE = f"""
WITH q AS (SELECT * FROM (VALUES {_BM25_VALUES}) AS t(qid, term)),
toks AS (
  SELECT doc_id AS doc, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
docterm AS (SELECT doc, term, count(*) AS tf FROM toks GROUP BY doc, term),
docstats AS (SELECT doc, count(*) AS dl FROM toks GROUP BY doc),
corpus AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM docstats),
hits AS (SELECT q.qid, dt.doc, dt.term, dt.tf FROM docterm dt JOIN q USING (term)),
termdf AS (SELECT term, count(DISTINCT doc) AS df FROM hits GROUP BY term),
parts AS (
  SELECT h.qid, h.doc,
         CAST(floor(
           ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
           * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / (sum_dl / n_docs)))))
           * 1000000 + 0.5) AS BIGINT) AS part_micro
  FROM hits h JOIN termdf USING (term) JOIN docstats USING (doc), corpus
),
hn_scored AS (
  SELECT qid, doc, sum(part_micro) AS score_micro,
         count(*) AS n_matched_terms
  FROM parts GROUP BY qid, doc
),
hn_ranked AS (
  SELECT qid, doc, score_micro, n_matched_terms,
         row_number() OVER (
           PARTITION BY qid ORDER BY score_micro DESC, doc ASC
         ) AS rank
  FROM hn_scored
),
rel AS (
{_QRELS_SQL}
),
cand AS (
  SELECT r.qid, r.doc, r.rank, r.score_micro, r.n_matched_terms,
         row_number() OVER (
           PARTITION BY r.qid ORDER BY r.rank ASC
         ) AS neg_rank
  FROM (SELECT * FROM hn_ranked WHERE rank <= 50) r
  LEFT JOIN rel ON rel.qid = r.qid AND rel.doc = r.doc
  WHERE rel.doc IS NULL
)
SELECT qid AS query_id, doc AS doc_id, neg_rank, rank,
       score_micro / 1000000.0 AS bm25, n_matched_terms
FROM cand WHERE neg_rank <= 10
"""


def _lm_splits(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
    )


def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality-rule set (operators/text.py:
    gopher_rules — Rae et al. 2021 Appendix A) over the documents
    corpus: word-count band, mean-word-length band, symbol ratio,
    bullet/ellipsis line ratios, alphabetic-word ratio, stop-word
    floor, and the conjunctive ``keep``.  Every ratio threshold is an
    integer cross-multiply, so the booleans are engine-exact; one
    codegen'd narrow scan, zero shuffle."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.text import (
        gopher_rules,
    )

    return gopher_rules(_t(spark, sf_dir, "documents"))


TEXT_GOPHER_ORACLE = """
WITH t AS (
  SELECT doc_id,
         string_split(lower(text), ' ') AS toks,
         string_split(text, chr(10)) AS lines
  FROM documents
),
m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         list_sum(list_transform(toks, w -> length(w))) AS total_len,
         len(list_filter(toks,
             w -> contains(w, '#') OR contains(w, '...'))) AS n_symbolish,
         len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
         len(lines) AS n_lines,
         len(list_filter(lines,
             ln -> starts_with(trim(ln), '•')
                OR starts_with(trim(ln), '- ')
                OR starts_with(trim(ln), '* '))) AS n_bullet,
         len(list_filter(lines,
             ln -> ends_with(trim(ln), '...'))) AS n_ellipsis,
         len(list_intersect(list_distinct(toks),
             ['the','be','to','of','and','that','have','with'])) AS n_stop
  FROM t
)
SELECT doc_id,
       CAST(n_words AS INT) AS n_words,
       (n_words >= 50 AND n_words <= 100000) AS r_word_count,
       (total_len >= 3 * n_words AND total_len <= 10 * n_words)
         AS r_mean_word_len,
       (10 * n_symbolish <= n_words) AS r_symbol_ratio,
       (10 * n_bullet <= 9 * n_lines) AS r_bullet_lines,
       (10 * n_ellipsis <= 3 * n_lines) AS r_ellipsis_lines,
       (10 * n_alpha >= 8 * n_words) AS r_alpha_words,
       (n_stop >= 2) AS r_stopwords,
       ((n_words >= 50 AND n_words <= 100000)
        AND (total_len >= 3 * n_words AND total_len <= 10 * n_words)
        AND (10 * n_symbolish <= n_words)
        AND (10 * n_bullet <= 9 * n_lines)
        AND (10 * n_ellipsis <= 3 * n_lines)
        AND (10 * n_alpha >= 8 * n_words)
        AND (n_stop >= 2)) AS keep
FROM m
"""


def tokenizer_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE tokenizer (operators/bpe.py): merges trained on the
    90% split (one distributed word-count shuffle + driver merge loop
    over the bounded word-frequency table — the standard production
    decomposition), then the held-out 10% encoded row-locally with the
    broadcast merge table (Arrow-batched, zero shuffle, plan-asserted
    in tests/test_bpe.py).  Rows-only: the merge loop's
    argmax-with-rewrite is not SQL-expressible — the stronger gates
    are in pytest (the Sennrich 2016 hand example, encode/decode
    identity, merge-priority order, partition-layout-invariant
    training, non-overlapping merge semantics incl. the 'tthh'
    chain-merge trap)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.bpe import (
        bpe_encode,
        train_bpe,
    )

    train, held = _lm_splits(spark, sf_dir)
    merges = train_bpe(train, n_merges=120)
    return bpe_encode(held, merges).orderBy("doc_id")


def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gzip-compressibility quality signal (operators/text.py:
    compression_ratio — a RedPajama-v2 quality signal): integer
    micro-ratio of zlib-compressed to raw bytes per document.
    Rows-only (no SQL zlib); ordering/determinism gates in
    tests/test_text_ops.py.  Arrow-batched, zero shuffle."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.text import (
        compression_ratio,
    )

    return compression_ratio(_t(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


def tokenizer_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer (operators/unigram.py — Kudo 2018, the
    SentencePiece algorithm; T5/Llama-family vocabularies): substring
    seeding + hard-EM/prune rounds over the bounded word table
    (driver-side, the BPE precedent), integer micro-nat piece scores
    so Viterbi is bit-deterministic, then the held-out 10% encoded
    row-locally with the broadcast model (Arrow-batched, zero
    shuffle).  Serialized as ids_joined for the driver canonicalizer.
    Rows-only: EM/prune is not SQL-expressible — pytest pins hand
    segmentations, decode identity, coverage, determinism."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.unigram import (
        train_unigram_from_corpus,
        unigram_encode_ids,
    )

    train, held = _lm_splits(spark, sf_dir)
    scores, vocab = train_unigram_from_corpus(train, vocab_size=512)
    out = unigram_encode_ids(held, scores, vocab)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_unk",
        F.array_join(F.col("token_ids").cast("array<string>"), " ").alias(
            "ids_joined"
        ),
    ).orderBy("doc_id")


def corpus_packed_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenize->pack junction (operators/bpe.py:bpe_encode_ids ->
    operators/chunking.py:pack_token_sequences) — the TERMINAL
    artifact of an LLM data pipeline: BPE merges + vocab trained on
    the 90% split (one word-count shuffle, bounded collect) with the
    ``<|endoftext|>`` special reserved at the vocab tail, the held-out
    10% encoded to token-id sequences row-locally (broadcast
    merge/vocab tables, Arrow-batched), then cut into fixed 64-id
    training sequences with docs spilling across cuts (16-shard md5
    packing, two shuffles) — EOD sentinel appended per document and
    per-sequence attention-mask ``doc_spans`` emitted (serialized
    ``pos:len``), so the artifact is directly trainable.  Rows-only:
    the BPE merge loop is not SQL-expressible; the stronger gates are
    in pytest (tests/test_packing.py: budget invariant, concatenation
    identity, span tiling/mask boundaries, eod+span consistency,
    partition invariance; tests/test_bpe.py: id round-trip, unified
    train/encode tokenization) plus the hash-verified
    text_pack_sequences twin that oracle-replays the identical
    eod/span math.  ``token_ids`` is serialized with array_join — the
    driver canonicalizer cannot hash arrays."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.bpe import (
        bpe_encode_ids,
        train_bpe_with_vocab,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.chunking import (
        pack_token_sequences,
    )

    train, held = _lm_splits(spark, sf_dir)
    merges, vocab = train_bpe_with_vocab(
        train, n_merges=120, specials=("<|endoftext|>",)
    )
    encoded = bpe_encode_ids(held, merges, vocab)
    packed = pack_token_sequences(
        encoded,
        budget_tokens=64,
        eod_id=vocab["<|endoftext|>"],
        emit_doc_spans=True,
    )
    return packed.select(
        "shard",
        "seq_id",
        "n_tokens",
        F.array_join(F.col("token_ids").cast("array<string>"), " ").alias(
            "ids_joined"
        ),
        F.array_join(
            F.transform(
                "doc_spans", lambda s: F.concat_ws(":", s["pos"], s["len"])
            ),
            " ",
        ).alias("spans_joined"),
    ).orderBy("shard", "seq_id")


def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing operator alone, ORACLE-BACKED (the corpus_packed_ids
    twin isolates pack_token_sequences from the non-SQL-expressible
    BPE trainer): whitespace tokens map to ids through the portable
    48-bit md5 hash (mod 1000), the reserved sentinel id 1000 is
    appended per document (``eod_id`` — GPT end-of-document), then the
    stream is cut into fixed 32-id training sequences with docs
    spilling across cuts; ``emit_doc_spans`` adds the per-sequence
    attention-mask boundary spans, serialized ``pos:len`` (the driver
    canonicalizer cannot hash struct arrays).  The DuckDB oracle
    replays the identical hash, sentinel append, shard, running-sum
    offset, slice fan-out, reassembly AND span math — every stage of
    the trainable artifact is hash-verified, not just row counts."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        hash48,
        tokens,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.chunking import (
        pack_token_sequences,
    )

    docs = _t(spark, sf_dir, "documents")
    ids = docs.select(
        "doc_id",
        F.transform(
            tokens("text"), lambda w: (hash48(w) % 1000).cast("int")
        ).alias("token_ids"),
    )
    packed = pack_token_sequences(
        ids, budget_tokens=32, eod_id=1000, emit_doc_spans=True
    )
    return packed.select(
        "shard",
        "seq_id",
        "n_tokens",
        F.array_join(F.col("token_ids").cast("array<string>"), " ").alias(
            "ids_joined"
        ),
        F.array_join(
            F.transform(
                "doc_spans", lambda s: F.concat_ws(":", s["pos"], s["len"])
            ),
            " ",
        ).alias("spans_joined"),
    ).orderBy("shard", "seq_id")


_PACK_PIPELINE_CTES = """toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
),
ids AS (
  SELECT doc_id,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         list_append(list_transform(ws, w ->
           CAST((('0x' || substr(md5(w), 1, 12))::BIGINT % 1000) AS INT)),
           1000) AS tid,
         len(ws) + 1 AS n
  FROM toks WHERE len(ws) > 0
),
off AS (
  SELECT *, CAST(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS s
  FROM ids
),
pieces AS (
  SELECT shard, s, n, tid,
         unnest(generate_series(s // 32, (s + n - 1) // 32)) AS seq_id
  FROM off
),
cut AS (
  SELECT shard, seq_id,
         greatest(seq_id * 32, s) - seq_id * 32 AS pos,
         tid[(greatest(seq_id * 32, s) - s + 1):
             (least((seq_id + 1) * 32, s + n) - s)] AS piece
  FROM pieces
),
packed AS (
  SELECT shard, seq_id,
         flatten(list(piece ORDER BY pos)) AS token_ids,
         string_agg(CAST(pos AS VARCHAR) || ':' || CAST(len(piece) AS VARCHAR),
                    ' ' ORDER BY pos) AS spans_joined
  FROM cut GROUP BY shard, seq_id
)"""

TEXT_PACK_SEQUENCES_ORACLE = f"""
WITH {_PACK_PIPELINE_CTES}
SELECT shard,
       CAST(seq_id AS BIGINT) AS seq_id,
       CAST(len(token_ids) AS INT) AS n_tokens,
       array_to_string(token_ids, ' ') AS ids_joined,
       spans_joined
FROM packed
"""


def sample_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch plan (operators/sampling.py: epoch_plan —
    round 10, the LLaMA-style mixture table where small high-quality
    sources run >1 epoch): tempered sqrt-token weights (the
    temperature_mix floor-quantized IEEE device), then pure bigint
    budget split -> full epochs + remainder tokens per source.
    Budget fixed at 60000 tokens (~2.2x the sf0.01 corpus) so full
    epochs genuinely exceed 1."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        epoch_plan,
    )

    return epoch_plan(
        _t(spark, sf_dir, "documents"), budget_tokens=60_000
    ).orderBy("source")


_EPOCH_PLAN_CTES = """c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5)
                 AS BIGINT) AS weight_micro
  FROM c
),
t AS (SELECT sum(weight_micro) AS zq FROM w),
plan AS (
  SELECT w.source, w.n_docs, w.n_tokens,
         CAST(w.weight_micro * 1000000 // t.zq AS BIGINT) AS share_micro,
         CAST(60000 * (w.weight_micro * 1000000 // t.zq) // 1000000
              AS BIGINT) AS budget_i
  FROM w, t
),
plan2 AS (
  SELECT *, CAST(budget_i // n_tokens AS BIGINT) AS n_full_epochs,
         CAST(budget_i % n_tokens AS BIGINT) AS remainder_tokens,
         CAST(budget_i * 1000000 // n_tokens AS BIGINT) AS n_epochs_micro
  FROM plan
)"""


SAMPLE_EPOCH_PLAN_ORACLE = f"""
WITH {_EPOCH_PLAN_CTES}
SELECT source, n_docs, n_tokens, share_micro, budget_i, n_full_epochs,
       remainder_tokens, n_epochs_micro
FROM plan2
"""


def corpus_epoch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The epoch plan REALIZED as the repeated training stream
    (operators/sampling.py: materialize_epochs — round 10): each doc
    once per full epoch (row-local explode — output-proportional)
    plus the deterministic greedy md5-ordered prefix of each source
    fitting the remainder tokens as the final partial epoch.  The
    DuckDB oracle replays the plan, the generate_series repeat AND
    the per-source running-sum cut."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        epoch_plan,
        materialize_epochs,
    )

    docs = _t(spark, sf_dir, "documents")
    plan = epoch_plan(docs, budget_tokens=60_000)
    return materialize_epochs(docs, plan).orderBy(
        "source", "epoch", "doc_id"
    )


CORPUS_EPOCH_STREAM_ORACLE = f"""
WITH {_EPOCH_PLAN_CTES},
d AS (
  SELECT doc_id, source,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt
  FROM documents
),
joined AS (
  SELECT d.*, p.n_full_epochs, p.remainder_tokens
  FROM d JOIN plan2 p USING (source)
),
full_eps AS (
  SELECT doc_id, source, CAST(unnest(generate_series(1, n_full_epochs))
                              AS BIGINT) AS epoch
  FROM joined WHERE n_full_epochs >= 1
),
runs AS (
  SELECT *, sum(nt) OVER (PARTITION BY source
                          ORDER BY md5(CAST(doc_id AS VARCHAR))
                          ROWS UNBOUNDED PRECEDING) AS run_
  FROM joined
),
partial AS (
  SELECT doc_id, source, CAST(n_full_epochs + 1 AS BIGINT) AS epoch
  FROM runs WHERE run_ <= remainder_tokens
)
SELECT * FROM full_eps UNION ALL SELECT * FROM partial
"""


def corpus_source_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THETA-SKETCH twin of corpus_source_overlap (operators/
    dedup.py: source_overlap_matrix_sketch — round 10): each source
    compresses to one bounded mergeable sketch, the matrix is set
    algebra over n_sources blobs — the 100 TB form when per-source
    shingle sets run to 1e13 distinct members.  Sized in EXACT mode
    (<32k distinct/source at oracle scale) so it hash-matches the
    exact twin's DuckDB oracle; past that it degrades to ~1-2% error
    instead of failing (the sketch_theta_audience precedent)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.dedup import (
        source_overlap_matrix_sketch,
    )

    return source_overlap_matrix_sketch(
        _t(spark, sf_dir, "documents"), k=3
    ).orderBy("source_a", "source_b")


def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order (operators/sampling.py:
    curriculum_order — round 10, Bengio et al. 2009 easy-to-hard
    scheduling): a TOTAL global rank visiting difficulty buckets in
    order (length tiers here: least(3, n_tokens div 25), shortest
    first) with the epoch-keyed hash shuffle WITHIN each bucket.
    Ranks assemble distributed (the epoch_shuffle device on the
    composite (difficulty, hash-prefix) bucket — no global-window
    funnel); the oracle replays the identical total order with one
    window."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        tokens,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        curriculum_order,
    )

    docs = _t(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        F.least(F.lit(3), F.expr("size(split(lower(text), ' ')) div 25"))
        .cast("int")
        .alias("difficulty"),
    )
    return curriculum_order(b, "difficulty", epoch=1).orderBy(
        "curriculum_rank"
    )


CORPUS_CURRICULUM_ORDER_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CAST(least(3, len(string_split(lower(text), ' ')) // 25) AS INT)
           AS difficulty
  FROM documents
),
k AS (
  SELECT *,
         ('0x' || substr(md5('1:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
           AS ek
  FROM d
)
SELECT doc_id, difficulty,
       CAST(row_number() OVER (ORDER BY difficulty ASC, ek ASC, doc_id ASC)
            AS BIGINT) AS curriculum_rank
FROM k
"""


def corpus_quality_znorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source z-normalization of a quality signal (operators/
    text.py: group_zscore — round 10): token count z-scored WITHIN
    each source, the cross-source calibration step before a global
    quality threshold.  Exact decimal moments (q68 device), exact
    zero-variance detection (min==max), and the identical
    correctly-rounded IEEE mean/var/sqrt/divide expression tree in
    both engines (the BM25-idf precedent) make the floor-quantized
    micro z-score hash-exact."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    vals = docs.select(
        "doc_id", "source", token_count("text").alias("n_tokens")
    )
    return tx.group_zscore(vals, "n_tokens").orderBy("doc_id")


CORPUS_QUALITY_ZNORM_ORACLE = """
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
st AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         sum(n_tokens) AS s, sum(n_tokens * n_tokens) AS ss,
         min(n_tokens) AS lo, max(n_tokens) AS hi
  FROM d GROUP BY source
),
m AS (
  SELECT source,
         CAST(s AS DOUBLE) / n AS mean_,
         CAST(ss AS DOUBLE) / n
           - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) AS var_,
         lo = hi AS zero_
  FROM st
)
SELECT d.doc_id, d.source, d.n_tokens,
       CASE WHEN NOT zero_
            THEN CAST(floor((d.n_tokens - mean_) / sqrt(var_) * 1000000.0
                            + 0.5) AS BIGINT)
            END AS z_micro
FROM d JOIN m USING (source)
"""


def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram novelty (operators/dedup.py: ngram_novelty —
    round 10): fraction of a doc's distinct word-8-grams whose FIRST
    corpus occurrence (min doc id) is the doc itself — the
    memorization/novelty curve.  Constant-state min-id gram agg (the
    complement-scheme shape: the novel count falls out of the owner
    table with NO gram-keyed join-back), one doc-keyed join, integer
    micro-ratio.  text-key form here so DuckDB replays the whole
    relation; key='hash' is the production twin (8-byte shuffle
    keys), proven identical in pytest."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.dedup import (
        ngram_novelty,
    )

    return ngram_novelty(_t(spark, sf_dir, "documents"), k=8, key="text")


CORPUS_NGRAM_NOVELTY_ORACLE = """
WITH toks AS (
  SELECT doc_id AS id, string_split(lower(text), ' ') AS w FROM documents
), g AS (
  SELECT DISTINCT id,
         array_to_string(w[i:i+7], ' ') AS gram
  FROM (SELECT id, w, unnest(generate_series(1, len(w) - 7)) AS i
        FROM toks WHERE len(w) >= 8)
), per_doc AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY id
), novel AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_novel
  FROM (SELECT gram, min(id) AS id FROM g GROUP BY gram) GROUP BY id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
       CASE WHEN coalesce(p.n_grams, 0) > 0
            THEN CAST(coalesce(n.n_novel, 0) * 1000000 // p.n_grams
                      AS BIGINT)
            END AS novelty_micro
FROM documents d
LEFT JOIN per_doc p ON p.id = d.doc_id
LEFT JOIN novel n ON n.id = d.doc_id
"""


def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix (operators/dedup.py:
    source_overlap_matrix — round 10): distinct word-3-gram sets per
    SOURCE, then per-shingle source-set aggregation with a row-local
    unordered-pair fan-out (bounded by the small driver-known source
    set — never a shingle-table self-join), joined to per-source set
    sizes for exact integer micro Jaccard and smaller-side
    containment (the mirror-feed detector).  The DuckDB oracle does
    the quadratic self-join the distributed plan avoids — same
    relation."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.dedup import (
        source_overlap_matrix,
    )

    return source_overlap_matrix(
        _t(spark, sf_dir, "documents"), k=3
    ).orderBy("source_a", "source_b")


CORPUS_SOURCE_OVERLAP_ORACLE = """
WITH toks AS (
  SELECT source, string_split(lower(text), ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM (SELECT source, w, unnest(generate_series(1, len(w) - 2)) AS i
        FROM toks WHERE len(w) >= 3)
), sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source
), pair AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared, sa.n AS n_a, sb.n AS n_b,
       CAST(n_shared * 1000000 // (sa.n + sb.n - n_shared) AS BIGINT)
         AS jaccard_micro,
       CAST(n_shared * 1000000 // least(sa.n, sb.n) AS BIGINT)
         AS containment_micro
FROM pair
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
"""


def corpus_pack_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing observability (operators/chunking.py:
    packing_efficiency — round 10): the per-shard efficiency report a
    training pipeline publishes next to the packed artifact — full-
    sequence share, pad volume the loader will burn, and document
    fragmentation (pieces per sequence), all integer micro-ratios
    (the div contract).  One hash agg over the same hash-token-id +
    EOD + 32-budget pack as text_pack_sequences; the DuckDB oracle
    replays the whole pack pipeline and the report aggregation."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        hash48,
        tokens,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.chunking import (
        pack_token_sequences,
        packing_efficiency,
    )

    docs = _t(spark, sf_dir, "documents")
    ids = docs.select(
        "doc_id",
        F.transform(
            tokens("text"), lambda w: (hash48(w) % 1000).cast("int")
        ).alias("token_ids"),
    )
    packed = pack_token_sequences(
        ids, budget_tokens=32, eod_id=1000, emit_doc_spans=True
    )
    return packing_efficiency(packed, budget_tokens=32).orderBy("shard")


CORPUS_PACK_REPORT_ORACLE = f"""
WITH {_PACK_PIPELINE_CTES},
withspans AS (
  SELECT shard, seq_id, len(token_ids) AS n_tokens,
         len(string_split(spans_joined, ' ')) AS n_pieces
  FROM packed
),
rep AS (
  SELECT shard,
         CAST(count(*) AS BIGINT) AS n_seqs,
         CAST(sum(CASE WHEN n_tokens = 32 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_full_seqs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         CAST(sum(32 - n_tokens) AS BIGINT) AS n_pad,
         CAST(sum(n_pieces) AS BIGINT) AS n_doc_pieces
  FROM withspans GROUP BY shard
)
SELECT shard, n_seqs, n_full_seqs, n_tokens, n_pad,
       CAST(n_tokens * 1000000 // (n_seqs * 32) AS BIGINT)
         AS fill_ratio_micro,
       n_doc_pieces,
       CAST(n_doc_pieces * 1000000 // n_seqs AS BIGINT)
         AS pieces_per_seq_micro
FROM rep
"""


def corpus_training_set_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SESSION capstone: the terminal trainable artifact built by
    the three families added this session, composed end-to-end and
    oracle-replayed at every stage — SELECT (DSIR importance top-200
    of the raw pool against the src0/src1 target domain), AUGMENT
    (document-level FIM at the paper's 0.9 rate, sentinels
    1001/1002/1003 — the published order: FIM before packing), PACK
    (EOD 1000 appended per doc, fixed 32-id sequences with per-piece
    doc_spans).  The DuckDB oracle replays the weights, the selection,
    the FIM draws and reordering, the shard/offset/slice/reassembly
    and the span math as one SQL statement — the packed ids of the
    selected-and-augmented corpus hash-verify bit for bit."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        hash48,
        tokens,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.augment import (
        fim_transform,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.chunking import (
        pack_token_sequences,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.dsir import (
        dsir_topk,
        dsir_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    w = dsir_weights(
        docs, F.col("source").isin("src0", "src1"), dim=4096
    )
    sel = dsir_topk(w, k=200).select("doc_id")
    ids = docs.join(sel, "doc_id").select(
        "doc_id",
        F.transform(
            tokens("text"), lambda t: (hash48(t) % 1000).cast("int")
        ).alias("token_ids"),
    )
    fim = fim_transform(
        ids, pre_id=1001, suf_id=1002, mid_id=1003, rate_micro=900_000
    ).select("doc_id", "token_ids")
    packed = pack_token_sequences(
        fim, budget_tokens=32, eod_id=1000, emit_doc_spans=True
    )
    return packed.select(
        "shard",
        "seq_id",
        "n_tokens",
        F.array_join(F.col("token_ids").cast("array<string>"), " ").alias(
            "ids_joined"
        ),
        F.array_join(
            F.transform(
                "doc_spans", lambda s: F.concat_ws(":", s["pos"], s["len"])
            ),
            " ",
        ).alias("spans_joined"),
    )




def corpus_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-supervision distillation (operators/classifier.py): the
    90% split is labeled by the Gopher rule set (cheap rules as the
    teacher), a hashed-bag-of-words logistic regression is trained on
    those labels by batch GD — every corpus-sized reduction an integer
    micro-unit sum, so the weights are bit-identical under any
    partitioning — and the held-out 10% is scored with the broadcast
    quantized weight table.  Rows-only: the GD loop is not
    SQL-expressible; the stronger gates are in pytest
    (tests/test_classifier.py: held-out accuracy 1.0 on separable
    data, EXACT partition invariance of the learned weights, the
    gopher-rules weak-supervision composition, broadcast/no-Python
    plan)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.classifier import (
        score_quality,
        train_quality_classifier,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.text import (
        gopher_rules,
    )

    train, held = _lm_splits(spark, sf_dir)
    # r12: keep is row-local — take (doc_id, text, keep) from ONE
    # gopher pass (extra_cols) instead of self-joining rules back onto
    # the split (identical rows: the join was 1:1 on the unique key)
    labeled = gopher_rules(train, extra_cols=("text",)).select(
        "doc_id", "text", "keep"
    )
    w = train_quality_classifier(
        labeled, "keep", dim=1024, iterations=10, lr=1.0
    )
    return score_quality(held, w, dim=1024).orderBy("doc_id")


def text_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (operators/augment.py:fim_transform —
    Bavarian et al. 2022, PSM mode): portable-hash token ids (the
    text_pack_sequences device), sentinels 1000/1001/1002, the
    paper's 0.9 apply rate, hash-derived cut points — fully
    deterministic, so the DuckDB oracle replays ids, draws, cuts and
    the PSM reordering exactly.  One narrow projection, no shuffle."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        hash48,
        tokens,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.augment import (
        fim_transform,
    )

    docs = _t(spark, sf_dir, "documents")
    ids = docs.select(
        "doc_id",
        F.transform(
            tokens("text"), lambda w: (hash48(w) % 1000).cast("int")
        ).alias("token_ids"),
    )
    out = fim_transform(ids, rate_micro=900_000)
    return out.select(
        "doc_id",
        "fim_applied",
        "n_tokens",
        F.array_join(F.col("token_ids").cast("array<string>"), " ").alias(
            "ids_joined"
        ),
    )


_FIM_IDS_SQL = """
  SELECT doc_id,
         list_transform(string_split(lower(text), ' '),
           w -> CAST(('0x' || substr(md5(w), 1, 12))::BIGINT % 1000 AS INT)
         ) AS ids
  FROM documents
"""

TEXT_FIM_ORACLE = f"""
WITH d AS ({_FIM_IDS_SQL}),
p AS (
  SELECT doc_id, ids, len(ids) AS n,
         ('0x' || substr(md5(doc_id::VARCHAR || ':u1'), 1, 12))::BIGINT
           % (len(ids) + 1) AS u1,
         ('0x' || substr(md5(doc_id::VARCHAR || ':u2'), 1, 12))::BIGINT
           % (len(ids) + 1) AS u2,
         (('0x' || substr(md5(doc_id::VARCHAR || ':apply'), 1, 12))::BIGINT
           % 1000000 < 900000) AND len(ids) >= 1 AS applied
  FROM d
),
c AS (
  SELECT doc_id, ids, n, applied,
         least(u1, u2) AS lo, greatest(u1, u2) AS hi
  FROM p
)
SELECT doc_id, applied AS fim_applied,
       CAST(CASE WHEN applied THEN n + 3 ELSE n END AS INT) AS n_tokens,
       coalesce(array_to_string(
         CASE WHEN applied
              THEN [1000] || ids[1:lo] || [1001] || ids[hi+1:n]
                   || [1002] || ids[lo+1:hi]
              ELSE ids END, ' '), '') AS ids_joined
FROM c
"""


def text_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span corruption, blocked variant (operators/augment.py:
    span_corruption — Raffel et al. 2020; one span of 3 at a
    hash-derived offset per full 20-token window = exactly 15%
    corruption, no sequential span sampler; deviation documented in
    the operator).  Sentinels 1000+k per window index; encoder inputs
    and decoder targets emitted side by side.  Pure row-local array
    algebra over portable-hash ids — the oracle replays windows,
    offsets, drops, sentinels and targets exactly."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        hash48,
        tokens,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.augment import (
        span_corruption,
    )

    docs = _t(spark, sf_dir, "documents")
    ids = docs.select(
        "doc_id",
        F.transform(
            tokens("text"), lambda w: (hash48(w) % 1000).cast("int")
        ).alias("token_ids"),
    )
    out = span_corruption(ids, window=20, span_len=3)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_spans",
        F.array_join(F.col("inputs").cast("array<string>"), " ").alias(
            "inputs_joined"
        ),
        F.array_join(F.col("targets").cast("array<string>"), " ").alias(
            "targets_joined"
        ),
    )


TEXT_SPAN_CORRUPTION_ORACLE = f"""
WITH d AS ({_FIM_IDS_SQL}),
p AS (
  SELECT doc_id, ids, len(ids) AS n,
         CAST(floor(len(ids) / 20) AS INT) AS n_win
  FROM d
),
w AS (
  -- per full window: hash-derived span start (0-based)
  SELECT doc_id, ids, n, n_win,
         list_transform(
           CASE WHEN n_win >= 1
                THEN range(0, n_win) ELSE CAST([] AS INT[]) END,
           k -> k * 20 + CAST(
                  ('0x' || substr(md5(doc_id::VARCHAR || ':w' || k::VARCHAR),
                                  1, 12))::BIGINT % 18 AS INT)
         ) AS starts
  FROM p
)
SELECT doc_id,
       CAST(n AS INT) AS n_tokens,
       CAST(n_win AS INT) AS n_spans,
       coalesce(array_to_string(
         list_filter(
           list_transform(
             CASE WHEN n >= 1 THEN range(0, CAST(n AS INT))
                  ELSE CAST([] AS INT[]) END,
             pos -> CASE
               WHEN CAST(floor(pos / 20) AS INT) >= n_win
                    OR pos < starts[CAST(floor(pos / 20) AS INT) + 1]
                    OR pos >= starts[CAST(floor(pos / 20) AS INT) + 1] + 3
                 THEN ids[pos + 1]
               WHEN pos = starts[CAST(floor(pos / 20) AS INT) + 1]
                 THEN 1000 + CAST(floor(pos / 20) AS INT)
               ELSE NULL END
           ),
           x -> x IS NOT NULL), ' '), '') AS inputs_joined,
       coalesce(array_to_string(
         flatten(list_transform(
           CASE WHEN n_win >= 1 THEN range(0, n_win)
                ELSE CAST([] AS INT[]) END,
           k -> [1000 + k] || ids[starts[k + 1] + 1 : starts[k + 1] + 3]
         )), ' '), '') AS targets_joined
FROM w
"""


def corpus_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classifier SCORING path, ORACLE-BACKED (VERDICT r8 #4 — the
    corpus_quality_classifier twin keeps the full GD loop rows-only):
    Gopher-rule teacher labels on the 90% split, ONE batch-GD step
    from w=0 (operators/classifier.py:train_one_step_micro — at zero
    weights the residual is the integer 500000 - 1000000*y, the
    per-slot gradient an integer sum, and the single float step uses
    only correctly-rounded IEEE multiply/divide), then the held-out
    10% scored with the broadcast quantized weight table: integer dot
    product + sign (operators/classifier.py:score_quality_micro).
    Features use the portable 48-bit md5 hash (the text_pack_sequences
    device) so DuckDB replays labels, features, gradient, weights, and
    scores — the entire scoring dataflow hash-verifies."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.classifier import (
        score_quality_micro,
        train_one_step_micro,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.text import (
        gopher_rules,
    )

    train, held = _lm_splits(spark, sf_dir)
    # r12: keep is row-local — take (doc_id, text, keep) from ONE
    # gopher pass (extra_cols) instead of self-joining rules back onto
    # the split (identical rows: the join was 1:1 on the unique key)
    labeled = gopher_rules(train, extra_cols=("text",)).select(
        "doc_id", "text", "keep"
    )
    w = train_one_step_micro(labeled, "keep", dim=1024, lr=1.0)
    return score_quality_micro(held, w, dim=1024).orderBy("doc_id")


_QUALITY_SCORES_FEATS = """
  SELECT doc_id,
         (('0x' || substr(md5(tok), 1, 12))::BIGINT) % 1024 AS slot,
         count(*) AS k
  FROM (SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                      w -> w != '')) AS tok
        FROM documents WHERE doc_id % 10 {op} 0)
  GROUP BY doc_id, slot
  UNION ALL
  SELECT doc_id, -1 AS slot, 1 AS k
  FROM documents WHERE doc_id % 10 {op} 0
"""

CORPUS_QUALITY_SCORES_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         string_split(lower(text), ' ') AS toks,
         string_split(text, chr(10)) AS lines
  FROM documents WHERE doc_id % 10 != 0
),
m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         list_sum(list_transform(toks, w -> length(w))) AS total_len,
         len(list_filter(toks,
             w -> contains(w, '#') OR contains(w, '...'))) AS n_symbolish,
         len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
         len(lines) AS n_lines,
         len(list_filter(lines,
             ln -> starts_with(trim(ln), '•')
                OR starts_with(trim(ln), '- ')
                OR starts_with(trim(ln), '* '))) AS n_bullet,
         len(list_filter(lines,
             ln -> ends_with(trim(ln), '...'))) AS n_ellipsis,
         len(list_intersect(list_distinct(toks),
             ['the','be','to','of','and','that','have','with'])) AS n_stop
  FROM t
),
labels AS (
  SELECT doc_id,
         CAST(((n_words >= 50 AND n_words <= 100000)
          AND (total_len >= 3 * n_words AND total_len <= 10 * n_words)
          AND (10 * n_symbolish <= n_words)
          AND (10 * n_bullet <= 9 * n_lines)
          AND (10 * n_ellipsis <= 3 * n_lines)
          AND (10 * n_alpha >= 8 * n_words)
          AND (n_stop >= 2)) AS INT) AS y
  FROM m
),
tr_feats AS ({_QUALITY_SCORES_FEATS.format(op="!=")}),
nn AS (SELECT count(*) AS n FROM labels),
resid AS (SELECT doc_id, 500000 - 1000000 * y AS r_micro FROM labels),
grad AS (
  SELECT slot, sum(k * r_micro) AS g_micro
  FROM tr_feats JOIN resid USING (doc_id) GROUP BY slot
),
wnz AS (
  SELECT * FROM (
    SELECT slot,
           CAST(floor(-1.0 * g_micro / (SELECT n FROM nn) + 0.5) AS BIGINT)
             AS w_micro
    FROM grad
  ) WHERE w_micro != 0
),
h_feats AS ({_QUALITY_SCORES_FEATS.format(op="=")}),
logit AS (
  SELECT doc_id, CAST(sum(k * w_micro) AS BIGINT) AS logit_micro
  FROM h_feats JOIN wnz USING (slot) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(l.logit_micro, 0) AS BIGINT) AS logit_micro,
       COALESCE(l.logit_micro, 0) >= 0 AS pred
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
LEFT JOIN logit l USING (doc_id)
"""


def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/dsir.py — Xie et al. 2023,
    NeurIPS): target domain = sources src0/src1 (10% of the corpus),
    raw pool = the rest; hashed unigram+bigram features (hash48 %
    4096), two add-one bucket models, and the per-doc integer
    micro-nat log importance ratio.  Every ln is taken of an integer
    and floor-quantized (the langid device), so the DuckDB oracle
    retrains BOTH models in SQL and the weights hash-verify.  Plan:
    one Generate+Project gram fan-out, one (doc, slot) hash agg
    STAGED ONCE (eager localCheckpoint, the r9-judge
    feature-staging seam; at 100 TB the same table goes to parquet
    via dsir_feature_counts + feats=), a <=4096-row model agg (the
    only collect — bounded control data), broadcast lambda join, one
    per-doc hash agg.  Measured r10: 10x ratio 8.95x -> 5.73x."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.dsir import (
        dsir_weights,
    )

    return dsir_weights(
        _t(spark, sf_dir, "documents"),
        F.col("source").isin("src0", "src1"),
        dim=4096,
    )


def sample_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection step: the 100 highest-importance raw-pool docs
    (deterministic top-k, ties broken by doc_id — the published
    Gumbel-top-k noise seam is documented on operators/dsir.py:
    dsir_topk).  Compiles to TakeOrderedAndProject over the weight
    dataflow — per-partition heads, no global sort."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.dsir import (
        dsir_topk,
        dsir_weights,
    )

    w = dsir_weights(
        _t(spark, sf_dir, "documents"),
        F.col("source").isin("src0", "src1"),
        dim=4096,
    )
    return dsir_topk(w, k=100)


_DSIR_WEIGHTS_SQL = """
WITH b AS (
  SELECT doc_id, (source IN ('src0', 'src1')) AS tgt,
         list_filter(string_split(lower(text), ' '), w -> w != '') AS w
  FROM documents
),
nz AS (SELECT doc_id, tgt, w, len(w) AS n FROM b WHERE len(w) >= 1),
occ AS (
  SELECT doc_id, tgt,
         CASE WHEN i <= n THEN w[i]
              ELSE w[i - n] || ' ' || w[i - n + 1] END AS gram
  FROM nz, LATERAL (SELECT unnest(generate_series(1, 2 * n - 1)) AS i)
),
f AS (
  SELECT doc_id, tgt,
         ('0x' || substr(md5(gram), 1, 12))::BIGINT % 4096 AS slot,
         count(*) AS k
  FROM occ GROUP BY doc_id, tgt, slot
),
m AS (
  SELECT slot,
         sum(CASE WHEN tgt THEN k ELSE 0 END) AS ct,
         sum(CASE WHEN NOT tgt THEN k ELSE 0 END) AS cr
  FROM f GROUP BY slot
),
tot AS (SELECT sum(ct) AS bct, sum(cr) AS bcr FROM m),
lam AS (
  SELECT slot,
         CAST(floor(ln(ct + 1) * 1000000 + 0.5) AS BIGINT)
         - CAST(floor(ln(cr + 1) * 1000000 + 0.5) AS BIGINT) AS lam
  FROM m WHERE ct != cr
),
cst AS (
  SELECT CAST(floor(ln(bct + 4096) * 1000000 + 0.5) AS BIGINT)
         - CAST(floor(ln(bcr + 4096) * 1000000 + 0.5) AS BIGINT) AS c
  FROM tot
),
sc AS (
  SELECT f.doc_id, f.tgt, sum(f.k) AS kd,
         sum(f.k * coalesce(lam.lam, 0)) AS s
  FROM f LEFT JOIN lam USING (slot) GROUP BY f.doc_id, f.tgt
)
SELECT doc_id, tgt AS is_target, CAST(kd AS INT) AS n_grams,
       CAST(s - kd * (SELECT c FROM cst) AS BIGINT) AS weight_micro
FROM sc
UNION ALL
SELECT doc_id, tgt, 0, 0 FROM b WHERE len(w) = 0
"""

CORPUS_DSIR_WEIGHTS_ORACLE = _DSIR_WEIGHTS_SQL

SAMPLE_DSIR_TOPK_ORACLE = f"""
WITH wts AS ({_DSIR_WEIGHTS_SQL})
SELECT * FROM wts WHERE NOT is_target
ORDER BY weight_micro DESC, doc_id ASC LIMIT 100
"""


def corpus_dsir_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental DSIR model maintenance (operators/dsir.py:
    dsir_batch_counts / merge_bucket_counts): the corpus arrives as
    two disjoint batches (doc_id parity), each contributes its <=
    4096-row additive count table, the merged table drives scoring of
    the full corpus — and because bucket counts are ADDITIVE the
    result is BIT-IDENTICAL to direct training, which is exactly what
    the oracle checks: this entry reuses the DIRECT-form
    CORPUS_DSIR_WEIGHTS_ORACLE verbatim, so a hash-green driver row
    proves incremental == direct.  The daily-ingest deployment shape:
    the model checkpoint is a dim-row table, never retrained from
    scratch."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.dsir import (
        dsir_batch_counts,
        dsir_weights,
        merge_bucket_counts,
    )

    docs = _t(spark, sf_dir, "documents")
    tgt = F.col("source").isin("src0", "src1")
    merged = merge_bucket_counts(
        [
            dsir_batch_counts(docs.filter(F.col("doc_id") % 2 == 0), tgt),
            dsir_batch_counts(docs.filter(F.col("doc_id") % 2 == 1), tgt),
        ]
    )
    return dsir_weights(docs, tgt, dim=4096, counts=merged)


def sample_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mixing plan table (operators/sampling.py:mixture_plan
    — temperature_mix's planning face, token-weighted as the
    multilingual recipe): per source, natural sizes, tau=2 tempered
    weight (IEEE-exact sqrt + micro quantization), bigint mixture
    share, the capped keep fraction realizing a 0.5 token budget, and
    the expected token yield.  One source-cardinality agg + one-row
    total; every column integer or expression-tree-mirrored, so the
    oracle hashes exactly."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        mixture_plan,
    )

    return mixture_plan(_t(spark, sf_dir, "documents")).orderBy("source")


SAMPLE_MIXTURE_PLAN_ORACLE = """
WITH c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5)
                 AS BIGINT) AS weight_micro
  FROM c
),
t AS (SELECT sum(n_tokens) AS t_, sum(weight_micro) AS zq FROM w),
k AS (
  SELECT w.*,
         CAST(w.weight_micro * 1000000 // t.zq AS BIGINT) AS share_micro,
         CAST(floor(least(1.0,
                0.5 * t.t_ * w.weight_micro
                / (CAST(t.zq AS DOUBLE) * w.n_tokens)) * 1000000 + 0.5)
              AS BIGINT) AS keep_frac_micro
  FROM w, t
)
SELECT source, n_docs, n_tokens, weight_micro, share_micro, keep_frac_micro,
       CAST(n_tokens * keep_frac_micro // 1000000 AS BIGINT) AS expected_tokens
FROM k
"""


def sample_dsir_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PUBLISHED DSIR resampling (operators/dsir.py:
    dsir_gumbel_topk — Gumbel-top-k samples k docs without replacement
    proportionally to softmax(weights)): each doc's Gumbel is a pure
    function of its id through the portable hash (u in (0,1), then
    -ln(-ln(u)) micro-quantized), so the sample is engine/partition/
    retry exact AND the oracle replays both lns over IEEE-exact inputs
    (the BM25-idf precedent).  dsir_topk stays as the noise-free
    twin."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.dsir import (
        dsir_gumbel_topk,
        dsir_weights,
    )

    w = dsir_weights(
        _t(spark, sf_dir, "documents"),
        F.col("source").isin("src0", "src1"),
        dim=4096,
    )
    return dsir_gumbel_topk(w, k=100)


SAMPLE_DSIR_GUMBEL_ORACLE = f"""
WITH wts AS ({_DSIR_WEIGHTS_SQL}),
keyed AS (
  SELECT *,
         CAST(floor(-ln(-ln(
           ((('0x' || substr(md5(doc_id::VARCHAR || ':g'), 1, 12))::BIGINT)
            + 1.0) / 281474976710657.0)) * 1000000 + 0.5) AS BIGINT)
           AS gumbel_micro
  FROM wts WHERE NOT is_target
)
SELECT doc_id, is_target, n_grams, weight_micro, gumbel_micro,
       weight_micro + gumbel_micro AS key_micro
FROM keyed ORDER BY key_micro DESC, doc_id ASC LIMIT 100
"""


def sample_dsir_gumbel_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (stratified) DSIR Gumbel resampling (operators/
    dsir.py: dsir_gumbel_topk_stratified — round 10, VERDICT r9 #6):
    the same engine-exact hash-Gumbel key as sample_dsir_gumbel,
    ranked WITHIN each source under a per-source budget dict (the
    shape token_weighted_mixture_plan emits), so the selection
    preserves a chosen source mixture instead of letting one dominant
    source swallow the global budget.  Weights re-acquire the source
    column by a doc-keyed join back to the corpus; the plan is the
    staged weights flow + one shuffle by source + a bounded
    row_number window.  The DuckDB oracle replays the weights, the
    Gumbel draw, and the per-source rank filter."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.dsir import (
        dsir_gumbel_topk_stratified,
        dsir_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    w = dsir_weights(
        docs,
        F.col("source").isin("src0", "src1"),
        dim=4096,
    ).join(docs.select("doc_id", "source"), "doc_id")
    return dsir_gumbel_topk_stratified(
        w, {"src2": 20, "src3": 10, "src4": 5}
    )


SAMPLE_DSIR_GUMBEL_PER_SOURCE_ORACLE = f"""
WITH wts AS ({_DSIR_WEIGHTS_SQL}),
src AS (SELECT doc_id, source FROM documents),
keyed AS (
  SELECT w.doc_id, w.is_target, w.n_grams, w.weight_micro, s.source,
         CAST(floor(-ln(-ln(
           ((('0x' || substr(md5(w.doc_id::VARCHAR || ':g'), 1, 12))::BIGINT)
            + 1.0) / 281474976710657.0)) * 1000000 + 0.5) AS BIGINT)
           AS gumbel_micro
  FROM wts w JOIN src s USING (doc_id) WHERE NOT w.is_target
),
ranked AS (
  SELECT *, weight_micro + gumbel_micro AS key_micro,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY weight_micro + gumbel_micro DESC, doc_id ASC
         ) AS INT) AS sel_rank
  FROM keyed
)
SELECT doc_id, is_target, n_grams, weight_micro, source, gumbel_micro,
       key_micro, sel_rank
FROM ranked
WHERE sel_rank <= CASE source WHEN 'src2' THEN 20 WHEN 'src3' THEN 10
                              WHEN 'src4' THEN 5 ELSE 0 END
"""



CORPUS_TRAINING_SET_V3_ORACLE = f"""
WITH wts AS ({_DSIR_WEIGHTS_SQL}),
sel AS (
  SELECT doc_id FROM wts WHERE NOT is_target
  ORDER BY weight_micro DESC, doc_id ASC LIMIT 200
),
toks AS (
  SELECT d.doc_id, string_split(lower(d.text), ' ') AS ws
  FROM documents d JOIN sel USING (doc_id)
),
rawids AS (
  SELECT doc_id,
         list_transform(ws, w ->
           CAST((('0x' || substr(md5(w), 1, 12))::BIGINT % 1000) AS INT)
         ) AS ids,
         len(ws) AS n
  FROM toks
),
fdraw AS (
  SELECT doc_id, ids, n,
         least(
           ('0x' || substr(md5(doc_id::VARCHAR || ':u1'), 1, 12))::BIGINT
             % (n + 1),
           ('0x' || substr(md5(doc_id::VARCHAR || ':u2'), 1, 12))::BIGINT
             % (n + 1)) AS lo,
         greatest(
           ('0x' || substr(md5(doc_id::VARCHAR || ':u1'), 1, 12))::BIGINT
             % (n + 1),
           ('0x' || substr(md5(doc_id::VARCHAR || ':u2'), 1, 12))::BIGINT
             % (n + 1)) AS hi,
         (('0x' || substr(md5(doc_id::VARCHAR || ':apply'), 1, 12))::BIGINT
           % 1000000 < 900000) AND n >= 1 AS applied
  FROM rawids
),
fim AS (
  SELECT doc_id,
         CASE WHEN applied
              THEN [1001] || ids[1:lo] || [1002] || ids[hi+1:n]
                   || [1003] || ids[lo+1:hi]
              ELSE ids END AS tid0
  FROM fdraw
),
pids AS (
  SELECT doc_id,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         list_append(tid0, 1000) AS tid,
         len(tid0) + 1 AS n
  FROM fim WHERE len(tid0) > 0
),
off AS (
  SELECT *, CAST(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS s
  FROM pids
),
pieces AS (
  SELECT shard, s, n, tid,
         unnest(generate_series(s // 32, (s + n - 1) // 32)) AS seq_id
  FROM off
),
cut AS (
  SELECT shard, seq_id,
         greatest(seq_id * 32, s) - seq_id * 32 AS pos,
         tid[(greatest(seq_id * 32, s) - s + 1):
             (least((seq_id + 1) * 32, s + n) - s)] AS piece
  FROM pieces
),
packed AS (
  SELECT shard, seq_id,
         flatten(list(piece ORDER BY pos)) AS token_ids,
         string_agg(CAST(pos AS VARCHAR) || ':' || CAST(len(piece) AS VARCHAR),
                    ' ' ORDER BY pos) AS spans_joined
  FROM cut GROUP BY shard, seq_id
)
SELECT shard,
       CAST(seq_id AS BIGINT) AS seq_id,
       CAST(len(token_ids) AS INT) AS n_tokens,
       array_to_string(token_ids, ' ') AS ids_joined,
       spans_joined
FROM packed
"""


def lm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram LM scoring (operators/lm.py): train stupid-
    backoff counts on 90% of the corpus, score the held-out 10% —
    unseen bigrams exercise the backoff path (n_backoff > 0).  Two
    hash aggs train the model; scoring is n-gram-key joins that AQE
    broadcasts while the model fits; per-bigram log-probs are
    micro-nat bigints so the per-doc mean is engine-exact."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.lm import (
        bigram_logprob,
    )

    train, held = _lm_splits(spark, sf_dir)
    return bigram_logprob(train, held)


_LM_SCORED_SQL = """
WITH train AS (SELECT * FROM documents WHERE doc_id % 10 != 0),
held AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
tr_toks AS (SELECT unnest(string_split(lower(text), ' ')) AS w FROM train),
unigrams AS (SELECT w, count(*) AS c1 FROM tr_toks GROUP BY w),
totals AS (SELECT sum(c1) AS t_tokens, count(*) AS v_vocab FROM unigrams),
tr_ls AS (SELECT string_split(lower(text), ' ') AS ls FROM train),
tr_bg AS (
  SELECT ls[i] AS w1, ls[i + 1] AS w2
  FROM tr_ls, LATERAL (SELECT unnest(range(1, len(ls))) AS i)
),
bigrams AS (SELECT w1, w2, count(*) AS c2 FROM tr_bg GROUP BY w1, w2),
sc_ls AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS ls FROM held),
stream AS (
  SELECT id, ls[i] AS w1, ls[i + 1] AS w2
  FROM sc_ls, LATERAL (SELECT unnest(range(1, len(ls))) AS i)
),
joined AS (
  SELECT s.id,
         CASE WHEN b.c2 IS NOT NULL AND u1.c1 IS NOT NULL
              THEN b.c2 / u1.c1
              ELSE 0.4 * (COALESCE(u2.c1, 0) + 1) / (t_tokens + v_vocab)
         END AS p,
         CASE WHEN b.c2 IS NOT NULL AND u1.c1 IS NOT NULL
              THEN 0 ELSE 1 END AS is_backoff
  FROM stream s
  LEFT JOIN bigrams b ON s.w1 = b.w1 AND s.w2 = b.w2
  LEFT JOIN unigrams u1 ON s.w1 = u1.w
  LEFT JOIN unigrams u2 ON s.w2 = u2.w
  , totals
),
agged AS (
  SELECT id AS doc_id,
         sum(CAST(floor(ln(p) * 1000000 + 0.5) AS BIGINT))
           / (count(*) * 1000000.0) AS avg_logprob,
         count(*) AS n_bigrams,
         CAST(sum(is_backoff) AS BIGINT) AS n_backoff
  FROM joined GROUP BY id
),
scored AS (
  -- every held doc gets a row: sub-2-token docs (no bigrams) emit
  -- NULL avg and 0 counts, mirroring bigram_logprob's explode_outer
  SELECT h.doc_id, a.avg_logprob,
         CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         CAST(COALESCE(a.n_backoff, 0) AS BIGINT) AS n_backoff
  FROM held h LEFT JOIN agged a ON h.doc_id = a.doc_id
)
"""

LM_BIGRAM_LOGPROB_ORACLE = (
    _LM_SCORED_SQL + "SELECT doc_id, avg_logprob, n_bigrams, n_backoff FROM scored"
)


def lm_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (operators/lm.py:
    kneser_ney_logprob — Kneser & Ney 1995 / Chen & Goodman 1999, the
    standard n-gram smoothing): same 90/10 split as the stupid-backoff
    twin, D = 0.75 (binary-exact), continuation probabilities from
    distinct-context counts, add-one OOV device documented in the
    operator.  The DuckDB oracle retrains all four model tables in SQL
    and replicates the probability expression operation-for-operation,
    so the per-bigram micro-nat quantization hash-verifies."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.lm import (
        kneser_ney_logprob,
    )

    train, held = _lm_splits(spark, sf_dir)
    return kneser_ney_logprob(train, held)


LM_KNESER_NEY_ORACLE = """
WITH train AS (SELECT * FROM documents WHERE doc_id % 10 != 0),
held AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
tr_toks AS (SELECT unnest(string_split(lower(text), ' ')) AS w FROM train),
unigrams AS (SELECT w, count(*) AS c1 FROM tr_toks GROUP BY w),
tr_ls AS (SELECT string_split(lower(text), ' ') AS ls FROM train),
tr_bg AS (
  SELECT ls[i] AS w1, ls[i + 1] AS w2
  FROM tr_ls, LATERAL (SELECT unnest(range(1, len(ls))) AS i)
),
bigrams AS (SELECT w1, w2, count(*) AS c2 FROM tr_bg GROUP BY w1, w2),
ctx AS (
  SELECT w1, sum(c2) AS ctx_total, count(*) AS n1p_fwd
  FROM bigrams GROUP BY w1
),
cont AS (SELECT w2, count(*) AS n1p_bwd FROM bigrams GROUP BY w2),
kn_tot AS (
  SELECT (SELECT count(*) FROM bigrams) AS n_bigram_types,
         (SELECT count(*) FROM unigrams) AS v_vocab
),
sc_ls AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS ls FROM held),
stream AS (
  SELECT id, ls[i] AS w1, ls[i + 1] AS w2
  FROM sc_ls, LATERAL (SELECT unnest(range(1, len(ls))) AS i)
),
joined AS (
  SELECT s.id,
         CASE WHEN c.ctx_total IS NOT NULL
              THEN greatest(COALESCE(b.c2, 0) - 0.75, 0)
                     / CAST(c.ctx_total AS DOUBLE)
                   + 0.75 * CAST(c.n1p_fwd AS DOUBLE)
                     / CAST(c.ctx_total AS DOUBLE)
                     * (CAST(COALESCE(ct.n1p_bwd, 0) + 1 AS DOUBLE)
                        / CAST(n_bigram_types + v_vocab AS DOUBLE))
              ELSE CAST(COALESCE(ct.n1p_bwd, 0) + 1 AS DOUBLE)
                   / CAST(n_bigram_types + v_vocab AS DOUBLE)
         END AS p,
         CASE WHEN c.ctx_total IS NULL THEN 1 ELSE 0 END AS is_unseen_ctx,
         CASE WHEN c.ctx_total IS NOT NULL AND b.c2 IS NULL
              THEN 1 ELSE 0 END AS is_novel
  FROM stream s
  LEFT JOIN bigrams b ON s.w1 = b.w1 AND s.w2 = b.w2
  LEFT JOIN ctx c ON s.w1 = c.w1
  LEFT JOIN cont ct ON s.w2 = ct.w2
  , kn_tot
),
agged AS (
  SELECT id AS doc_id,
         sum(CAST(floor(ln(p) * 1000000 + 0.5) AS BIGINT))
           / (count(*) * 1000000.0) AS avg_logprob,
         count(*) AS n_bigrams,
         CAST(sum(is_unseen_ctx) AS BIGINT) AS n_unseen_ctx,
         CAST(sum(is_novel) AS BIGINT) AS n_novel
  FROM joined GROUP BY id
)
SELECT h.doc_id, a.avg_logprob,
       CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(a.n_unseen_ctx, 0) AS BIGINT) AS n_unseen_ctx,
       CAST(COALESCE(a.n_novel, 0) AS BIGINT) AS n_novel
FROM held h LEFT JOIN agged a ON h.doc_id = a.doc_id
"""


def lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity terciles (operators/lm.py): the
    held-out docs ranked by stupid-backoff model score and split into
    equal-depth head/middle/tail buckets — the curation signal a
    pretraining pipeline samples at different rates.  Ties break on
    doc id, so membership is layout-deterministic."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.lm import (
        bigram_logprob,
        perplexity_buckets,
    )

    train, held = _lm_splits(spark, sf_dir)
    return perplexity_buckets(bigram_logprob(train, held))


LM_PERPLEXITY_BUCKETS_ORACLE = _LM_SCORED_SQL + """
SELECT doc_id, avg_logprob,
       ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id ASC) AS ppl_bucket
FROM scored
"""


def lm_perplexity_cutpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE form of perplexity bucketing (VERDICT r6 #5,
    operators/lm.py): bucket boundaries from one partial-aggregating
    exact percentile pass, rounded to 6 dp, broadcast, labels applied
    row-locally — the scored rows never globally sort (plan-asserted
    in tests/test_lm.py).  The DuckDB oracle recomputes the identical
    boundaries with quantile_cont and the identical comparison-count
    labeling, so this entry gates the cutpoint math itself; equality
    with the ntile form where quantiles are unambiguous is proven in
    tests."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.lm import (
        bigram_logprob,
        perplexity_buckets,
    )

    train, held = _lm_splits(spark, sf_dir)
    return perplexity_buckets(
        bigram_logprob(train, held), method="cutpoints"
    )


def lm_perplexity_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``boundary_mode="approx"`` — the TRUE 100 TB form of the
    cutpoint bucketing (operators/lm.py): boundaries from
    ``approx_percentile`` (Greenwald-Khanna summary, state bounded at
    ~accuracy entries regardless of corpus size) instead of the exact
    value->count percentile whose final merge is O(distinct scores).
    Rows-only BY DESIGN: GK boundaries are layout-dependent within
    the 1/accuracy rank bound, so no engine-exact oracle exists; the
    strong gate is tests/test_lm.py::test_cutpoints_approx_drift_bound
    (per-doc bucket drift vs exact boundaries bounded by the
    documented N/accuracy rank error, at accuracy=10000)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.lm import (
        bigram_logprob,
        perplexity_buckets,
    )

    train, held = _lm_splits(spark, sf_dir)
    return perplexity_buckets(
        bigram_logprob(train, held), method="cutpoints",
        boundary_mode="approx",
    )


LM_PERPLEXITY_CUTPOINTS_ORACLE = _LM_SCORED_SQL + """
, bounds AS (
  SELECT list_transform(
           quantile_cont(avg_logprob,
                         [0.3333333333333333, 0.6666666666666666]),
           b -> round(b, 6)) AS bs
  FROM scored
)
SELECT doc_id, avg_logprob,
       CAST(CASE WHEN avg_logprob IS NULL THEN 3
                 ELSE 1 + len(list_filter(bs, b -> avg_logprob < b))
            END AS INTEGER) AS ppl_bucket
FROM scored, bounds
"""

_PAGERANK_ITERATIONS = 5


def web_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (operators/graph.py) over a
    deterministic hub-skewed link graph: every page links to two
    long-tail pages ((id*7+c) mod n) and one hub (id mod 11), so the
    11 hubs accumulate rank while the tail drains — differentiated
    ranks, unlike a vertex-transitive graph where PageRank is
    uniform.  5 power-iteration rounds, each one src-join + dst-agg,
    all arithmetic in bigint micro-units (div, never float /)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()  # bounded scalar: one count, mirrored by the
    # oracle's scalar subquery
    src = F.col("doc_id")
    edges = docs.select(
        src.alias("src"),
        F.explode(
            F.array(
                (src * 7 + 1) % n_docs,
                (src * 7 + 2) % n_docs,
                src % 11,
            )
        ).alias("dst"),
    )
    return pagerank(edges, iterations=_PAGERANK_ITERATIONS).orderBy("node")


def _pagerank_oracle(iterations: int) -> str:
    sql = """
WITH nd AS (SELECT count(*) AS n FROM documents),
edges AS (
  SELECT doc_id AS src,
         unnest([(doc_id * 7 + 1) % (SELECT n FROM nd),
                 (doc_id * 7 + 2) % (SELECT n FROM nd),
                 doc_id % 11]) AS dst
  FROM documents
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes)
"""
    for i in range(iterations):
        sql += f""", c{i} AS (
  SELECT e.dst AS node, sum(r.rank_micro // o.outdeg) AS incoming
  FROM r{i} r JOIN outdeg o ON r.node = o.src JOIN edges e ON e.src = o.src
  GROUP BY e.dst
), r{i + 1} AS (
  SELECT n.node, 150000 + (85 * COALESCE(c.incoming, 0)) // 100 AS rank_micro
  FROM nodes n LEFT JOIN c{i} c ON n.node = c.node
)"""
    sql += (
        f"\nSELECT node, CAST(rank_micro AS BIGINT) AS rank_micro"
        f" FROM r{iterations}"
    )
    return sql


WEB_PAGERANK_ORACLE = _pagerank_oracle(_PAGERANK_ITERATIONS)


def dedup_block_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact unit dedup with first-occurrence-wins
    reassembly (operators/dedup.py: block_unit_dedup — the CCNet /
    RefinedWeb "line dedup" step, Wenzek et al. 2020 / Penedo et al.
    2023) over 5-word blocks of the documents table (the unit seam:
    real corpora pass newline-split lines).  Keep decision = globally
    smallest (doc_id, block index) per distinct block string — a
    total order the DuckDB oracle replays with one argmin per unit
    and an ordered string_agg per doc."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.dedup import (
        block_unit_dedup,
    )

    return block_unit_dedup(
        _t(spark, sf_dir, "documents"), block_words=5
    ).orderBy("doc_id")


_BLOCK_UNITS_CTES = """w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
),
tot AS (
  SELECT doc_id, CAST((len(ws) + 4) // 5 AS INT) AS n_units FROM w
),
u AS (
  SELECT doc_id, i AS idx,
         array_to_string(ws[i * 5 + 1 : i * 5 + 5], ' ') AS unit
  FROM (SELECT doc_id, ws,
               unnest(range(0, CAST((len(ws) + 4) // 5 AS INT))) AS i
        FROM w)
),
f AS (
  SELECT unit,
         first(doc_id ORDER BY doc_id, idx) AS d,
         first(idx ORDER BY doc_id, idx) AS k
  FROM u GROUP BY unit
),
r AS (
  SELECT d AS doc_id, CAST(count(*) AS INT) AS n_kept,
         string_agg(unit, ' ' ORDER BY k) AS text_clean
  FROM f GROUP BY d
)"""


DEDUP_BLOCK_UNITS_ORACLE = f"""
WITH {_BLOCK_UNITS_CTES}
SELECT t.doc_id, t.n_units,
       CAST(COALESCE(r.n_kept, 0) AS INT) AS n_kept,
       COALESCE(r.text_clean, '') AS text_clean
FROM tot t LEFT JOIN r USING (doc_id)
"""


def dedup_block_units_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION 128-bit-key variant of dedup_block_units
    (VERDICT r11 #8, operators/dedup.py: block_unit_dedup
    key="md5"): grouping keys are md5(unit) — birthday-safe at the
    ~1e10-unit 100 TB envelope where raw-string keys are exact but
    heavy — and the unit text never crosses a shuffle: winners are
    (doc, idx) pairs and each doc re-slices its surviving blocks from
    its own words column after the doc-keyed join.  Value-identical
    to the string-keyed form (property-tested), so this entry reuses
    the SAME DuckDB oracle."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.dedup import (
        block_unit_dedup,
    )

    return block_unit_dedup(
        _t(spark, sf_dir, "documents"), block_words=5, key="md5"
    ).orderBy("doc_id")


def lm_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram stupid backoff (operators/lm.py: trigram_logprob —
    Brants et al. 2007, the web-scale distributed n-gram recipe):
    same 90/10 split as the bigram twin, three backoff levels
    (trigram -> 0.4 * bigram -> 0.4^2 * add-one unigram), per-level
    fall counters.  The DuckDB oracle retrains all four count tables
    in SQL and replicates the score expression op-for-op, so the
    per-trigram micro-nat quantization hash-verifies."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.lm import (
        trigram_logprob,
    )

    train, held = _lm_splits(spark, sf_dir)
    return trigram_logprob(train, held)


_LM_TRIGRAM_SCORED_SQL = """
WITH train AS (SELECT * FROM documents WHERE doc_id % 10 != 0),
held AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
tr_toks AS (SELECT unnest(string_split(lower(text), ' ')) AS w FROM train),
unigrams AS (SELECT w, count(*) AS c1 FROM tr_toks GROUP BY w),
totals AS (SELECT sum(c1) AS t_tokens, count(*) AS v_vocab FROM unigrams),
tr_ls AS (SELECT string_split(lower(text), ' ') AS ls FROM train),
tr_bg AS (
  SELECT ls[i] AS w1, ls[i + 1] AS w2
  FROM tr_ls, LATERAL (SELECT unnest(range(1, len(ls))) AS i)
),
bigrams AS (SELECT w1, w2, count(*) AS c2 FROM tr_bg GROUP BY w1, w2),
tr_tg AS (
  SELECT ls[i] AS w1, ls[i + 1] AS w2, ls[i + 2] AS w3
  FROM tr_ls, LATERAL (SELECT unnest(range(1, len(ls) - 1)) AS i)
),
trigrams AS (
  SELECT w1, w2, w3, count(*) AS c3 FROM tr_tg GROUP BY w1, w2, w3
),
sc_ls AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS ls FROM held),
stream AS (
  SELECT id, ls[i] AS w1, ls[i + 1] AS w2, ls[i + 2] AS w3
  FROM sc_ls, LATERAL (SELECT unnest(range(1, len(ls) - 1)) AS i)
),
joined AS (
  SELECT s.id,
         CASE WHEN tg.c3 IS NOT NULL AND b12.c2 IS NOT NULL
              THEN tg.c3 / b12.c2
              WHEN b23.c2 IS NOT NULL AND u2.c1 IS NOT NULL
              THEN 0.4 * b23.c2 / u2.c1
              ELSE 0.4 * 0.4 * (COALESCE(u3.c1, 0) + 1)
                   / (t_tokens + v_vocab)
         END AS p,
         CASE WHEN NOT (tg.c3 IS NOT NULL AND b12.c2 IS NOT NULL)
                   AND (b23.c2 IS NOT NULL AND u2.c1 IS NOT NULL)
              THEN 1 ELSE 0 END AS bo_bi,
         CASE WHEN NOT (tg.c3 IS NOT NULL AND b12.c2 IS NOT NULL)
                   AND NOT (b23.c2 IS NOT NULL AND u2.c1 IS NOT NULL)
              THEN 1 ELSE 0 END AS bo_uni
  FROM stream s
  LEFT JOIN trigrams tg ON s.w1 = tg.w1 AND s.w2 = tg.w2 AND s.w3 = tg.w3
  LEFT JOIN bigrams b12 ON s.w1 = b12.w1 AND s.w2 = b12.w2
  LEFT JOIN bigrams b23 ON s.w2 = b23.w1 AND s.w3 = b23.w2
  LEFT JOIN unigrams u2 ON s.w2 = u2.w
  LEFT JOIN unigrams u3 ON s.w3 = u3.w
  , totals
),
agged AS (
  SELECT id AS doc_id,
         sum(CAST(floor(ln(p) * 1000000 + 0.5) AS BIGINT))
           / (count(*) * 1000000.0) AS avg_logprob,
         count(*) AS n_trigrams,
         CAST(sum(bo_bi) AS BIGINT) AS n_bo_bigram,
         CAST(sum(bo_uni) AS BIGINT) AS n_bo_unigram
  FROM joined GROUP BY id
),
scored AS (
  SELECT h.doc_id, a.avg_logprob,
         CAST(COALESCE(a.n_trigrams, 0) AS BIGINT) AS n_trigrams,
         CAST(COALESCE(a.n_bo_bigram, 0) AS BIGINT) AS n_bo_bigram,
         CAST(COALESCE(a.n_bo_unigram, 0) AS BIGINT) AS n_bo_unigram
  FROM held h LEFT JOIN agged a ON h.doc_id = a.doc_id
)
"""


def sample_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi domain reweighting (operators/doremi.py — Xie et al.
    2023): per-source unigram-LM excess loss computed distributed
    (one token explode, integer micro-nat sums), then 5 Group-DRO
    multiplicative-weights steps over the bounded per-source table
    (eta 0.1, uniform smoothing 0.1).  Every cross-row reduction is
    an integer sum/min and every float op is re-quantized to micro
    after each step; the DuckDB oracle retrains the losses in SQL and
    replays all 5 steps through doremi_sql_ctes — one generator for
    both engines, so the update expressions can never drift."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.doremi import (
        doremi_weights,
        source_excess_loss,
    )

    excess = source_excess_loss(_t(spark, sf_dir, "documents"))
    return doremi_weights(excess, spark=spark).orderBy("source")


SAMPLE_DOREMI_WEIGHTS_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
freq AS (SELECT term, count(*) AS n_term FROM toks GROUP BY term),
tot AS (SELECT count(*) AS n_total FROM toks),
persrc AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST((-sum(CAST(floor(ln(n_term * 1.0 / n_total) * 1000000 + 0.5)
                          AS BIGINT))) // count(*) AS BIGINT) AS loss_micro
  FROM toks JOIN freq USING (term), tot
  GROUP BY source
),
lo AS (SELECT min(loss_micro) AS l FROM persrc),
excess0 AS (
  SELECT source, n_tokens, loss_micro,
         CAST(loss_micro - lo.l AS BIGINT) AS excess_micro
  FROM persrc, lo
),
{doremi_sql_ctes(eta_micro=100_000, smooth_micro=100_000, steps=5)}
SELECT source, n_tokens, loss_micro, excess_micro,
       CAST(alpha AS BIGINT) AS alpha_micro
FROM t5
"""


def sample_doremi_external_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi controller on an EXTERNAL loss table (VERDICT r11 #5):
    the column contract ``(source, n_tokens, loss_micro,
    excess_micro)`` is the declared seam for real per-step
    proxy/reference losses — this entry feeds a deterministic
    hash-derived synthetic loss table (loss_micro = 1e6 +
    hash48(source) % 5e5, the portable-md5 device) through 8
    Group-DRO steps at non-default (eta 0.2, smoothing 0.05), so the
    published algorithm's actual input path — not just the data-only
    unigram stand-in — is oracle-verified.  The per-source table is
    one codegen'd agg; the controller loop runs over bounded control
    data and the oracle replays all 8 steps via doremi_sql_ctes (one
    generator for both engines)."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        hash48,
        token_count,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.doremi import (
        doremi_weights,
    )

    per = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(token_count("text")).cast("long").alias("n_tokens"))
        .withColumn(
            "loss_micro",
            (
                F.lit(1_000_000)
                + hash48(F.col("source")) % F.lit(500_000)
            ).cast("long"),
        )
    )
    lo = per.agg(F.min("loss_micro").alias("_lo"))
    excess = per.crossJoin(F.broadcast(lo)).select(
        "source",
        "n_tokens",
        "loss_micro",
        (F.col("loss_micro") - F.col("_lo")).alias("excess_micro"),
    )
    return doremi_weights(
        excess, spark=spark, eta_micro=200_000, smooth_micro=50_000, steps=8
    ).orderBy("source")


SAMPLE_DOREMI_EXTERNAL_LOSS_ORACLE = f"""
WITH per AS (
  SELECT source,
         CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
           AS n_tokens,
         CAST(1000000 + {hash48_sql_duckdb("source")} % 500000 AS BIGINT)
           AS loss_micro
  FROM documents GROUP BY source
),
lo AS (SELECT min(loss_micro) AS l FROM per),
excess0 AS (
  SELECT source, n_tokens, loss_micro,
         CAST(loss_micro - lo.l AS BIGINT) AS excess_micro
  FROM per, lo
),
{doremi_sql_ctes(eta_micro=200_000, smooth_micro=50_000, steps=8)}
SELECT source, n_tokens, loss_micro, excess_micro,
       CAST(alpha AS BIGINT) AS alpha_micro
FROM t8
"""


def corpus_repeat_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-adjusted epoch accounting (operators/sampling.py:
    repeat_value — Muennighoff et al. 2023 data-constrained scaling,
    R* = 15.39): the epoch plan's per-source repeats converted to
    effective fresh-token equivalents via the paper's exponential
    decay, plus the per-budget value ratio.  One exp per source row,
    floor-quantized once, replicated op-for-op by the oracle; the
    ratio uses the decimal-div device."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        epoch_plan,
        repeat_value,
    )

    plan = epoch_plan(_t(spark, sf_dir, "documents"), budget_tokens=60_000)
    return repeat_value(plan).orderBy("source")


CORPUS_REPEAT_VALUE_ORACLE = f"""
WITH {_EPOCH_PLAN_CTES},
eff AS (
  SELECT *,
         n_tokens + cast(floor(cast(n_tokens as double)
           * (15390000 / 1000000.0)
           * (1.0 - exp(-((greatest(0, n_epochs_micro - 1000000)
                           / 1000000.0) / (15390000 / 1000000.0))))
           + 0.5) as bigint) AS effective_tokens
  FROM plan2
)
SELECT source, n_docs, n_tokens, share_micro, budget_i, n_full_epochs,
       remainder_tokens, n_epochs_micro, effective_tokens,
       CASE WHEN budget_i > 0
            THEN CAST(effective_tokens * 1000000 // budget_i AS BIGINT)
       END AS value_ratio_micro
FROM eff
"""


def corpus_rho1_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RHO-1-style selective token scoring (operators/lm.py:
    rho1_token_select — Lin et al. 2024): per held-out position,
    excess = trigram-stupid-backoff (reference) minus add-one-unigram
    (proxy) quantized logp; each doc keeps its top-30% positions by
    excess (ties: earlier position).  The rank window partitions BY
    DOC (bounded rows — never a global sort); the DuckDB oracle
    retrains both models and replays scores, ranks, the truncating
    per-doc keep count and the position list exactly."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.lm import (
        rho1_token_select,
    )

    train, held = _lm_splits(spark, sf_dir)
    return rho1_token_select(train, held, keep_micro=300_000).orderBy(
        "doc_id"
    )


CORPUS_RHO1_SELECTION_ORACLE = """
WITH train AS (SELECT * FROM documents WHERE doc_id % 10 != 0),
held AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
tr_toks AS (SELECT unnest(string_split(lower(text), ' ')) AS w FROM train),
unigrams AS (SELECT w, count(*) AS c1 FROM tr_toks GROUP BY w),
totals AS (SELECT sum(c1) AS t_tokens, count(*) AS v_vocab FROM unigrams),
tr_ls AS (SELECT string_split(lower(text), ' ') AS ls FROM train),
tr_bg AS (
  SELECT ls[i] AS w1, ls[i + 1] AS w2
  FROM tr_ls, LATERAL (SELECT unnest(range(1, len(ls))) AS i)
),
bigrams AS (SELECT w1, w2, count(*) AS c2 FROM tr_bg GROUP BY w1, w2),
tr_tg AS (
  SELECT ls[i] AS w1, ls[i + 1] AS w2, ls[i + 2] AS w3
  FROM tr_ls, LATERAL (SELECT unnest(range(1, len(ls) - 1)) AS i)
),
trigrams AS (
  SELECT w1, w2, w3, count(*) AS c3 FROM tr_tg GROUP BY w1, w2, w3
),
sc_ls AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS ls
          FROM held),
stream AS (
  SELECT id, i - 1 AS pos, ls[i] AS w1, ls[i + 1] AS w2, ls[i + 2] AS w3
  FROM sc_ls, LATERAL (SELECT unnest(range(1, len(ls) - 1)) AS i)
),
joined AS (
  SELECT s.id, s.pos,
         CAST(floor(ln(
           CASE WHEN tg.c3 IS NOT NULL AND b12.c2 IS NOT NULL
                THEN tg.c3 / b12.c2
                WHEN b23.c2 IS NOT NULL AND u2.c1 IS NOT NULL
                THEN 0.4 * b23.c2 / u2.c1
                ELSE 0.4 * 0.4 * (COALESCE(u3.c1, 0) + 1)
                     / (t_tokens + v_vocab)
           END) * 1000000 + 0.5) AS BIGINT)
         - CAST(floor(ln((COALESCE(u3.c1, 0) + 1)
                     / (t_tokens + v_vocab)) * 1000000 + 0.5) AS BIGINT)
           AS excess
  FROM stream s
  LEFT JOIN trigrams tg ON s.w1 = tg.w1 AND s.w2 = tg.w2 AND s.w3 = tg.w3
  LEFT JOIN bigrams b12 ON s.w1 = b12.w1 AND s.w2 = b12.w2
  LEFT JOIN bigrams b23 ON s.w2 = b23.w1 AND s.w3 = b23.w2
  LEFT JOIN unigrams u2 ON s.w2 = u2.w
  LEFT JOIN unigrams u3 ON s.w3 = u3.w
  , totals
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY excess DESC, pos)
              AS rk,
         count(*) OVER (PARTITION BY id) AS n
  FROM joined
),
sel AS (SELECT *, rk <= (n * 300000) // 1000000 AS s FROM ranked),
agg AS (
  SELECT id,
         CAST(count(*) AS BIGINT) AS n_scored,
         CAST(count(CASE WHEN s THEN 1 END) AS BIGINT) AS n_selected,
         string_agg(CASE WHEN s THEN CAST(pos AS VARCHAR) END,
                    ' ' ORDER BY pos) AS sel_pos,
         CAST(COALESCE(sum(CASE WHEN s THEN excess END), 0) AS BIGINT)
           AS sel_excess_sum_micro
  FROM sel GROUP BY id
)
SELECT h.doc_id,
       CAST(COALESCE(a.n_scored, 0) AS BIGINT) AS n_scored,
       CAST(COALESCE(a.n_selected, 0) AS BIGINT) AS n_selected,
       COALESCE(a.sel_pos, '') AS sel_pos,
       CAST(COALESCE(a.sel_excess_sum_micro, 0) AS BIGINT)
         AS sel_excess_sum_micro
FROM (SELECT doc_id FROM held) h LEFT JOIN agg a ON h.doc_id = a.id
"""


def sample_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation (operators/sampling.py:
    unimax_budget — Chung et al. 2023): epoch-capped water-filling of
    a 60k-token budget over the per-source token counts, cap 2.5
    epochs.  Ascending-capacity greedy with min / truncating-div /
    subtract only — all integer, so the DuckDB oracle replays the
    exact loop as a recursive CTE (zero float drift possible); the
    Spark side runs it driver-side over the bounded per-source table
    (the doremi_weights control-data precedent)."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        unimax_budget,
    )

    return unimax_budget(
        _t(spark, sf_dir, "documents"),
        budget_tokens=60_000,
        epoch_cap_micro=2_500_000,
    ).orderBy("source")


SAMPLE_UNIMAX_BUDGET_ORACLE = """
WITH RECURSIVE counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
caps AS (
  SELECT *,
         CAST(CAST(n_tokens AS HUGEINT) * 2500000 // 1000000 AS BIGINT)
           AS capacity_tokens
  FROM counts
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY capacity_tokens, source) AS rk,
         (SELECT count(*) FROM caps) AS n
  FROM caps
),
alloc AS (
  SELECT rk, source, n_docs, n_tokens, capacity_tokens, n,
         least(capacity_tokens, 60000 // n) AS budget_i,
         60000 - least(capacity_tokens, 60000 // n) AS remaining
  FROM ranked WHERE rk = 1
  UNION ALL
  SELECT r.rk, r.source, r.n_docs, r.n_tokens, r.capacity_tokens, r.n,
         least(r.capacity_tokens, a.remaining // (r.n - r.rk + 1)),
         a.remaining
           - least(r.capacity_tokens, a.remaining // (r.n - r.rk + 1))
  FROM alloc a JOIN ranked r ON r.rk = a.rk + 1
)
SELECT source, n_docs, n_tokens, capacity_tokens,
       CAST(budget_i AS BIGINT) AS budget_i,
       CAST(CASE WHEN n_tokens > 0
                 THEN CAST(budget_i AS HUGEINT) * 1000000 // n_tokens
                 ELSE 0 END AS BIGINT) AS n_epochs_micro
FROM alloc
"""


def text_ul2_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UL2 mixture of denoisers (operators/augment.py: ul2_mixture —
    Tay et al. 2022): every doc hash-routed to R (T5 spans, 20/3), X
    (extreme spans, 16/8) or S (PrefixLM split), paradigm tag token
    900/901/902 prepended to the encoder input.  All three branches
    are row-local array algebra over portable-hash token ids; the
    DuckDB oracle replays routes, span walks, sentinels and the
    prefix cut exactly."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        hash48,
        tokens,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.augment import (
        ul2_mixture,
    )

    docs = _t(spark, sf_dir, "documents")
    ids = docs.select(
        "doc_id",
        F.transform(
            tokens("text"), lambda w: (hash48(w) % 1000).cast("int")
        ).alias("token_ids"),
    )
    out = ul2_mixture(ids)
    return out.select(
        "doc_id",
        "denoiser",
        "n_tokens",
        F.array_join(F.col("inputs").cast("array<string>"), " ").alias(
            "inputs_joined"
        ),
        F.array_join(F.col("targets").cast("array<string>"), " ").alias(
            "targets_joined"
        ),
    ).orderBy("doc_id")


def _ul2_span_branch_sql(pick: int, label: str, w: int, sl: int, tag: int) -> str:
    """One UL2 span-corruption branch as SQL text — the
    TEXT_SPAN_CORRUPTION_ORACLE walk parameterized by (window,
    span_len) with the paradigm tag prepended."""
    return f"""
  SELECT doc_id, '{label}' AS denoiser, CAST(n AS INT) AS n_tokens,
         array_to_string([{tag}] || list_filter(
           list_transform(
             CASE WHEN n >= 1 THEN range(0, CAST(n AS INT))
                  ELSE CAST([] AS INT[]) END,
             pos -> CASE
               WHEN CAST(floor(pos / {w}) AS INT) >= n_win
                    OR pos < starts[CAST(floor(pos / {w}) AS INT) + 1]
                    OR pos >= starts[CAST(floor(pos / {w}) AS INT) + 1] + {sl}
                 THEN ids[pos + 1]
               WHEN pos = starts[CAST(floor(pos / {w}) AS INT) + 1]
                 THEN 1000 + CAST(floor(pos / {w}) AS INT)
               ELSE NULL END
           ),
           x -> x IS NOT NULL), ' ') AS inputs_joined,
         coalesce(array_to_string(
           flatten(list_transform(
             CASE WHEN n_win >= 1 THEN range(0, n_win)
                  ELSE CAST([] AS INT[]) END,
             k -> [1000 + k] || ids[starts[k + 1] + 1 : starts[k + 1] + {sl}]
           )), ' '), '') AS targets_joined
  FROM (
    SELECT doc_id, ids, n, n_win,
           list_transform(
             CASE WHEN n_win >= 1
                  THEN range(0, n_win) ELSE CAST([] AS INT[]) END,
             k -> k * {w} + CAST(
                    ('0x' || substr(md5(doc_id::VARCHAR || ':w'
                                        || k::VARCHAR), 1, 12))::BIGINT
                    % {w - sl + 1} AS INT)
           ) AS starts
    FROM (
      SELECT doc_id, ids, len(ids) AS n,
             CAST(floor(len(ids) / {w}) AS INT) AS n_win
      FROM routed WHERE pick = {pick}
    )
  )"""


TEXT_UL2_MIXTURE_ORACLE = f"""
WITH d AS ({_FIM_IDS_SQL}),
routed AS (
  SELECT doc_id, ids,
         ('0x' || substr(md5(doc_id::VARCHAR || ':ul2'), 1, 12))::BIGINT
           % 3 AS pick
  FROM d
)
SELECT * FROM ({_ul2_span_branch_sql(0, "R", 20, 3, 900)})
UNION ALL
SELECT * FROM ({_ul2_span_branch_sql(1, "X", 16, 8, 901)})
UNION ALL
SELECT doc_id, 'S' AS denoiser, CAST(n AS INT) AS n_tokens,
       array_to_string([902] || ids[1 : cut], ' ') AS inputs_joined,
       coalesce(array_to_string(ids[cut + 1 : n], ' '), '')
         AS targets_joined
FROM (
  SELECT doc_id, ids, len(ids) AS n,
         CAST(('0x' || substr(md5(doc_id::VARCHAR || ':s-cut'), 1,
                              12))::BIGINT % (len(ids) + 1) AS INT) AS cut
  FROM routed WHERE pick = 2
)
"""


def corpus_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source fertility/density table (operators/text.py:
    fertility_report): docs, tokens, chars, UTF-8 bytes and the
    micro-ratios between them — the tokenizer-budget sanity table.
    One codegen'd scan + one source-cardinality agg."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.text import (
        fertility_report,
    )

    return fertility_report(_t(spark, sf_dir, "documents")).orderBy("source")


CORPUS_FERTILITY_REPORT_ORACLE = """
WITH a AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
           AS n_tokens,
         CAST(sum(length(text)) AS BIGINT) AS n_chars,
         CAST(sum(strlen(text)) AS BIGINT) AS n_bytes
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens, n_chars, n_bytes,
       CASE WHEN n_tokens > 0
            THEN CAST(n_chars * 1000000 // n_tokens AS BIGINT) END
         AS chars_per_token_micro,
       CASE WHEN n_tokens > 0
            THEN CAST(n_bytes * 1000000 // n_tokens AS BIGINT) END
         AS bytes_per_token_micro,
       CASE WHEN n_docs > 0
            THEN CAST(n_tokens * 1000000 // n_docs AS BIGINT) END
         AS tokens_per_doc_micro
FROM a
"""


def corpus_training_set_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ROUND-11 capstone: the terminal trainable artifact built
    from this round's families, composed end-to-end and replayed by
    ONE DuckDB statement —

    1. CLEAN: exact block-unit dedup (CCNet line-dedup step,
       first-occurrence-wins reassembly); docs whose every block lost
       drop out;
    2. WEIGH: DoReMi Group-DRO multiplicative weights over the
       CLEANED corpus's per-source unigram excess loss (5 steps, the
       generated-CTE controller);
    3. SAMPLE: each source keeps its alpha share of a 200-doc target
       via the distributed grouped md5 rank (no per-source global
       window — the composite-bucket device);
    4. TRANSFORM: UL2 R/X/S mixture-of-denoisers over portable-hash
       token ids of the cleaned text, paradigm tags prepended.

    Output: (doc_id, source, denoiser, n_tokens, inputs_joined,
    targets_joined) — every stage's math is the already-verified
    operator; the oracle chains their CTE texts."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        hash48,
        tokens,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.augment import (
        ul2_mixture,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.dedup import (
        block_unit_dedup,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.doremi import (
        doremi_weights,
        source_excess_loss,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        grouped_hash_rank,
    )

    docs = _t(spark, sf_dir, "documents")
    # STAGE the cleaned corpus once (eager localCheckpoint — the
    # in-session staging seam; parquet at 100 TB): it feeds the
    # excess-loss pass, the rank assembly, AND the sampled join-back,
    # and its own lineage is the 3-shuffle block-dedup pipeline —
    # unstaged, that pipeline re-executed per consumer (measured
    # 369 s -> ~30 s at sf0.01 for the whole capstone).
    cleaned = (
        block_unit_dedup(docs, block_words=5)
        .filter(F.col("n_kept") > 0)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "text_clean")
        .localCheckpoint(eager=True)
    )
    alphas = doremi_weights(
        source_excess_loss(cleaned, text_col="text_clean"), spark=spark
    )
    budg = alphas.select(
        "source",
        F.expr("cast(alpha_micro as decimal(38,0)) * 200 div 1000000")
        .cast("bigint")
        .alias("_k"),
    )
    # staged too: the UL2 transform consumes it as THREE filtered
    # branches plus the final source join-back
    sampled = (
        grouped_hash_rank(cleaned, "source", out_col="_rn")
        .join(F.broadcast(budg), "source")
        .filter(F.col("_rn") <= F.col("_k"))
        .select("doc_id", "source", "text_clean")
        .localCheckpoint(eager=True)
    )
    ids = sampled.select(
        "doc_id",
        F.transform(
            tokens("text_clean"), lambda w: (hash48(w) % 1000).cast("int")
        ).alias("token_ids"),
    )
    return (
        ul2_mixture(ids)
        .join(sampled.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            "denoiser",
            "n_tokens",
            F.array_join(F.col("inputs").cast("array<string>"), " ").alias(
                "inputs_joined"
            ),
            F.array_join(F.col("targets").cast("array<string>"), " ").alias(
                "targets_joined"
            ),
        )
        .orderBy("doc_id")
    )


CORPUS_TRAINING_SET_V4_ORACLE = f"""
WITH {_BLOCK_UNITS_CTES},
kept AS MATERIALIZED (
  SELECT t.doc_id, d.source, r.text_clean
  FROM tot t
  JOIN r USING (doc_id)
  JOIN documents d USING (doc_id)
  WHERE r.n_kept > 0
),
toks AS (
  SELECT source, unnest(string_split(lower(text_clean), ' ')) AS term
  FROM kept
),
freq AS (SELECT term, count(*) AS n_term FROM toks GROUP BY term),
tl AS (SELECT count(*) AS n_total FROM toks),
persrc AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST((-sum(CAST(floor(ln(n_term * 1.0 / n_total) * 1000000 + 0.5)
                          AS BIGINT))) // count(*) AS BIGINT) AS loss_micro
  FROM toks JOIN freq USING (term), tl
  GROUP BY source
),
lo AS (SELECT min(loss_micro) AS l FROM persrc),
excess0 AS (
  SELECT source, n_tokens, loss_micro,
         CAST(loss_micro - lo.l AS BIGINT) AS excess_micro
  FROM persrc, lo
),
{doremi_sql_ctes(eta_micro=100_000, smooth_micro=100_000, steps=5)},
budg AS (
  SELECT source, CAST(alpha * 200 // 1000000 AS BIGINT) AS k FROM t5
),
ranked AS (
  SELECT doc_id, source, text_clean,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rn
  FROM kept
),
sampled AS MATERIALIZED (
  SELECT rk.doc_id, rk.source, rk.text_clean
  FROM ranked rk JOIN budg USING (source)
  WHERE rn <= k
),
d AS (
  SELECT doc_id,
         list_transform(string_split(lower(text_clean), ' '),
           w -> CAST(('0x' || substr(md5(w), 1, 12))::BIGINT % 1000 AS INT)
         ) AS ids
  FROM sampled
),
routed AS (
  SELECT doc_id, ids,
         ('0x' || substr(md5(doc_id::VARCHAR || ':ul2'), 1, 12))::BIGINT
           % 3 AS pick
  FROM d
),
unioned AS (
  SELECT * FROM ({_ul2_span_branch_sql(0, "R", 20, 3, 900)})
  UNION ALL
  SELECT * FROM ({_ul2_span_branch_sql(1, "X", 16, 8, 901)})
  UNION ALL
  SELECT doc_id, 'S' AS denoiser, CAST(n AS INT) AS n_tokens,
         array_to_string([902] || ids[1 : cut], ' ') AS inputs_joined,
         coalesce(array_to_string(ids[cut + 1 : n], ' '), '')
           AS targets_joined
  FROM (
    SELECT doc_id, ids, len(ids) AS n,
           CAST(('0x' || substr(md5(doc_id::VARCHAR || ':s-cut'), 1,
                                12))::BIGINT % (len(ids) + 1) AS INT) AS cut
    FROM routed WHERE pick = 2
  )
)
SELECT un.doc_id, sm.source, un.denoiser, un.n_tokens,
       un.inputs_joined, un.targets_joined
FROM unioned un JOIN sampled sm USING (doc_id)
"""


def corpus_training_set_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ROUND-12 capstone: every seam this round added, composed
    end-to-end and replayed by ONE DuckDB statement —

    1. CLEAN: block-unit dedup with the PRODUCTION 128-bit binary
       keys (``key="md5"`` — value-identical to the string form, so
       the same block-units oracle CTEs replay it);
    2. BUDGET: UniMax epoch-capped water-filling of a 60k-token
       budget over the cleaned corpus (cap 2.5 epochs; the
       recursive-CTE replay of the all-integer greedy);
    3. SAMPLE: each source keeps ``budget_i * n_docs div n_tokens``
       docs (its token budget at its own mean doc length) via the
       distributed grouped md5 rank — integer-only, no second window;
    4. TRANSFORM: UL2 with the TUNED mixture rates seam —
       weights (250k, 250k, 500k): S-denoiser half the corpus,
       cumulative micro-bucket routing on hash mod 1e6.

    Output: (doc_id, source, denoiser, n_tokens, inputs_joined,
    targets_joined)."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        hash48,
        tokens,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.augment import (
        ul2_mixture,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.dedup import (
        block_unit_dedup,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.sampling import (
        grouped_hash_rank,
        unimax_budget,
    )

    docs = _t(spark, sf_dir, "documents")
    # the staging seam (v4 lesson): cleaned feeds the budget pass,
    # the rank assembly AND the sampled join-back
    cleaned = (
        block_unit_dedup(docs, block_words=5, key="md5")
        .filter(F.col("n_kept") > 0)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "text_clean")
        .localCheckpoint(eager=True)
    )
    plan = unimax_budget(
        cleaned,
        budget_tokens=60_000,
        epoch_cap_micro=2_500_000,
        text_col="text_clean",
    )
    budg = plan.select(
        "source",
        F.expr(
            "case when n_tokens > 0 then"
            " cast(budget_i as decimal(38,0)) * n_docs div n_tokens"
            " else 0 end"
        )
        .cast("bigint")
        .alias("_k"),
    )
    sampled = (
        grouped_hash_rank(cleaned, "source", out_col="_rn")
        .join(F.broadcast(budg), "source")
        .filter(F.col("_rn") <= F.col("_k"))
        .select("doc_id", "source", "text_clean")
        .localCheckpoint(eager=True)
    )
    ids = sampled.select(
        "doc_id",
        F.transform(
            tokens("text_clean"), lambda w: (hash48(w) % 1000).cast("int")
        ).alias("token_ids"),
    )
    return (
        ul2_mixture(ids, weights=(250_000, 250_000, 500_000))
        .join(sampled.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            "denoiser",
            "n_tokens",
            F.array_join(F.col("inputs").cast("array<string>"), " ").alias(
                "inputs_joined"
            ),
            F.array_join(F.col("targets").cast("array<string>"), " ").alias(
                "targets_joined"
            ),
        )
        .orderBy("doc_id")
    )


CORPUS_TRAINING_SET_V5_ORACLE = f"""
WITH RECURSIVE {_BLOCK_UNITS_CTES},
kept AS MATERIALIZED (
  SELECT t.doc_id, d.source, r.text_clean
  FROM tot t
  JOIN r USING (doc_id)
  JOIN documents d USING (doc_id)
  WHERE r.n_kept > 0
),
counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(lower(text_clean), ' '))) AS BIGINT)
           AS n_tokens
  FROM kept GROUP BY source
),
caps AS (
  SELECT *,
         CAST(CAST(n_tokens AS HUGEINT) * 2500000 // 1000000 AS BIGINT)
           AS capacity_tokens
  FROM counts
),
uranked AS (
  SELECT *, row_number() OVER (ORDER BY capacity_tokens, source) AS urk,
         (SELECT count(*) FROM caps) AS un
  FROM caps
),
alloc AS (
  SELECT urk, source, n_docs, n_tokens, un,
         least(capacity_tokens, 60000 // un) AS budget_i,
         60000 - least(capacity_tokens, 60000 // un) AS remaining
  FROM uranked WHERE urk = 1
  UNION ALL
  SELECT r.urk, r.source, r.n_docs, r.n_tokens, r.un,
         least(r.capacity_tokens, a.remaining // (r.un - r.urk + 1)),
         a.remaining
           - least(r.capacity_tokens, a.remaining // (r.un - r.urk + 1))
  FROM alloc a JOIN uranked r ON r.urk = a.urk + 1
),
budg AS (
  SELECT source,
         CASE WHEN n_tokens > 0
              THEN CAST(CAST(budget_i AS HUGEINT) * n_docs // n_tokens
                        AS BIGINT)
              ELSE 0 END AS k
  FROM alloc
),
dranked AS (
  SELECT doc_id, source, text_clean,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rn
  FROM kept
),
sampled AS MATERIALIZED (
  SELECT rk.doc_id, rk.source, rk.text_clean
  FROM dranked rk JOIN budg USING (source)
  WHERE rn <= k
),
d AS (
  SELECT doc_id,
         list_transform(string_split(lower(text_clean), ' '),
           w -> CAST(('0x' || substr(md5(w), 1, 12))::BIGINT % 1000 AS INT)
         ) AS ids
  FROM sampled
),
routed AS (
  SELECT doc_id, ids,
         CASE WHEN draw < 250000 THEN 0
              WHEN draw < 500000 THEN 1
              ELSE 2 END AS pick
  FROM (
    SELECT doc_id, ids,
           ('0x' || substr(md5(doc_id::VARCHAR || ':ul2'), 1, 12))::BIGINT
             % 1000000 AS draw
    FROM d
  )
),
unioned AS (
  SELECT * FROM ({_ul2_span_branch_sql(0, "R", 20, 3, 900)})
  UNION ALL
  SELECT * FROM ({_ul2_span_branch_sql(1, "X", 16, 8, 901)})
  UNION ALL
  SELECT doc_id, 'S' AS denoiser, CAST(n AS INT) AS n_tokens,
         array_to_string([902] || ids[1 : cut], ' ') AS inputs_joined,
         coalesce(array_to_string(ids[cut + 1 : n], ' '), '')
           AS targets_joined
  FROM (
    SELECT doc_id, ids, len(ids) AS n,
           CAST(('0x' || substr(md5(doc_id::VARCHAR || ':s-cut'), 1,
                                12))::BIGINT % (len(ids) + 1) AS INT) AS cut
    FROM routed WHERE pick = 2
  )
)
SELECT un.doc_id, sm.source, un.denoiser, un.n_tokens,
       un.inputs_joined, un.targets_joined
FROM unioned un JOIN sampled sm USING (doc_id)
"""


LM_TRIGRAM_BACKOFF_ORACLE = _LM_TRIGRAM_SCORED_SQL + """
SELECT doc_id, avg_logprob, n_trigrams, n_bo_bigram, n_bo_unigram
FROM scored
"""


def lm_trigram_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity terciles under the TRIGRAM stupid-
    backoff model (operators/lm.py: perplexity_buckets over
    trigram_logprob) — the bigram bucket slot's depth twin: longer
    context sharpens the head/tail separation the curation sampler
    keys on.  Ties break on doc id; the oracle restates the identical
    total order as one ntile."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.lm import (
        perplexity_buckets,
        trigram_logprob,
    )

    train, held = _lm_splits(spark, sf_dir)
    return perplexity_buckets(trigram_logprob(train, held))


LM_TRIGRAM_BUCKETS_ORACLE = _LM_TRIGRAM_SCORED_SQL + """
SELECT doc_id, avg_logprob,
       ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id ASC) AS ppl_bucket
FROM scored
"""


def corpus_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION — the removal step the
    text_contamination scan feeds (the standard pre-training hygiene
    pass: GPT-3 appendix C / Llama recipes drop training docs sharing
    n-grams with eval sets): corpus docs sharing >=2 distinct word
    trigrams with any eval doc (doc_id % 97 == 0, broadcast) are
    dropped; the survivors ARE the training corpus.  One corpus scan
    + broadcast probe + doc-keyed anti-join — batch-proportional,
    no corpus self-join."""
    docs = _t(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    bad = (
        tx.contamination(docs, eval_docs, k=3, min_shared=2)
        .select("doc_id")
        .distinct()
    )
    return (
        docs.join(bad, "doc_id", "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


CORPUS_DECONTAMINATED_ORACLE = """
WITH toks AS (
  SELECT doc_id AS id, string_split(lower(text), ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM (SELECT id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks)
), bad AS (
  SELECT c.id
  FROM sh c JOIN sh e ON c.s = e.s AND c.id <> e.id
  WHERE e.id % 97 = 0
  GROUP BY c.id, e.id
  HAVING count(*) >= 2
)
SELECT doc_id, source FROM documents
WHERE doc_id NOT IN (SELECT id FROM bad)
"""


def dedup_block_units_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run block-unit dedup (operators/dedup.py:
    incremental_block_unit_dedup): the doc_id %% 5 == 0 batch deduped
    against the published corpus (corpus precedence — a block the
    corpus already carries is dropped from the batch outright), then
    first-occurrence-wins within the batch, reassembled.  The oracle
    replays precedence with one anti-join before the argmin."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.dedup import (
        incremental_block_unit_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return incremental_block_unit_dedup(
        batch, corpus, block_words=5
    ).orderBy("doc_id")


DEDUP_BLOCK_UNITS_INCREMENTAL_ORACLE = f"""
WITH {_BLOCK_UNITS_CTES},
cu AS (SELECT DISTINCT unit FROM u WHERE doc_id % 5 <> 0),
fresh AS (
  SELECT bu.* FROM u bu ANTI JOIN cu USING (unit)
  WHERE bu.doc_id % 5 = 0
),
f2 AS (
  SELECT unit,
         first(doc_id ORDER BY doc_id, idx) AS d,
         first(idx ORDER BY doc_id, idx) AS k
  FROM fresh GROUP BY unit
),
r2 AS (
  SELECT d AS doc_id, CAST(count(*) AS INT) AS n_kept,
         string_agg(unit, ' ' ORDER BY k) AS text_clean
  FROM f2 GROUP BY d
)
SELECT t.doc_id, t.n_units,
       CAST(COALESCE(r2.n_kept, 0) AS INT) AS n_kept,
       COALESCE(r2.text_clean, '') AS text_clean
FROM tot t LEFT JOIN r2 USING (doc_id)
WHERE t.doc_id % 5 = 0
"""


def corpus_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version drift monitoring (operators/text.py:
    version_drift): per source, KL(new || old) between the unigram
    distributions of the doc_id-parity versions, plus vocabulary
    churn — the table a pipeline checks before swapping in a
    re-crawled corpus version.  Integer-count-weighted micro
    log-ratios, bigint sums, one divide; the oracle replays the
    identical tree."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.text import (
        version_drift,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "version", (F.col("doc_id") % 2).cast("int")
    )
    return version_drift(docs, "version").orderBy("source")


CORPUS_DRIFT_REPORT_ORACLE = """
WITH toks AS (
  SELECT source, CAST(doc_id % 2 AS INT) AS v,
         unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
counts AS (
  SELECT source, term,
         CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
  FROM toks GROUP BY source, term
),
totals AS (
  SELECT source, sum(c0) AS t0, sum(c1) AS t1, count(*) AS v_union
  FROM counts GROUP BY source
),
contrib AS (
  SELECT c.source, t.t0, t.t1,
         CASE WHEN c1 > 0
              THEN CAST(c1 AS HUGEINT)
                   * CAST(floor(ln((c1 * 1.0 / t1)
                     / ((c0 + 1) * 1.0 / (t0 + v_union)))
                     * 1000000 + 0.5) AS BIGINT)
              ELSE 0 END AS con,
         CASE WHEN c1 > 0 AND c0 = 0 THEN 1 ELSE 0 END AS newt,
         CASE WHEN c0 > 0 AND c1 = 0 THEN 1 ELSE 0 END AS lost
  FROM counts c JOIN totals t USING (source)
)
SELECT source,
       CAST(max(t0) AS BIGINT) AS n_tokens_v0,
       CAST(max(t1) AS BIGINT) AS n_tokens_v1,
       CAST(CASE WHEN max(t1) > 0 THEN sum(con) // max(t1) END AS BIGINT)
         AS kl_micro,
       CAST(sum(newt) AS BIGINT) AS n_new_terms,
       CAST(sum(lost) AS BIGINT) AS n_lost_terms
FROM contrib GROUP BY source
"""


def corpus_semantic_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination (operators/similarity.py:
    semantic_decontaminate) — the semantic twin of
    corpus_decontaminated: corpus vectors whose 6-dp cosine against
    any eval vector reaches 0.8 are dropped; survivors are the
    training set.  The eval set is the FIXED 50-vector probe
    (vec_id < 50 — the sim_brute_topk device): a real benchmark is
    constant-size, and a probe side defined as a corpus FRACTION
    would scale the BNLJ quadratically (the contrastive-triplets
    lesson — the first form of this entry used vec_id %% 97 and
    probed 45x at 10x data; this form probes linear).  One
    shuffle-free broadcast probe + doc-keyed anti-join."""
    from aws_cdk_pipelines_datalake_etl_spark.operators.similarity import (
        semantic_decontaminate,
    )

    e = _t(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") >= 50)
    ev = e.filter(F.col("vec_id") < 50)
    return semantic_decontaminate(corpus, ev, threshold=0.8).orderBy(
        "vec_id"
    )


CORPUS_SEMANTIC_DECONTAMINATED_ORACLE = """
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT e AS qe FROM v WHERE vec_id < 50),
c AS (SELECT vec_id, label, e FROM v WHERE vec_id >= 50),
bad AS (
  SELECT DISTINCT vec_id
  FROM c, q
  WHERE round(list_cosine_similarity(qe, e), 6) >= 0.8
)
SELECT vec_id, label FROM c WHERE vec_id NOT IN (SELECT vec_id FROM bad)
"""


def corpus_language_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus LANGUAGE-MIX table (language_id_nb composed into a
    per-(source, lang) rollup): docs, tokens and the within-source
    token share per detected language — the table a multilingual
    mixture plan is built from (and the first place a crawl-routing
    bug shows up as a language share jumping).  One NB scoring pass
    (the fused single-scan plan) + a doc-keyed join + one
    source-cardinality agg; the oracle wraps the full NB replay as a
    CTE and restates the rollup."""
    from aws_cdk_pipelines_datalake_etl_spark.functions.text_fn import (
        token_count,
    )
    from aws_cdk_pipelines_datalake_etl_spark.operators.langid import (
        language_id_nb,
    )

    docs = _t(spark, sf_dir, "documents")
    lid = language_id_nb(docs).select("doc_id", "lang")
    nt = docs.select(
        "doc_id", "source", token_count("text").cast("long").alias("_nt")
    )
    mix = (
        lid.join(nt, "doc_id")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_nt").cast("bigint").alias("n_tokens"),
        )
    )
    tot = mix.groupBy("source").agg(F.sum("n_tokens").alias("_t"))
    return (
        mix.join(F.broadcast(tot), "source")
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            F.when(
                F.col("_t") > 0,
                F.expr(
                    "cast(n_tokens as decimal(38,0)) * 1000000 div _t"
                ).cast("bigint"),
            ).alias("share_micro"),
        )
        .orderBy("source", "lang")
    )


CORPUS_LANGUAGE_MIX_ORACLE = f"""
WITH scored AS ({_langid_nb_oracle()}),
nt AS (
  SELECT doc_id, source,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS _nt
  FROM documents
),
mix AS (
  SELECT n.source, s.lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n._nt) AS BIGINT) AS n_tokens
  FROM scored s JOIN nt n USING (doc_id)
  GROUP BY n.source, s.lang
),
tot AS (SELECT source, sum(n_tokens) AS t FROM mix GROUP BY source)
SELECT m.source, m.lang, m.n_docs, m.n_tokens,
       CASE WHEN t.t > 0
            THEN CAST(m.n_tokens * 1000000 // t.t AS BIGINT) END
         AS share_micro
FROM mix m JOIN tot t USING (source)
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------


# One row per query: (function, DuckDB oracle SQL or None).  A query's
# registry name is its function's name, and this list's order is the
# order of ``queries()``.  The external correctness gate hash-checks
# only the first 50 rows, so the head of the list is its window.
# Fill it in this priority order:
#   1. the 3-entry reference-parity core, always;
#   2. entries added or semantically changed since the last window;
#   3. oracle-backed entries that gate has never hash-verified;
#   4. the rest oldest-verified-first (alphabetical within a round).
# Only oracle-backed rows go in the window: a rows-only row can never
# be hash-green, so rows-only ops keep their pytest gates (merge ==
# direct, recall bounds).  Late-entry rule: an entry added or changed
# after the round's ORACLE_LOCAL.md sweep enters the window only after
# a logged ``python scripts/oracle_check.py <name>`` run.  Every row,
# in the window or not, is swept by scripts/gen_oracle_local.py.
QUERIES: list[tuple[QueryFn, str | None]] = [
    (q01_pricing_summary, Q01_ORACLE),
    (q02_taxi_shape_agg, Q02_ORACLE),
    (q23_sql_transform, Q23_PORTABLE_SQL),
    (sim_pq_full_rerank, SIM_BRUTE_TOPK_ORACLE),
    (sim_ivfpq_residual_full, SIM_BRUTE_TOPK_ORACLE),
    (corpus_rho1_selection, CORPUS_RHO1_SELECTION_ORACLE),
    (q41_large_orders, Q41_ORACLE),
    (dedup_block_units, DEDUP_BLOCK_UNITS_ORACLE),
    (dedup_block_units_md5, DEDUP_BLOCK_UNITS_ORACLE),
    (corpus_quality_scores, CORPUS_QUALITY_SCORES_ORACLE),
    (corpus_dsir_weights, CORPUS_DSIR_WEIGHTS_ORACLE),
    (text_ul2_mixture, TEXT_UL2_MIXTURE_ORACLE),
    (lm_kneser_ney_logprob, LM_KNESER_NEY_ORACLE),
    (dedup_substring_spans_prod, DEDUP_SUBSTRING_ORACLE),
    (sample_unimax_budget, SAMPLE_UNIMAX_BUDGET_ORACLE),
    (corpus_drift_report, CORPUS_DRIFT_REPORT_ORACLE),
    (corpus_semantic_decontaminated, CORPUS_SEMANTIC_DECONTAMINATED_ORACLE),
    (corpus_language_mix, CORPUS_LANGUAGE_MIX_ORACLE),
    (corpus_training_set, CORPUS_TRAINING_SET_ORACLE),
    (dedup_clusters, DEDUP_CLUSTERS_ORACLE),
    (dedup_exact, DEDUP_EXACT_ORACLE),
    (dedup_minhash_lsh, _JACCARD_ORACLE),
    (dedup_ngram_jaccard, _JACCARD_ORACLE),
    (dedup_simhash, _simhash_oracle()),
    (incremental_rollup, INCREMENTAL_ROLLUP_ORACLE),
    (join_salted_skew, JOIN_SALTED_SKEW_ORACLE),
    (lm_bigram_logprob, LM_BIGRAM_LOGPROB_ORACLE),
    (lm_perplexity_buckets, LM_PERPLEXITY_BUCKETS_ORACLE),
    (lm_perplexity_cutpoints, LM_PERPLEXITY_CUTPOINTS_ORACLE),
    (multimodal_decode_jpeg_progressive, MULTIMODAL_JPEG_ORACLE),
    (multimodal_decode_png_adam7, MULTIMODAL_PNG_ORACLE),
    (multimodal_meta, MULTIMODAL_META_ORACLE),
    (q06_broadcast_dim_join, Q06_ORACLE),
    (q07_revenue_top_orders, Q07_ORACLE),
    (q09_anti_join, Q09_ORACLE),
    (q11_window_topk_per_group, Q11_ORACLE),
    (q13_sessionize, Q13_ORACLE),
    (q14_set_ops, Q14_ORACLE),
    (q16_rollup, Q16_ORACLE),
    (q19_pivot, Q19_ORACLE),
    (q21_correlated_subquery, Q21_ORACLE),
    (q24_grouping_sets, Q24_ORACLE),
    (q27_percentiles, Q27_ORACLE),
    (q29_pandas_udf_score, Q29_ORACLE),
    (q30_range_join, Q30_ORACLE),
    (q35_trailing_window, Q35_ORACLE),
    (q61_recursive_closure, Q61_RECURSIVE_SQL),
    (retrieval_metrics_bm25, RETRIEVAL_METRICS_ORACLE),
    (retrieval_rrf_fusion, RETRIEVAL_RRF_FUSION_ORACLE),
    (sample_stratified, _sample_stratified_oracle()),
    # ---- end of the hash-checked window: the rows above are the first 50 ----
    (sim_brute_topk, SIM_BRUTE_TOPK_ORACLE),
    (sim_lsh_near_dup, SIM_NEAR_DUP_ORACLE),
    (sim_random_projection, SIM_RANDOM_PROJECTION_ORACLE),
    (sketch_theta_audience, SKETCH_THETA_ORACLE),
    (source_jsonl_roundtrip, SOURCE_ORC_ORACLE),
    (web_domain_split, WEB_DOMAIN_SPLIT_ORACLE),
    (web_domain_stats, WEB_DOMAIN_STATS_ORACLE),
    (web_frontier_dedup, WEB_FRONTIER_DEDUP_ORACLE),
    (web_html_extract, WEB_HTML_EXTRACT_ORACLE),
    (web_pagerank, WEB_PAGERANK_ORACLE),
    (web_url_normalize, WEB_URL_NORMALIZE_ORACLE),
    (corpus_quality_znorm, CORPUS_QUALITY_ZNORM_ORACLE),
    (q03_filter_project, Q03_ORACLE),
    (q04_topk_orders, Q04_ORACLE),
    (q05_limit_star, Q05_ORACLE),
    (q08_semi_join, Q08_ORACLE),
    (q10_outer_join_histogram, Q10_ORACLE),
    (q12_window_running_sum, Q12_ORACLE),
    (q15_having_distinct, Q15_ORACLE),
    (q17_scalar_functions, Q17_ORACLE),
    (q18_date_functions, Q18_ORACLE),
    (q20_json_extract, Q20_ORACLE),
    (q22_cube, Q22_ORACLE),
    (q25_exists_correlated, Q25_ORACLE),
    (q26_lateral_explode, Q26_ORACLE),
    (q28_array_agg, Q28_ORACLE),
    (range_join_binned, Q30_ORACLE),
    (q31_shipping_priority, Q31_ORACLE),
    (q32_regional_supplier_volume, Q32_ORACLE),
    (q33_market_share, Q33_ORACLE),
    (q34_window_navigation, Q34_ORACLE),
    (sample_hash_deterministic, _sample_hash_oracle()),
    (agg_salted_skew, AGG_SALTED_SKEW_ORACLE),
    (approx_distinct_users, None),
    (approx_quantiles, None),
    (stream_stream_join, STREAM_STREAM_JOIN_ORACLE),
    (cdc_latest_state, CDC_LATEST_STATE_ORACLE),
    (stream_cdc_upsert, CDC_LATEST_STATE_ORACLE),
    (cdc_scd2, CDC_SCD2_ORACLE),
    (cdc_state_asof_time, CDC_STATE_ASOF_ORACLE),
    (bucketed_join, BUCKETED_JOIN_ORACLE),
    (q36_nation_volume, Q36_ORACLE),
    (q37_returned_items, Q37_ORACLE),
    (q38_priority_case, Q38_ORACLE),
    (q39_promo_revenue, Q39_ORACLE),
    (q40_avg_qty_subquery, Q40_ORACLE),
    (q42_disjunctive_join, Q42_ORACLE),
    (q43_dormant_customers, Q43_ORACLE),
    (q44_supplier_variety, Q44_ORACLE),
    (q45_retention_cohorts, Q45_ORACLE),
    (q48_rolling_wau, Q48_ORACLE),
    (q50_unpivot, Q50_ORACLE),
    (q51_forecast_revenue, Q51_ORACLE),
    (q52_product_profit, Q52_ORACLE),
    (q53_top_supplier, Q53_ORACLE),
    (q54_equidepth_histogram, Q54_ORACLE),
    (q56_full_outer_join, Q56_ORACLE),
    (q57_dense_grid_report, Q57_ORACLE),
    (q58_event_transitions, Q58_ORACLE),
    (q59_union_heterogeneous, Q59_ORACLE),
    (q60_edit_distance, Q60_ORACLE),
    (q49_variant_json, Q49_ORACLE),
    (q46_funnel_stages, Q46_ORACLE),
    (q47_reaggregation_rollup, Q47_ORACLE),
    (ts_gapfill, TS_GAPFILL_ORACLE),
    (ts_ewma, _ts_ewma_oracle()),
    (sample_train_val_test, SAMPLE_SPLIT_ORACLE),
    (sample_cap_per_class, SAMPLE_CAP_ORACLE),
    (sample_quality_weighted, SAMPLE_WEIGHTED_ORACLE),
    (sample_temperature_mix, SAMPLE_TEMPERATURE_ORACLE),
    (sample_temperature_mix_t3, SAMPLE_TEMPERATURE_T3_ORACLE),
    (dedup_semantic_survivors, DEDUP_SEMANTIC_ORACLE),
    # guard invariance: the skew guard must not change the result, so
    # the oracle is IDENTICAL by design
    (dedup_semantic_skewguard, DEDUP_SEMANTIC_ORACLE),
    (sample_source_rebalance, SAMPLE_REBALANCE_ORACLE),
    (text_repetition_removal, TEXT_REPETITION_ORACLE),
    (q55_ratio_to_report, Q55_ORACLE),
    (stream_daily_distinct, STREAM_DAILY_DISTINCT_ORACLE),
    (stream_static_join, STREAM_STATIC_JOIN_ORACLE),
    (stream_left_outer_join, STREAM_LEFT_OUTER_ORACLE),
    (text_quality_gate, TEXT_QUALITY_GATE_ORACLE),
    (text_tfidf_top_terms, TEXT_TFIDF_ORACLE),
    (text_top_bigrams, TEXT_TOP_BIGRAMS_ORACLE),
    (text_chunk_windows, TEXT_CHUNK_ORACLE),
    (text_pack_bins, TEXT_PACK_ORACLE),
    (text_pack_offsets, TEXT_PACK_OFFSETS_ORACLE),
    (stream_sliding, STREAM_SLIDING_ORACLE),
    (dedup_fingerprint, DEDUP_FINGERPRINT_ORACLE),
    (dedup_simhash_pairs, _simhash_pairs_oracle()),
    (q68_numeric_profile, Q68_PROFILE_SQL),
    (q70_map_functions, Q70_MAP_ORACLE),
    (q69_suppliers_who_kept_waiting, Q69_WAITING_SQL),
    (text_boilerplate_ratio, TEXT_BOILERPLATE_ORACLE),
    (text_oov_rate, TEXT_OOV_ORACLE),
    (sketch_cm_heavy_hitters, _cm_heavy_hitters_oracle()),
    (sketch_cm_topk, _cm_topk_oracle()),
    (dedup_winnow_fingerprints, _winnow_fp_oracle),
    (dedup_winnow_overlap, _winnow_ov_oracle),
    (dedup_incremental_fingerprint, DEDUP_INCREMENTAL_FP_ORACLE),
    (dedup_incremental_lsh, DEDUP_INCREMENTAL_LSH_ORACLE),
    (dedup_bloom_prefilter, DEDUP_BLOOM_ORACLE),
    (corpus_dedup_survivors, CORPUS_SURVIVORS_ORACLE),
    (corpus_training_set_v3, CORPUS_TRAINING_SET_V3_ORACLE),
    (corpus_training_set_v2, _training_set_v2_oracle()),
    (corpus_data_card, CORPUS_DATA_CARD_ORACLE),
    (corpus_epoch_shuffle, CORPUS_EPOCH_SHUFFLE_ORACLE),
    (text_unigram_logprob, TEXT_UNIGRAM_LOGPROB_ORACLE),
    (source_python_datasource, SOURCE_PYTHON_DATASOURCE_ORACLE),
    (source_python_stream, SOURCE_PYTHON_STREAM_ORACLE),
    (source_python_stream_partitioned, SOURCE_PYTHON_STREAM_ORACLE),
    (sink_python_stream_writer, SOURCE_PYTHON_STREAM_ORACLE),
    (udtf_word_ngrams, UDTF_WORD_NGRAMS_ORACLE),
    (text_pseudonymize, TEXT_PSEUDONYMIZE_ORACLE),
    (text_metrics, TEXT_METRICS_ORACLE),
    (text_langid, _langid_oracle()),
    (text_langid_nb, _langid_nb_oracle()),
    (text_langid_confident, _langid_nb_oracle(min_margin_micro=3000)),
    (text_script_id, _script_id_oracle()),
    (text_token_count, TEXT_TOKEN_COUNT_ORACLE),
    (sim_contrastive_triplets, SIM_CONTRASTIVE_TRIPLETS_ORACLE),
    (sim_near_dup_pairs, SIM_NEAR_DUP_ORACLE),
    (sim_ivf_topk, None),
    (sim_ivf_full_probe, SIM_BRUTE_TOPK_ORACLE),
    (sim_pq_rerank_topk, None),
    (sim_ivfpq_topk, None),
    (sim_ivfpq_full, SIM_BRUTE_TOPK_ORACLE),
    (sim_ivfpq_index_full_probe, SIM_BRUTE_TOPK_ORACLE),
    (sim_ivfpq_bcast_full, SIM_BRUTE_TOPK_ORACLE),
    (sim_ivf_index_full_probe, SIM_BRUTE_TOPK_ORACLE),
    (sim_ivf_trained, None),
    (sim_ann_recall_trained, None),
    (asof_forward_next_purchase, ASOF_FORWARD_ORACLE),
    (dq_report, DQ_REPORT_ORACLE),
    (asof_view_to_purchase, ASOF_ORACLE),
    (stream_tumbling, STREAM_TUMBLING_ORACLE),
    (stream_session_window, STREAM_SESSION_WINDOW_ORACLE),
    (stream_sessionize_stateful, STREAM_SESSIONIZE_STATEFUL_ORACLE),
    (stream_late_drop, STREAM_LATE_DROP_ORACLE),
    (multimodal_image_resize, MULTIMODAL_RESIZE_ORACLE),
    (multimodal_decode_jpeg, MULTIMODAL_JPEG_ORACLE),
    (multimodal_decode_png, MULTIMODAL_PNG_ORACLE),
    (multimodal_audio_adpcm, MULTIMODAL_ADPCM_ORACLE),
    (multimodal_audio_features, MULTIMODAL_AUDIO_ORACLE),
    (multimodal_video_frames, MULTIMODAL_VIDEO_ORACLE),
    (multimodal_embed_cosine, MULTIMODAL_EMBED_ORACLE),
    (multimodal_embed_topk, MULTIMODAL_EMBED_TOPK_ORACLE),
    (sketch_distinct_rollup, None),
    (udaf_mad, UDAF_MAD_ORACLE),
    (sketch_quantile_rollup, None),
    (text_contamination, TEXT_CONTAMINATION_ORACLE),
    (text_redact_pii, TEXT_REDACT_ORACLE),
    (sim_quantize_embeddings, SIM_QUANTIZE_ORACLE),
    (asof_cogroup_pandas, ASOF_ORACLE),
    (q62_distribution_ranks, Q62_ORACLE),
    (grouped_apply_zscore, GROUPED_ZSCORE_ORACLE),
    (stream_dedup_within_watermark, STREAM_DEDUP_WW_ORACLE),
    (cdc_table_diff, CDC_TABLE_DIFF_ORACLE),
    (text_normalize, TEXT_NORMALIZE_ORACLE),
    (q63_array_algebra, Q63_ORACLE),
    (q64_filtered_aggregates, Q64_FILTER_SQL),
    (q65_regexp_extract, Q65_ORACLE),
    (q66_mode_aggregate, Q66_ORACLE),
    (q67_null_safe_join, Q67_ORACLE),
    (dedup_span_removal, DEDUP_SPAN_REMOVAL_ORACLE),
    (dedup_substring_spans, DEDUP_SUBSTRING_ORACLE),
    (source_orc_roundtrip, SOURCE_ORC_ORACLE),
    (text_repetition_metrics, TEXT_REPETITION_METRICS_ORACLE),
    (multimodal_binaryfile_ingest, MULTIMODAL_BINARYFILE_ORACLE),
    (web_robots_filter, WEB_ROBOTS_FILTER_ORACLE),
    (retrieval_bm25_topk, RETRIEVAL_BM25_ORACLE),
    (retrieval_hard_negatives, RETRIEVAL_HARD_NEGATIVES_ORACLE),
    (text_fim_transform, TEXT_FIM_ORACLE),
    (text_span_corruption, TEXT_SPAN_CORRUPTION_ORACLE),
    (lm_perplexity_approx, None),
    (tokenizer_bpe_encode, None),
    (tokenizer_unigram_encode, None),
    (text_compression_ratio, None),
    (corpus_packed_ids, None),
    (sample_epoch_plan, SAMPLE_EPOCH_PLAN_ORACLE),
    (corpus_epoch_stream, CORPUS_EPOCH_STREAM_ORACLE),
    (dedup_quality_canonical, DEDUP_QUALITY_CANONICAL_ORACLE),
    (corpus_curriculum_order, CORPUS_CURRICULUM_ORDER_ORACLE),
    (corpus_ngram_novelty, CORPUS_NGRAM_NOVELTY_ORACLE),
    (corpus_source_overlap_sketch, CORPUS_SOURCE_OVERLAP_ORACLE),
    (corpus_source_overlap, CORPUS_SOURCE_OVERLAP_ORACLE),
    (corpus_pack_report, CORPUS_PACK_REPORT_ORACLE),
    (text_pack_sequences, TEXT_PACK_SEQUENCES_ORACLE),
    (corpus_quality_classifier, None),
    (sample_dsir_topk, SAMPLE_DSIR_TOPK_ORACLE),
    (sample_dsir_gumbel, SAMPLE_DSIR_GUMBEL_ORACLE),
    (sample_dsir_gumbel_per_source, SAMPLE_DSIR_GUMBEL_PER_SOURCE_ORACLE),
    (sample_mixture_plan, SAMPLE_MIXTURE_PLAN_ORACLE),
    (corpus_dsir_incremental, CORPUS_DSIR_WEIGHTS_ORACLE),
    (text_gopher_rules, TEXT_GOPHER_ORACLE),
    (lm_trigram_backoff, LM_TRIGRAM_BACKOFF_ORACLE),
    (sample_doremi_weights, SAMPLE_DOREMI_WEIGHTS_ORACLE),
    (sample_doremi_external_loss, SAMPLE_DOREMI_EXTERNAL_LOSS_ORACLE),
    (corpus_training_set_v5, CORPUS_TRAINING_SET_V5_ORACLE),
    (corpus_repeat_value, CORPUS_REPEAT_VALUE_ORACLE),
    (corpus_fertility_report, CORPUS_FERTILITY_REPORT_ORACLE),
    (corpus_training_set_v4, CORPUS_TRAINING_SET_V4_ORACLE),
    (lm_trigram_buckets, LM_TRIGRAM_BUCKETS_ORACLE),
    (corpus_decontaminated, CORPUS_DECONTAMINATED_ORACLE),
    (dedup_block_units_incremental, DEDUP_BLOCK_UNITS_INCREMENTAL_ORACLE),
]


def build_registry() -> dict[str, QuerySpec]:
    return {
        fn.__name__: QuerySpec(fn, portable_round_sql(o) if o else None)
        for fn, o in QUERIES
    }
