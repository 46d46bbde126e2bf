"""Relational surface breadth: outer/semi/anti joins, the full window
function suite, correlated subqueries (via the SQL API -- same Catalyst
plans as the DataFrame API), and JSON extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


# ---------------------------------------------------------------------------
# Outer join with NULL semantics: every customer, order counts incl. zeros
# ---------------------------------------------------------------------------
@register(
    "left_join_nulls",
    """
    SELECT c_custkey,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spend
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
    tags=("join", "outer"),
)
def q_left_join_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


q_semi_join = register_sql(
    "semi_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
    tags=("join", "semi"),
)


@register(
    "anti_join",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderstatus = 'P')
    """,
    tags=("join", "anti"),
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    pending = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return customer.join(
        pending, customer.c_custkey == pending.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


# ---------------------------------------------------------------------------
# Window function suite: lead/lag/first/ntile/percent_rank/cume_dist
# ---------------------------------------------------------------------------
@register(
    "window_suite",
    """
    SELECT o_orderkey,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           first_value(o_totalprice) OVER w AS first_price,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                         ROWS UNBOUNDED PRECEDING), 2) AS running_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("W4", "window"),
)
def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.sum("o_totalprice").over(wrun), 2).alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery -- via the SQL API (same Catalyst planning)
# ---------------------------------------------------------------------------
q_scalar_subquery = register_sql(
    "scalar_subquery",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > 2 * (SELECT avg(o2.o_totalprice) FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
    """,
    tags=("subquery",),
)


# ---------------------------------------------------------------------------
# JSON extraction (S12 batch form): typed field out of a JSON string column
# ---------------------------------------------------------------------------
@register(
    "json_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
                THEN 'high' ELSE 'low' END AS k_band
    FROM events
    """,
    tags=("S12", "json"),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select(
        "event_id",
        k.alias("k"),
        F.when(k >= 50, "high").otherwise("low").alias("k_band"),
    )
