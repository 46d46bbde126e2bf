"""TPC-H-shaped relational suite adapted to the driver tables' columns --
the classic OLAP shapes (shipping priority, EXISTS-per-order, selective
scan aggregate, CASE-pivot counts, promo share, distinct-count rollup,
HAVING filter) each matched to a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import _FMT_D, _FMT_S, register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


# --------------------------------------------------------------- Q3 shape --
@register(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '{_FMT_D}') AS orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    tags=("tpch", "J3", "A1", "sort"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15")
    )
    lineitem = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15")
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", F.date_format("o_orderdate", _FMT_S).alias("orderdate"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


# --------------------------------------------------------------- Q4 shape --
q4_priority_check = register_sql(
    "q4_priority_check",
    """
    SELECT o_orderpriority, count(*) AS n
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01' AND o_orderdate < TIMESTAMP '1997-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    tags=("tpch", "semi", "A1"),
)


# --------------------------------------------------------------- Q6 shape --
q6_forecast_revenue = register_sql(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 10
    """,
    tags=("tpch", "P2", "A1"),
)


# -------------------------------------------------------------- Q12 shape --
q12_priority_counts = register_sql(
    "q12_priority_counts",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= o_orderdate
    GROUP BY l_linestatus
    """,
    tags=("tpch", "F4", "A1"),
)


# -------------------------------------------------------------- Q14 shape --
q14_promo_share = register_sql(
    "q14_promo_share",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-06-01' AND l_shipdate < TIMESTAMP '1997-12-01'
    """,
    tags=("tpch", "J3", "F4"),
)


# -------------------------------------------------------------- Q16 shape --
q16_supplier_cnt = register_sql(
    "q16_supplier_cnt",
    """
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13' AND p_size IN (1, 5, 9, 13)
    GROUP BY p_brand, p_size
    """,
    tags=("tpch", "distinct", "A1"),
)


# -------------------------------------------------------------- Q18 shape --
q18_large_orders = register_sql(
    "q18_large_orders",
    """
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
    SELECT c_custkey, c_name, o_orderkey,
           round(o_totalprice, 2) AS totalprice,
           round(total_qty, 2) AS total_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
    tags=("tpch", "having", "J2"),
)
