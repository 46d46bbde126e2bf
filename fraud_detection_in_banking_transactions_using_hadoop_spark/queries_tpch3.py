"""TPC-H-shaped relational suite, part 3: the last three classic shapes,
completing all 22 -- product-type profit (Q9), customer order-count
distribution (Q13, the left-join-then-histogram), and potential part
promotion (Q20, the nested-aggregate IN / semi-join chain).

The driver tables lack partsupp, so Q9's supply cost is a deterministic
retail-price proxy and Q20's availability threshold compares a
supplier's shipped quantity to the cross-supplier average for the part
-- the SHAPES (multi-way join + derived-column group-by, outer join
feeding a second aggregation, correlated aggregate threshold inside a
semi-join chain) are the point, and each has an exact DuckDB oracle.

Float parity (CLAUDE.md): revenue/profit rounded on both sides, counts
cast BIGINT both sides, year() cast INTEGER both sides.

Scale notes: Q9/Q20 join lineitem (the fact) against dimension tables
small enough to broadcast at any SF (part/supplier/nation scale with SF
but stay ~1000x smaller than lineitem); the only fact-sized shuffles
are the final group-bys on low-cardinality keys. Q13's two aggregations
shuffle on o_custkey then on the count -- both unavoidable and both
map-side-combined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


# --------------------------------------------------------------- Q9 shape --
@register(
    "q9_product_profit",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - p_retailprice * l_quantity * 0.1), 2) AS profit
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    """,
    tags=("tpch", "J3", "A1"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: profit per supplying nation per order year, for a part
    family. Supply cost proxied by 10% of retail price (no partsupp in
    the driver data). Ref shape: multi-join + expression aggregate."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    supplier = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = read_table(spark, sf_dir, "nation")

    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * 0.1
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).alias("profit"))
    )


# -------------------------------------------------------------- Q13 shape --
q13_order_distribution = register_sql(
    "q13_order_distribution",
    """
    WITH per_cust AS (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer
      LEFT JOIN orders ON o_custkey = c_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey)
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    """,
    tags=("tpch", "J1", "A1"),
)


# -------------------------------------------------------------- Q20 shape --
q20_part_promotion = register_sql(
    "q20_part_promotion",
    """
    WITH shipped AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'small%'
      GROUP BY l_partkey, l_suppkey),
    thresholds AS (
      SELECT l_partkey AS tp, avg(qty) AS avg_qty FROM shipped GROUP BY l_partkey)
    SELECT DISTINCT s_name, n_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM shipped JOIN thresholds ON l_partkey = tp
      WHERE qty > 1.5 * avg_qty)
    ORDER BY s_name, n_name
    """,
    tags=("tpch", "semi", "correlated"),
)
