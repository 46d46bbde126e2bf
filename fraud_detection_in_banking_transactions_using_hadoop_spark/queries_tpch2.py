"""TPC-H-shaped relational suite, part 2: the remaining classic shapes --
min-cost-supplier correlated lookup (Q2), two-nation volume (Q7), market
share (Q8), returned items (Q10), important-stock threshold (Q11), top
supplier by scalar max (Q15), small-quantity correlated avg (Q17),
disjunctive predicates (Q19), latest-shipper-in-shared-order (Q21, the
EXISTS/NOT EXISTS chain), and dormant-customers (Q22).

The driver tables lack partsupp / l_commitdate / c_phone, so Q2/Q11 use
lineitem as the part-supplier cost link, Q21 uses shipdate ordering
inside multi-supplier orders, and Q22 groups dormant high-balance
customers by nation instead of phone prefix -- the SHAPES (correlated
scalar subqueries, anti/semi chains, threshold-vs-global-aggregate) are
the point, and each has an exact DuckDB oracle.

Float-parity notes (CLAUDE.md): every revenue/value is round()ed on both
sides; Q15's argmax compares ROUNDED revenue so a 1-ulp parallel-sum
difference cannot flip the winner; counts are cast BIGINT on both sides;
year() is cast INTEGER on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


# --------------------------------------------------------------- Q2 shape --
q2_min_cost_supplier = register_sql(
    "q2_min_cost_supplier",
    """
    WITH costs AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    best AS (
      SELECT l_partkey AS bp, min(cost) AS min_cost FROM costs GROUP BY l_partkey)
    SELECT p_partkey, p_brand, s_name, n_name, round(cost, 2) AS cost
    FROM costs
    JOIN best ON l_partkey = bp AND cost = min_cost
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE p_size <= 10 AND r_name = 'ASIA'
    """,
    tags=("tpch", "correlated", "J2"),
)


# --------------------------------------------------------------- Q7 shape --
@register(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, o_year, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY supp_nation, cust_nation, o_year
    """,
    tags=("tpch", "J2", "A1"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")

    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------- Q8 shape --
@register(
    "q8_market_share",
    """
    WITH vols AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON r_regionkey = n1.n_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'STANDARD')
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM vols GROUP BY o_year
    """,
    tags=("tpch", "J2", "F4"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    n1 = nation.select("n_nationkey", "n_regionkey")
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    vols = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), customer.c_nationkey == n1.n_nationkey)
        .join(F.broadcast(region), n1.n_regionkey == region.r_regionkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    return vols.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0))
            / F.sum("volume"),
            6,
        ).alias("mkt_share")
    )


# -------------------------------------------------------------- Q10 shape --
@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    tags=("tpch", "J2", "sort"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = read_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# -------------------------------------------------------------- Q11 shape --
@register(
    "q11_important_stock",
    """
    WITH val AS (
      SELECT l_partkey, sum(l_extendedprice * l_quantity) AS value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_7'
      GROUP BY l_partkey)
    SELECT l_partkey, round(value, 2) AS value
    FROM val
    WHERE value > (SELECT sum(value) * 0.001 FROM val)
    """,
    tags=("tpch", "scalar-subquery", "A1"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")

    val = (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value"))
    )
    threshold = val.agg((F.sum("value") * 0.001).alias("_thr"))
    return (
        val.crossJoin(F.broadcast(threshold))
        .filter(F.col("value") > F.col("_thr"))
        .select("l_partkey", F.round("value", 2).alias("value"))
    )


# -------------------------------------------------------------- Q15 shape --
@register(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_rev
    FROM rev JOIN supplier ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    """,
    tags=("tpch", "scalar-subquery", "argmax"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    supplier = read_table(spark, sf_dir, "supplier")
    # round BEFORE the max-compare: a 1-ulp parallel-sum difference must
    # not flip which supplier ties the maximum
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_rev"
        )
    )
    top = rev.agg(F.max("total_rev").alias("_max_rev"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("total_rev") == F.col("_max_rev"))
        .join(F.broadcast(supplier), rev.l_suppkey == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


# -------------------------------------------------------------- Q17 shape --
q17_small_qty_revenue = register_sql(
    "q17_small_qty_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
    tags=("tpch", "correlated", "A1"),
)


# -------------------------------------------------------------- Q19 shape --
q19_disjunctive_preds = register_sql(
    "q19_disjunctive_preds",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
    tags=("tpch", "P2", "F4"),
)


# -------------------------------------------------------------- Q21 shape --
q21_latest_shipper = register_sql(
    "q21_latest_shipper",
    """
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name LIMIT 20
    """,
    tags=("tpch", "semi", "anti"),
)


# -------------------------------------------------------------- Q22 shape --
q22_dormant_customers = register_sql(
    "q22_dormant_customers",
    """
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0)
    SELECT n_name, CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    WHERE c_acctbal > (SELECT ab FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY n_name
    """,
    tags=("tpch", "anti", "scalar-subquery"),
)
