"""Extension batch 134 (round 6): Nigrini-style forensic audit tests
on the order fact -- the summation test (amount-weighted Benford),
the relative size factor, and the duplicate-payments screen. The
classic forensic-analytics trio layered on the fraud domain beside
benford_first_digit / structuring_detection.

Scale notes (the 100 TB story):
- benford_summation_test: one conditional aggregation to 90
  first-two-digit cells; the test statistic folds exact cent sums
  (fraud inflates a digit cell's SUM long before its COUNT moves).
- relative_size_factor: per-customer top-2 amounts from a grouped
  rank (partitioned window, never global); RSF = max/2nd as an exact
  integer ratio, ordered-limit top-20 review queue.
- duplicate_amount_audit: exact (customer, cents) collision groups
  with distinct order dates -- one hash exchange keyed on the pair,
  the canonical duplicate-payment audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"


@register(
    "benford_summation_test",
    """
    WITH t AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                         AS VARCHAR), 1, 2) AS INTEGER) AS d2,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice >= 10),
    cells AS (
      SELECT d2, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS HUGEINT) AS s
      FROM t WHERE d2 BETWEEN 10 AND 99 GROUP BY d2),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s) AS HUGEINT) AS ss
      FROM cells)
    SELECT c.d2 AS first_two_digits, c.n,
           round(CAST(c.s AS DOUBLE) / 100.0, 2) AS sum_dollars,
           round(CAST(c.s AS DOUBLE) / CAST(t.ss AS DOUBLE), 6)
             AS sum_share,
           round(CAST(c.s AS DOUBLE) / CAST(t.ss AS DOUBLE) - 1.0 / 90, 6)
             AS excess_vs_uniform
    FROM cells c CROSS JOIN tot t
    ORDER BY CAST(c.s AS DOUBLE) / CAST(t.ss AS DOUBLE) DESC, c.d2
    LIMIT 10
    """,
    tags=("fraud", "forensic", "benford"),
)
def q_benford_summation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nigrini's summation test: sum order AMOUNTS by first-two-digits
    -- under Benford-conforming clean data the 90 sums are roughly
    UNIFORM (each ~1/90 of total), so a digit cell with excess sum
    share exposes a few large invented amounts that the count-based
    Benford test dilutes away. Top-10 cells by sum share with the
    digit tiebreak; exact cent sums, one aggregation."""
    orders = read_table(spark, sf_dir, "orders")
    t = orders.where(F.col("o_totalprice") >= 10).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
            1,
            2,
        )
        .cast("int")
        .alias("d2"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    cells = (
        t.where(F.col("d2").between(10, 99))
        .groupBy("d2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast(_DEC).alias("s"),
        )
    )
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("nn"), F.sum("s").cast(_DEC).alias("ss")
    )
    j = cells.crossJoin(F.broadcast(tot))
    share = F.col("s").cast("double") / F.col("ss").cast("double")
    return (
        j.orderBy(share.desc(), "d2")
        .limit(10)
        .select(
            F.col("d2").alias("first_two_digits"),
            "n",
            F.round(F.col("s").cast("double") / 100.0, 2).alias("sum_dollars"),
            F.round(share, 6).alias("sum_share"),
            F.round(share - 1.0 / 90, 6).alias("excess_vs_uniform"),
        )
    )


@register(
    "relative_size_factor",
    """
    WITH ranked AS (
      SELECT o_custkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders),
    top2 AS (
      SELECT o_custkey AS cust,
             CAST(max(CASE WHEN rk = 1 THEN cents END) AS BIGINT) AS mx,
             CAST(max(CASE WHEN rk = 2 THEN cents END) AS BIGINT) AS second,
             CAST(count(*) AS BIGINT) AS n
      FROM ranked WHERE rk <= 2
      GROUP BY o_custkey HAVING count(*) = 2),
    sized AS (
      SELECT cust, mx, second,
             CAST((1000000 * mx) // second AS BIGINT) AS rsf_e6
      FROM top2)
    SELECT cust AS card_id,
           round(mx / 100.0, 2) AS largest_dollars,
           round(second / 100.0, 2) AS second_dollars,
           round(rsf_e6 / 1000000.0, 6) AS rsf
    FROM sized
    ORDER BY rsf_e6 DESC, cust
    LIMIT 20
    """,
    tags=("fraud", "forensic", "outlier"),
)
def q_relative_size_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative size factor: per customer, largest amount / second
    largest -- an RSF far above peers marks the one transaction
    wildly out of line with that account's own history (a decimal
    slip, an unauthorized draw). Grouped top-2 via partitioned
    row_number, exact integer ratio (e6), top-20 review queue."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    ranked = orders.select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        F.row_number().over(w).alias("rk"),
    ).where(F.col("rk") <= 2)
    top2 = (
        ranked.groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("cents")))
            .cast("bigint")
            .alias("mx"),
            F.max(F.when(F.col("rk") == 2, F.col("cents")))
            .cast("bigint")
            .alias("second"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .where(F.col("n") == 2)
    )
    sized = top2.select(
        "cust",
        "mx",
        "second",
        F.expr("CAST((1000000 * mx) DIV second AS BIGINT)").alias("rsf_e6"),
    )
    return (
        sized.orderBy(F.col("rsf_e6").desc(), "cust")
        .limit(20)
        .select(
            F.col("cust").alias("card_id"),
            F.round(F.col("mx") / 100.0, 2).alias("largest_dollars"),
            F.round(F.col("second") / 100.0, 2).alias("second_dollars"),
            F.round(F.col("rsf_e6") / 1000000.0, 6).alias("rsf"),
        )
    )


q_duplicate_amount_audit = register_sql(
    "duplicate_amount_audit",
    """
    WITH t AS (
      SELECT o_custkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
             CAST(o_orderdate AS DATE) AS d
      FROM orders),
    dup AS (
      SELECT o_custkey AS cust, cents,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(count(DISTINCT d) AS BIGINT) AS n_days
      FROM t GROUP BY o_custkey, cents HAVING count(*) >= 2)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM dup) AS n_dup_groups,
           (SELECT CAST(coalesce(sum(n_orders), 0) AS BIGINT) FROM dup)
             AS n_dup_orders,
           (SELECT CAST(coalesce(sum(CASE WHEN n_days > 1 THEN 1 ELSE 0 END), 0)
                   AS BIGINT) FROM dup) AS n_cross_day_groups,
           (SELECT CAST(count(*) AS BIGINT) FROM t) AS n_orders_total
    """,
    tags=("fraud", "forensic", "duplicates"),
)
