"""Scalar/aggregate surface, part 2: datetime arithmetic, linear
regression aggregates, exact percentiles + deterministic mode, fuzzy
string matching (levenshtein with blocking), correlated LATERAL top-k,
bitwise aggregates, and FILTER-clause aggregation.

Cross-engine parity rules applied here (CLAUDE.md):
- dates/timestamps are emitted as 'yyyy-MM-dd' strings on both sides --
  pandas dtype for Spark DATE (object of date) vs DuckDB DATE
  (datetime64) would schema-mismatch even on equal values.
- Spark dayofweek is 1-7 Sunday=1; DuckDB is 0-6 Sunday=0 (+1 there).
- Spark datediff(end, start) == DuckDB datediff('day', start, end).
- regression/corr outputs round(6); money round(2); counts BIGINT.
- mode is computed via count + row_number with a value tiebreak, NOT the
  built-in mode() -- both engines break frequency ties arbitrarily.
- max_by/arg_max are only deterministic on a unique ordering column
  (o_orderkey here); ties on a non-unique measure differ across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


# ---------------------------------------------------------------------------
# Datetime arithmetic suite (F1-family: the reference's unix_timestamp /
# date handling generalized -- FDProcBatch.txt date windows).
# ---------------------------------------------------------------------------
@register(
    "datetime_funcs",
    """
    SELECT o_orderkey,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start,
           strftime(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE), '%Y-%m-%d') AS plus3m,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(datediff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
             AS days_since_anchor
    FROM orders
    """,
    tags=("functions", "datetime", "F1"),
)
def q_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation, clamped month arithmetic, last-day, dow/quarter
    extraction, day diffs -- all whole-stage-codegen expressions, no
    shuffle at any scale."""
    orders = read_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.date_trunc("week", d), "yyyy-MM-dd").alias("week_start"),
        F.date_format(F.add_months(d.cast("date"), 3), "yyyy-MM-dd").alias("plus3m"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.dayofweek(d).cast("int").alias("dow"),
        F.quarter(d).cast("int").alias("qtr"),
        F.datediff(d.cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since_anchor"),
    )


# ---------------------------------------------------------------------------
# Linear-regression aggregates: the built-in OLS surface.
# ---------------------------------------------------------------------------
@register(
    "regr_suite",
    """
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           round(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr,
           round(covar_pop(l_extendedprice, l_quantity), 6) AS cov_pop,
           round(covar_samp(l_extendedprice, l_quantity), 6) AS cov_samp,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("functions", "stats", "A1"),
)
def q_regr_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regr_* / corr / covar over the price~quantity relation per return
    flag. Single map-side-combined aggregate: every statistic here is an
    algebraic moment sum, so the 100 TB cost is one pass + a
    3-group combine."""
    li = read_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.corr(y, x), 6).alias("price_qty_corr"),
        F.round(F.covar_pop(y, x), 6).alias("cov_pop"),
        F.round(F.covar_samp(y, x), 6).alias("cov_samp"),
        F.regr_count(y, x).cast("bigint").alias("n"),
    )


# ---------------------------------------------------------------------------
# Exact percentiles + deterministic mode.
# ---------------------------------------------------------------------------
@register(
    "percentile_suite",
    """
    SELECT o_orderpriority,
           round(median(o_totalprice), 6) AS med_price,
           round(quantile_cont(o_totalprice, 0.25), 6) AS p25_cont,
           round(quantile_disc(o_totalprice, 0.75), 6) AS p75_disc,
           round(min(o_totalprice), 6) AS min_price,
           round(max(o_totalprice), 6) AS max_price
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("functions", "percentiles", "A1"),
)
def q_percentile_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / interpolated p25 / discrete p75 per priority
    class. Exact percentiles sort within the group -- the honest cost;
    approx_percentile (see approx_aggs) is the declared 100 TB path and
    this query is its accuracy oracle."""
    orders = read_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.median(p), 6).alias("med_price"),
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("p25_cont"),
        F.round(
            F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice)"), 6
        ).alias("p75_disc"),
        F.round(F.min(p), 6).alias("min_price"),
        F.round(F.max(p), 6).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# Fuzzy matching: levenshtein pairs inside a blocking key.
# ---------------------------------------------------------------------------
q_fuzzy_name_match = register_sql(
    "fuzzy_name_match",
    """
    SELECT a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_name < b.c_name
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
    tags=("functions", "fuzzy", "dedup", "brute-baseline"),
)


# ---------------------------------------------------------------------------
# Correlated LATERAL top-k (the SQL-level twin of window top-k).
# ---------------------------------------------------------------------------
@register(
    "lateral_topk",
    """
    SELECT n_name, s_name, round(s_acctbal, 2) AS s_acctbal
    FROM nation, LATERAL (
      SELECT s_name, s_acctbal FROM supplier
      WHERE s_nationkey = n_nationkey
      ORDER BY s_acctbal DESC, s_name LIMIT 3) top
    """,
    tags=("functions", "lateral", "W2"),
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 suppliers per nation via a correlated LATERAL subquery --
    the declarative form users port from warehouse SQL. Catalyst
    rewrites it to the same window/rank plan as the DataFrame top-k
    (operators/window_ops.py), so there is no per-nation re-scan."""
    read_table(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    read_table(spark, sf_dir, "supplier").createOrReplaceTempView("v_supplier")
    return spark.sql(
        """
        SELECT n_name, s_name, round(s_acctbal, 2) AS s_acctbal
        FROM v_nation, LATERAL (
          SELECT s_name, s_acctbal FROM v_supplier
          WHERE s_nationkey = n_nationkey
          ORDER BY s_acctbal DESC, s_name LIMIT 3) top
        """
    )


# ---------------------------------------------------------------------------
# Bitwise aggregates.
# ---------------------------------------------------------------------------
q_bitwise_aggs = register_sql(
    "bitwise_aggs",
    """
    SELECT l_returnflag,
           CAST(bit_and(l_linenumber) AS BIGINT) AS band,
           CAST(bit_or(l_linenumber) AS BIGINT) AS bor,
           CAST(bit_xor(l_linenumber) AS BIGINT) AS bxor,
           CAST(sum(l_linenumber << 1) AS BIGINT) AS sum_shifted
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("functions", "bitwise", "A1"),
)


# ---------------------------------------------------------------------------
# FILTER-clause aggregation + argmax surface.
# ---------------------------------------------------------------------------
q_filtered_aggs = register_sql(
    "filtered_aggs",
    """
    SELECT o_orderpriority,
           CAST(count(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT) AS n_big,
           round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS sum_f,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_totalprice > 400000) AS any_huge,
           CAST(max_by(o_custkey, o_orderkey) AS BIGINT) AS last_custkey,
           CAST(min_by(o_custkey, o_orderkey) AS BIGINT) AS first_custkey
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("functions", "filtered-agg", "A1"),
)


# ---------------------------------------------------------------------------
# Ordered string aggregation: the collect_list determinism trap.
# ---------------------------------------------------------------------------
@register(
    "ordered_string_agg",
    """
    SELECT o_custkey,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderdate, o_orderkey)
             AS order_history,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_custkey
    """,
    tags=("functions", "ordered-agg", "A1"),
)
def q_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order history as an ordered CSV string. collect_list
    order is PARTITION-DEPENDENT in Spark (the classic nondeterminism
    trap); the deterministic form collects (sort_key, value) structs and
    sort_array's them before joining -- with the unique o_orderkey as
    the tiebreak, the result is total-ordered and hash-stable across
    engines and partitionings."""
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    items = F.sort_array(
        F.collect_list(F.struct("o_orderdate", "o_orderkey"))
    )
    return orders.groupBy("o_custkey").agg(
        F.array_join(
            F.transform(items, lambda s: s["o_orderkey"].cast("string")), ","
        ).alias("order_history"),
        F.count("*").cast("bigint").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Moving median: percentile as a FRAMED window aggregate.
# ---------------------------------------------------------------------------
@register(
    "moving_median",
    """
    SELECT o_orderkey, o_custkey,
           round(median(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS med5
    FROM orders
    """,
    tags=("functions", "window", "robust", "W4"),
)
def q_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-row moving median of order value per customer -- the robust
    twin of the reference's moving-average UCL (ucl_windowed): one
    outlier can't drag the control limit. Exact percentile over a
    5-row frame is O(frame log frame) per row inside one
    single-shuffle window; unique o_orderkey tiebreak keeps the frame
    contents total-ordered (CLAUDE.md window rule)."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-4, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.expr("percentile(o_totalprice, 0.5)").over(w), 6).alias("med5"),
    )


# ---------------------------------------------------------------------------
# MAD outliers: median absolute deviation, the robust z-score.
# ---------------------------------------------------------------------------
@register(
    "mad_outliers",
    """
    WITH med AS (
      SELECT o_orderpriority AS grp, median(o_totalprice) AS med
      FROM orders GROUP BY o_orderpriority),
    dev AS (
      SELECT grp, median(abs(o_totalprice - med)) AS mad
      FROM orders JOIN med ON med.grp = o_orderpriority
      GROUP BY grp, med),
    flagged AS (
      SELECT o_orderkey, o_orderpriority AS grp,
             abs(o_totalprice - med) / nullif(mad, 0) AS rz
      FROM orders JOIN med ON med.grp = o_orderpriority
      JOIN dev USING (grp))
    SELECT grp, CAST(count(*) AS BIGINT) AS n,
           CAST(count_if(rz > 3.0) AS BIGINT) AS n_outliers,
           round(max(rz), 6) AS max_robust_z
    FROM flagged GROUP BY grp
    """,
    tags=("functions", "robust", "stats"),
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier counts per priority class --
    the robust z-score (mean/stddev-based UCLs move with the outliers
    they're hunting; medians don't). Two grouped exact medians + one
    flagging pass, all keyed on the 5-value group; the per-group median
    sort is the honest exact cost, approx_percentile is the declared
    scale path."""
    orders = read_table(spark, sf_dir, "orders")
    med = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.median("o_totalprice").alias("med")
    )
    with_med = orders.join(
        F.broadcast(med), orders.o_orderpriority == med.grp
    )
    dev = with_med.groupBy("grp", "med").agg(
        F.median(F.abs(F.col("o_totalprice") - F.col("med"))).alias("mad")
    ).select("grp", "mad")
    rz = F.abs(F.col("o_totalprice") - F.col("med")) / F.nullif(
        F.col("mad"), F.lit(0)
    )
    flagged = with_med.join(F.broadcast(dev), "grp").select(
        "grp", rz.alias("rz")
    )
    return flagged.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.count_if(F.col("rz") > 3.0).cast("bigint").alias("n_outliers"),
        F.round(F.max("rz"), 6).alias("max_robust_z"),
    )
