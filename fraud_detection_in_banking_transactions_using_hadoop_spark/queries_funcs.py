"""Function-surface breadth: string library, array library, null-safe
equality -- each expression chosen because Spark and DuckDB agree on its
semantics exactly (asserted by the oracle, not assumed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


@register(
    "string_funcs",
    """
    SELECT c_custkey,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
           reverse(c_mktsegment) AS rev_seg,
           repeat(substr(c_mktsegment, 1, 2), 3) AS rep2,
           translate(c_name, '#0', '_x') AS translated,
           CAST(strpos(c_name, '#') AS INTEGER) AS hash_pos,
           replace(c_name, 'Customer', 'Member') AS renamed,
           CAST(length(trim(c_mktsegment)) AS INTEGER) AS seg_len
    FROM customer
    """,
    tags=("F2", "string"),
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
        F.reverse("c_mktsegment").alias("rev_seg"),
        F.repeat(F.substring("c_mktsegment", 1, 2), 3).alias("rep2"),
        F.translate("c_name", "#0", "_x").alias("translated"),
        F.instr("c_name", "#").cast("int").alias("hash_pos"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Member")).alias("renamed"),
        F.length(F.trim(F.col("c_mktsegment"))).cast("int").alias("seg_len"),
    )


@register(
    "array_funcs",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           array_to_string(list_sort(list_distinct(toks))[1:5], ',') AS first_tokens,
           CAST(list_contains(toks, 'spark') AS INTEGER) AS has_spark,
           CAST(len(list_filter(toks, x -> length(x) > 5)) AS BIGINT) AS n_long,
           array_to_string(
             list_sort(list_distinct(list_transform(toks, x -> length(x)))), ',')
             AS len_profile
    FROM t
    """,
    tags=("array",),
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(toks)), 1, 5), ",").alias(
            "first_tokens"
        ),
        F.array_contains(toks, "spark").cast("int").alias("has_spark"),
        F.size(F.filter(toks, lambda x: F.length(x) > 5)).cast("long").alias("n_long"),
        F.array_join(
            F.array_sort(F.array_distinct(F.transform(toks, lambda x: F.length(x)))),
            ",",
        ).alias("len_profile"),
    )


@register(
    "stats_suite",
    """
    WITH m AS (SELECT l_returnflag AS rf, avg(l_quantity) AS mu
               FROM lineitem GROUP BY 1)
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_pop(l_quantity, l_extendedprice), 6) AS covar_p,
           round(covar_samp(l_quantity, l_extendedprice), 6) AS covar_s,
           round(avg(pow(l_quantity - mu, 3))
                 / pow(avg(pow(l_quantity - mu, 2)), 1.5), 6) AS skew_qty,
           round(avg(pow(l_quantity - mu, 4))
                 / pow(avg(pow(l_quantity - mu, 2)), 2) - 3, 6) AS kurt_qty,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem JOIN m ON rf = l_returnflag
    GROUP BY l_returnflag
    """,
    tags=("stats", "A1"),
)
def q_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface: correlation, covariance (pop+samp),
    skewness, kurtosis, and the regr_* linear-fit family -- all JVM
    built-ins, one shuffle on the group key with map-side partial
    moments. Oracle parity note: Spark's skewness/kurtosis are
    POPULATION moments (g1, excess g2); DuckDB's built-ins apply sample
    corrections, so the oracle computes the population formulas
    explicitly from central moments (diverges ~6/n at small n -- enough
    to break round(6) compare)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 6).alias("covar_p"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias("covar_s"),
        F.round(F.skewness("l_quantity"), 6).alias("skew_qty"),
        F.round(F.kurtosis("l_quantity"), 6).alias("kurt_qty"),
        F.round(F.expr("regr_slope(l_extendedprice, l_quantity)"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(l_extendedprice, l_quantity)"), 6).alias("intercept"),
        F.round(F.expr("regr_r2(l_extendedprice, l_quantity)"), 6).alias("r2"),
    )


q_nullsafe_eq = register_sql(
    "nullsafe_eq",
    """
    WITH x AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS s
      FROM orders)
    SELECT CAST(count(*) FILTER (WHERE s IS NOT DISTINCT FROM NULL) AS BIGINT)
             AS n_null,
           CAST(count(*) FILTER (WHERE s IS NOT DISTINCT FROM 'F') AS BIGINT)
             AS n_f,
           CAST(count(*) FILTER (WHERE s IS DISTINCT FROM 'F') AS BIGINT)
             AS n_not_f
    FROM x
    """,
    tags=("null", "semantics"),
)
