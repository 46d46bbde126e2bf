"""Extension batch 133 (round 6): categorical-association completion --
Somers' D (asymmetric ordinal), Goodman-Kruskal lambda (proportional
reduction in prediction error, nominal), and Theil's uncertainty
coefficient (normalized mutual information).

Scale notes (the 100 TB story): all three fold the full fact table to
a BOUNDED contingency table first (priority x price-band: 20 cells;
nation x segment: 125 cells) and compute the statistic from exact
integer cell counts -- the concordance double-sum is a 20x20 cell
pair join, not a row pair join. Entropy terms are e9 integers of
exact rationals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"

_BAND_SQL = """CASE WHEN o_totalprice < 50000 THEN 1
                    WHEN o_totalprice < 150000 THEN 2
                    WHEN o_totalprice < 300000 THEN 3 ELSE 4 END"""


@register(
    "somers_d_priority_price",
    f"""
    WITH cells AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS x,
             {_BAND_SQL} AS y,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2),
    pairs AS (
      SELECT CAST(sum(CASE WHEN b.x > a.x AND b.y > a.y
                           THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END)
                  AS HUGEINT) AS c,
             CAST(sum(CASE WHEN b.x > a.x AND b.y < a.y
                           THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END)
                  AS HUGEINT) AS d,
             CAST(sum(CASE WHEN b.x > a.x AND b.y = a.y
                           THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END)
                  AS HUGEINT) AS ty
      FROM cells a CROSS JOIN cells b)
    SELECT CAST(c AS DOUBLE) AS n_concordant,
           CAST(d AS DOUBLE) AS n_discordant,
           round((CAST(c AS DOUBLE) - CAST(d AS DOUBLE))
                 / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE)
                    + CAST(ty AS DOUBLE)), 6) AS somers_d_y_given_x
    FROM pairs
    """,
    tags=("stats", "ordinal", "association"),
)
def q_somers_d_priority_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' D of price band given order priority (both ordinal):
    D_y|x = (C - D)/(C + D + T_y) with concordant/discordant/tied-on-y
    pair counts computed from the 20-cell contingency table (ordered
    cell pair sums of exact n_a * n_b products -- never a row pair
    join). The asymmetric ordinal effect size Kendall's tau can't
    give you: does knowing priority ORDER the price?"""
    orders = read_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("x"),
        F.expr(_BAND_SQL).alias("y"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = cells.alias("a"), cells.alias("b")
    j = a.crossJoin(F.broadcast(b))
    prod = F.col("a.n").cast(_DEC) * F.col("b.n")

    def s(cond):
        return F.sum(F.when(cond, prod).otherwise(F.lit(0))).cast(_DEC)

    pairs = j.agg(
        s((F.col("b.x") > F.col("a.x")) & (F.col("b.y") > F.col("a.y"))).alias("c"),
        s((F.col("b.x") > F.col("a.x")) & (F.col("b.y") < F.col("a.y"))).alias("d"),
        s((F.col("b.x") > F.col("a.x")) & (F.col("b.y") == F.col("a.y"))).alias(
            "ty"
        ),
    )
    cd, dd, ty = (F.col(x).cast("double") for x in ("c", "d", "ty"))
    return pairs.select(
        cd.alias("n_concordant"),
        dd.alias("n_discordant"),
        F.round((cd - dd) / (cd + dd + ty), 6).alias("somers_d_y_given_x"),
    )


q_goodman_kruskal_lambda = register_sql(
    "goodman_kruskal_lambda",
    """
    WITH cells AS (
      SELECT c_nationkey AS x, c_mktsegment AS y,
             CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2),
    rowmax AS (
      SELECT x, CAST(max(n) AS BIGINT) AS mx FROM cells GROUP BY x),
    colsum AS (
      SELECT y, CAST(sum(n) AS BIGINT) AS cy FROM cells GROUP BY y),
    parts AS (
      SELECT (SELECT CAST(sum(mx) AS BIGINT) FROM rowmax) AS sum_rowmax,
             (SELECT CAST(max(cy) AS BIGINT) FROM colsum) AS max_col,
             (SELECT CAST(sum(n) AS BIGINT) FROM cells) AS nn)
    SELECT nn AS n, sum_rowmax, max_col,
           round(CAST(sum_rowmax - max_col AS DOUBLE) / (nn - max_col), 6)
             AS lambda_y_given_x
    FROM parts
    """,
    tags=("stats", "nominal", "association"),
)


@register(
    "uncertainty_coefficient",
    """
    WITH cells AS (
      SELECT c_nationkey AS x, c_mktsegment AS y,
             CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2),
    nn AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM cells),
    hy AS (
      SELECT CAST(sum(CAST(round(-1000000000.0
             * (CAST(cy AS DOUBLE) / t.n) * ln(CAST(cy AS DOUBLE) / t.n), 0)
             AS BIGINT)) AS BIGINT) AS h_e9
      FROM (SELECT y, CAST(sum(n) AS BIGINT) AS cy FROM cells GROUP BY y)
      CROSS JOIN nn t),
    hx AS (
      SELECT CAST(sum(CAST(round(-1000000000.0
             * (CAST(cx AS DOUBLE) / t.n) * ln(CAST(cx AS DOUBLE) / t.n), 0)
             AS BIGINT)) AS BIGINT) AS h_e9
      FROM (SELECT x, CAST(sum(n) AS BIGINT) AS cx FROM cells GROUP BY x)
      CROSS JOIN nn t),
    hxy AS (
      SELECT CAST(sum(CAST(round(-1000000000.0
             * (CAST(c.n AS DOUBLE) / t.n)
             * ln(CAST(c.n AS DOUBLE) / t.n), 0)
             AS BIGINT)) AS BIGINT) AS h_e9
      FROM cells c CROSS JOIN nn t)
    SELECT round(hy.h_e9 / 1000000000.0, 6) AS h_segment,
           round(hx.h_e9 / 1000000000.0, 6) AS h_nation,
           round((hx.h_e9 + hy.h_e9 - hxy.h_e9) / 1000000000.0, 6)
             AS mutual_info,
           round(CAST(hx.h_e9 + hy.h_e9 - hxy.h_e9 AS DOUBLE) / hy.h_e9, 6)
             AS u_segment_given_nation
    FROM hy CROSS JOIN hx CROSS JOIN hxy
    """,
    tags=("stats", "information", "association"),
)
def q_uncertainty_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient U(segment | nation) =
    I(X;Y)/H(segment): the [0,1]-normalized mutual information --
    'what fraction of segment entropy does nation explain'. All three
    entropies fold e9-integer p*ln(p) terms of exact rationals from
    the 125-cell contingency; the normalization makes it comparable
    across tables, which raw MI is not."""
    cust = read_table(spark, sf_dir, "customer")
    cells = cust.groupBy(
        F.col("c_nationkey").alias("x"), F.col("c_mktsegment").alias("y")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    nn = cells.agg(F.sum("n").cast("bigint").alias("ntot"))

    def ent(df, cnt):
        p = F.col(cnt).cast("double") / F.col("ntot")
        return (
            df.crossJoin(F.broadcast(nn))
            .agg(
                F.sum(
                    F.round(F.lit(-1000000000.0) * p * F.log(p), 0).cast("bigint")
                )
                .cast("bigint")
                .alias("h_e9")
            )
        )

    hy = ent(
        cells.groupBy("y").agg(F.sum("n").cast("bigint").alias("cy")), "cy"
    ).withColumnRenamed("h_e9", "hy_e9")
    hx = ent(
        cells.groupBy("x").agg(F.sum("n").cast("bigint").alias("cx")), "cx"
    ).withColumnRenamed("h_e9", "hx_e9")
    hxy = ent(cells, "n").withColumnRenamed("h_e9", "hxy_e9")
    j = hy.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hxy))
    mi = F.col("hx_e9") + F.col("hy_e9") - F.col("hxy_e9")
    return j.select(
        F.round(F.col("hy_e9") / 1000000000.0, 6).alias("h_segment"),
        F.round(F.col("hx_e9") / 1000000000.0, 6).alias("h_nation"),
        F.round(mi / 1000000000.0, 6).alias("mutual_info"),
        F.round(mi.cast("double") / F.col("hy_e9"), 6).alias(
            "u_segment_given_nation"
        ),
    )
