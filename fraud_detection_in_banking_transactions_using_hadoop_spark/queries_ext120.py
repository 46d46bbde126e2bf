"""Extension batch 120 (round 6): distribution diagnostics on the
daily order series -- Hoeffding's D general-dependence test (fully
tie-aware), Shapiro-Francia normality via Blom scores through an
engine-identical inverse-normal polynomial, and Siegel repeated-median
regression (the 50%-breakdown robust line).

Scale notes (the 100 TB story):
- All three run on the DAILY aggregate spine (calendar-bounded ~2.4k
  rows regardless of fact size), so the O(days^2) pair joins are
  constants in data scale -- the hodges_lehmann/mann_kendall pattern.
- hoeffding_d keeps every term exact: midranks as 2R integers,
  bivariate ranks as 4Q quarter-integers, and the three D-sums as
  exact DECIMAL integer sums (the /16 scale factors divide once at
  the close). The tie quarters/halves are the Hollander-Wolfe c_i
  definition -- daily order COUNTS tie heavily, so the tie terms are
  load-bearing here, not decoration.
- shapiro_francia rounds each Blom score Phi^-1((i-3/8)/(n+1/4)) to
  an e8 integer immediately after the Acklam polynomial (identical
  literal coefficients in both engines), then closes the squared
  correlation over exact integer moments.
- siegel_repeated_medians e8-rounds each pairwise slope so both
  engines take medians of identical integers (median-of-medians,
  breakdown point 50% vs Theil-Sen's 29%).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import _acklam_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"

_DAILY_CTE = """
    daily AS (
      SELECT o_orderdate AS d,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY o_orderdate)"""


def _daily_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("y"),
    )


# ---------------------------------------------------------------------------
# Hoeffding's D between daily order count and daily revenue.
# ---------------------------------------------------------------------------
@register(
    "hoeffding_d_daily",
    f"""
    WITH {_DAILY_CTE},
    ranked AS (
      SELECT a.d,
             CAST(sum(CASE WHEN b.x < a.x THEN 2 WHEN b.x = a.x THEN 1
                           ELSE 0 END) + 1 AS BIGINT) AS r2,
             CAST(sum(CASE WHEN b.y < a.y THEN 2 WHEN b.y = a.y THEN 1
                           ELSE 0 END) + 1 AS BIGINT) AS s2,
             CAST(4 + sum(CASE
                    WHEN b.d = a.d THEN 0
                    WHEN b.x < a.x AND b.y < a.y THEN 4
                    WHEN b.x = a.x AND b.y = a.y THEN 1
                    WHEN b.x = a.x AND b.y < a.y THEN 2
                    WHEN b.x < a.x AND b.y = a.y THEN 2
                    ELSE 0 END) AS BIGINT) AS q4
      FROM daily a CROSS JOIN daily b
      GROUP BY a.d),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST((q4 - 4) AS HUGEINT) * (q4 - 8)) AS HUGEINT) AS a1,
             CAST(sum(CAST((r2 - 2) AS HUGEINT) * (r2 - 4) * (s2 - 2)
                      * (s2 - 4)) AS HUGEINT) AS a2,
             CAST(sum(CAST((r2 - 4) AS HUGEINT) * (s2 - 4) * (q4 - 4))
                  AS HUGEINT) AS a3
      FROM ranked)
    SELECT n,
           round(30.0 * ((CAST(n AS DOUBLE) - 2) * (n - 3) * (CAST(a1 AS DOUBLE) / 16)
                         + CAST(a2 AS DOUBLE) / 16
                         - 2 * (CAST(n AS DOUBLE) - 2) * (CAST(a3 AS DOUBLE) / 16))
                 / (CAST(n AS DOUBLE) * (n - 1) * (n - 2) * (n - 3) * (n - 4)),
                 6) AS hoeffding_d
    FROM sums
    """,
    tags=("stats", "dependence", "exact-arith"),
)
def q_hoeffding_d_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hoeffding's D between daily order count and daily revenue: the
    nonparametric test sensitive to ANY dependence (monotone or not),
    unlike Spearman/Kendall. Midranks R, S and bivariate ranks Q are
    built from one daily pair join (calendar-bounded) as exact 2R/2S/
    4Q integers, with the Hollander-Wolfe quarter/half tie weights;
    D1/D2/D3 are exact integer sums (scale /16 applied once at the
    close). Count ties are heavy in this data, so the tie terms are
    exercised for real."""
    daily = _daily_spark(spark, sf_dir)
    a, b = daily.alias("a"), daily.alias("b")
    j = a.crossJoin(F.broadcast(b))
    ax, bx = F.col("a.x"), F.col("b.x")
    ay, by = F.col("a.y"), F.col("b.y")
    r2 = F.sum(F.when(bx < ax, 2).when(bx == ax, 1).otherwise(0)) + 1
    s2 = F.sum(F.when(by < ay, 2).when(by == ay, 1).otherwise(0)) + 1
    q4 = 4 + F.sum(
        F.when(F.col("b.d") == F.col("a.d"), 0)
        .when((bx < ax) & (by < ay), 4)
        .when((bx == ax) & (by == ay), 1)
        .when((bx == ax) & (by < ay), 2)
        .when((bx < ax) & (by == ay), 2)
        .otherwise(0)
    )
    ranked = j.groupBy(F.col("a.d").alias("d")).agg(
        r2.cast("bigint").alias("r2"),
        s2.cast("bigint").alias("s2"),
        q4.cast("bigint").alias("q4"),
    )
    sums = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(((F.col("q4") - 4).cast(_DEC)) * (F.col("q4") - 8))
        .cast(_DEC)
        .alias("a1"),
        F.sum(
            (F.col("r2") - 2).cast(_DEC)
            * (F.col("r2") - 4)
            * (F.col("s2") - 2)
            * (F.col("s2") - 4)
        )
        .cast(_DEC)
        .alias("a2"),
        F.sum(
            (F.col("r2") - 4).cast(_DEC) * (F.col("s2") - 4) * (F.col("q4") - 4)
        )
        .cast(_DEC)
        .alias("a3"),
    )
    nd = F.col("n").cast("double")
    return sums.select(
        "n",
        F.round(
            30.0
            * (
                (nd - 2) * (F.col("n") - 3) * (F.col("a1").cast("double") / 16)
                + F.col("a2").cast("double") / 16
                - 2 * (nd - 2) * (F.col("a3").cast("double") / 16)
            )
            / (nd * (F.col("n") - 1) * (F.col("n") - 2) * (F.col("n") - 3) * (F.col("n") - 4)),
            6,
        ).alias("hoeffding_d"),
    )


# ---------------------------------------------------------------------------
# Shapiro-Francia normality of daily revenue via Blom scores.
# ---------------------------------------------------------------------------
@register(
    "shapiro_francia_daily",
    f"""
    WITH {_DAILY_CTE},
    ranked AS (
      SELECT y, CAST(row_number() OVER (ORDER BY y, d) AS BIGINT) AS i
      FROM daily),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked),
    scored AS (
      SELECT r.y, CAST(round(100000000.0 *
               ({_acklam_sql("(CAST(r.i AS DOUBLE) - 0.375) / (nn.n + 0.25)")}),
               0) AS BIGINT) AS m_e8
      FROM ranked r CROSS JOIN nn),
    moms AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(m_e8) AS HUGEINT) AS sm,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(sum(CAST(m_e8 AS HUGEINT) * m_e8) AS HUGEINT) AS smm,
             CAST(sum(CAST(y AS HUGEINT) * m_e8) AS HUGEINT) AS sym
      FROM scored)
    SELECT n,
           round((CAST(n AS DOUBLE) * sym - CAST(sy AS DOUBLE) * sm)
                 * (CAST(n AS DOUBLE) * sym - CAST(sy AS DOUBLE) * sm)
                 / ((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                    * (CAST(n AS DOUBLE) * smm - CAST(sm AS DOUBLE) * sm)),
                 6) AS w_prime
    FROM moms
    """,
    tags=("stats", "normality", "exact-arith"),
)
def q_shapiro_francia_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapiro-Francia normality statistic for daily revenue: W' =
    corr(order statistics, Blom normal scores)^2 with m_i =
    Phi^-1((i - 3/8)/(n + 1/4)) through Acklam's rational
    approximation -- the SAME literal polynomial text runs in both
    engines, each score is e8-rounded to an integer, and the squared
    correlation closes over six exact integer moments. W' near 1 =
    consistent with normal; the one-number daily-revenue normality
    screen that justifies (or vetoes) the z-based SPC queries."""
    daily = _daily_spark(spark, sf_dir)
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.rank import (
        with_global_rank,
    )

    ranked = with_global_rank(
        daily.select("y", "d"), "y", [F.col("y"), F.col("d")], rank_col="i"
    ).select("y", "i")
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    p = "(CAST(r.i AS DOUBLE) - 0.375) / (n + 0.25)"
    scored = (
        ranked.alias("r")
        .crossJoin(F.broadcast(nn))
        .select(
            "y",
            F.expr(
                f"CAST(round(100000000.0 * ({_acklam_sql(p)}), 0) AS BIGINT)"
            ).alias("m_e8"),
        )
    )
    y, m = F.col("y").cast(_DEC), F.col("m_e8").cast(_DEC)
    moms = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast(_DEC).alias("sy"),
        F.sum("m_e8").cast(_DEC).alias("sm"),
        F.sum(y * y).cast(_DEC).alias("syy"),
        F.sum(m * m).cast(_DEC).alias("smm"),
        F.sum(y * m).cast(_DEC).alias("sym"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sym").cast("double") - F.col("sy").cast("double") * F.col(
        "sm"
    ).cast("double")
    return moms.select(
        "n",
        F.round(
            num
            * num
            / (
                (nd * F.col("syy").cast("double")
                 - F.col("sy").cast("double") * F.col("sy").cast("double"))
                * (nd * F.col("smm").cast("double")
                   - F.col("sm").cast("double") * F.col("sm").cast("double"))
            ),
            6,
        ).alias("w_prime"),
    )


# ---------------------------------------------------------------------------
# Siegel repeated-median regression of daily revenue on the day index.
# ---------------------------------------------------------------------------
@register(
    "siegel_repeated_medians",
    f"""
    WITH {_DAILY_CTE},
    idx AS (
      SELECT CAST(date_diff('day', (SELECT min(d) FROM daily), d) AS BIGINT)
               AS t, y
      FROM daily),
    slopes AS (
      SELECT a.t,
             CAST(round(100000000.0 * (b.y - a.y) / (b.t - a.t), 0) AS BIGINT)
               AS s_e8
      FROM idx a JOIN idx b ON b.t <> a.t),
    per_i AS (
      SELECT t, median(s_e8) AS med_i FROM slopes GROUP BY t),
    beta AS (SELECT median(med_i) AS b_e8 FROM per_i),
    resid AS (
      SELECT CAST(round(100000000.0 * i.y - bb.b_e8 * i.t, 0) AS BIGINT)
               AS a_e8
      FROM idx i CROSS JOIN beta bb),
    alpha AS (SELECT median(a_e8) AS a_e8 FROM resid)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM idx) AS n_days,
           round((SELECT b_e8 FROM beta) / 100000000.0 / 100.0, 6)
             AS slope_dollars_per_day,
           round((SELECT a_e8 FROM alpha) / 100000000.0 / 100.0, 6)
             AS intercept_dollars
    FROM (SELECT 1)
    """,
    tags=("stats", "robust", "regression"),
)
def q_siegel_repeated_medians(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel repeated-median line for daily revenue vs day index:
    slope = median_i(median_{j!=i}((y_j-y_i)/(t_j-t_i))) -- breakdown
    point 50%, vs 29% for Theil-Sen. Each pairwise slope e8-rounds to
    an integer BEFORE any median, so both engines take medians of
    identical integer multisets (even-count interpolation lands on
    exact .5 halves). Intercept = median(y_i - beta*t_i) on the same
    grid. Day pairs are calendar-bounded."""
    daily = _daily_spark(spark, sf_dir)
    mind = daily.agg(F.min("d").alias("d0"))
    idx = daily.crossJoin(F.broadcast(mind)).select(
        F.datediff("d", "d0").cast("bigint").alias("t"), "y"
        # consumed 4+ times below (both slope sides, residuals, n) with
        # the orders groupBy in its lineage -- pin the ~75-row spine (r13)
    ).localCheckpoint(eager=True)
    a, b = idx.alias("a"), idx.alias("b")
    slopes = a.join(F.broadcast(b), F.col("b.t") != F.col("a.t")).select(
        F.col("a.t").alias("t"),
        F.round(
            F.lit(100000000.0) * (F.col("b.y") - F.col("a.y"))
            / (F.col("b.t") - F.col("a.t")),
            0,
        )
        .cast("bigint")
        .alias("s_e8"),
    )
    per_i = slopes.groupBy("t").agg(F.median("s_e8").alias("med_i"))
    beta = per_i.agg(F.median("med_i").alias("b_e8"))
    resid = idx.crossJoin(F.broadcast(beta)).select(
        F.round(F.lit(100000000.0) * F.col("y") - F.col("b_e8") * F.col("t"), 0)
        .cast("bigint")
        .alias("a_e8")
    )
    alpha = resid.agg(F.median("a_e8").alias("a_e8"))
    nn = idx.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return (
        nn.crossJoin(F.broadcast(beta))
        .crossJoin(F.broadcast(alpha))
        .select(
            "n_days",
            F.round(F.col("b_e8") / 100000000.0 / 100.0, 6).alias(
                "slope_dollars_per_day"
            ),
            F.round(F.col("a_e8") / 100000000.0 / 100.0, 6).alias(
                "intercept_dollars"
            ),
        )
    )
