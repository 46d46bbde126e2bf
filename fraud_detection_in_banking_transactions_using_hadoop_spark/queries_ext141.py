"""Extension batch 141 (round 6): distribution-shape and tail-risk
diagnostics on daily revenue -- D'Agostino's K^2 omnibus normality
test (the properly z-transformed skew/kurtosis combination that
jarque_bera only approximates asymptotically), the Cornish-Fisher
moment-adjusted VaR (what expected_shortfall should use when the
return distribution is skewed/fat-tailed), and the Lilliefors KS test
(KS against a normal with ESTIMATED parameters -- the composite-null
variant the plain KS table is invalid for).

Cross-engine discipline:
- All three consume the SAME exact integer moment sums of the
  whole-dollar daily series (cents DIV 100 keeps the 4th-power sum
  inside DECIMAL(38,0) through sf1; raw cents would overflow at
  sf0.1). Every downstream statistic is pure double arithmetic over
  those identical integers, so the float streams match bit-for-bit;
  no engine-order float accumulation anywhere.
- The normal CDF for Lilliefors is the Abramowitz-Stegun 7.1.26 erf
  polynomial (|err| < 1.5e-7) embedded as identical literal text; the
  normal quantile for Cornish-Fisher is a python-side literal.

Scale notes: one aggregation for the moments; Lilliefors'
sup-distance scan and the empirical percentile ride the
CALENDAR-bounded daily value spine (growth class orders_days).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import _erf_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_Z_05 = -1.6448536269514726  # statistics.NormalDist().inv_cdf(0.05)
# DuckDB parses the bare 17-digit literal as DECIMAL(17,16) and z*z*z
# overflows decimal scale -- keep the SQL token double-typed
_Z05D = f"CAST({_Z_05!r} AS DOUBLE)"

_MOM_SQL = """
    daily AS (
      SELECT o_orderdate AS d,
             CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) // 100 AS BIGINT) AS v
      FROM orders GROUP BY o_orderdate),
    mom AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2,
             CAST(sum(CAST(v AS HUGEINT) * v * v) AS HUGEINT) AS s3,
             CAST(sum(CAST(v AS HUGEINT) * v * v * v) AS HUGEINT) AS s4
      FROM daily),
    shape AS (
      SELECT CAST(n AS BIGINT) AS n,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
             (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS m2,
             (CAST(s3 AS DOUBLE)
               - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * CAST(s2 AS DOUBLE)
               + 2.0 * CAST(n AS DOUBLE)
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
               / CAST(n AS DOUBLE) AS m3,
             (CAST(s4 AS DOUBLE)
               - 4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * CAST(s3 AS DOUBLE)
               + 6.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * CAST(s2 AS DOUBLE)
               - 3.0 * CAST(n AS DOUBLE)
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
               / CAST(n AS DOUBLE) AS m4
      FROM mom)
"""


def _shape_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n, mu, m2, m3, m4) of the whole-dollar daily series: exact
    integer power sums, then the identical double expressions both
    engines share."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
            " AS BIGINT) DIV 100 AS BIGINT)"
        ).alias("v")
    )
    v = F.col("v").cast(_DEC)
    mom = daily.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum(v).cast(_DEC).alias("s1"),
        F.sum(v * F.col("v")).cast(_DEC).alias("s2"),
        F.sum(v * F.col("v") * F.col("v")).cast(_DEC).alias("s3"),
        F.sum(v * F.col("v") * F.col("v") * F.col("v")).cast(_DEC).alias("s4"),
    )
    nd = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    s3 = F.col("s3").cast("double")
    s4 = F.col("s4").cast("double")
    mu = s1 / nd
    return mom.select(
        F.col("n").cast("bigint").alias("n"),
        mu.alias("mu"),
        ((s2 - s1 * s1 / nd) / nd).alias("m2"),
        ((s3 - 3.0 * mu * s2 + 2.0 * nd * mu * mu * mu) / nd).alias("m3"),
        (
            (s4 - 4.0 * mu * s3 + 6.0 * mu * mu * s2 - 3.0 * nd * mu * mu * mu * mu)
            / nd
        ).alias("m4"),
    )


@register(
    "dagostino_k2",
    f"""
    WITH {_MOM_SQL}
    SELECT n,
           round(m3 / (m2 * sqrt(m2)), 6) + 0.0 AS skew_g1,
           round(m4 / (m2 * m2) - 3.0, 6) + 0.0 AS excess_kurtosis,
           round(
             (1.0 / sqrt(ln(sqrt(-1.0 + sqrt(2.0 * (3.0
                * (n * n + 27.0 * n - 70.0) * (n + 1.0) * (n + 3.0)
                / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0)) - 1.0))))))
             * ln((m3 / (m2 * sqrt(m2)))
                  * sqrt((n + 1.0) * (n + 3.0) / (6.0 * (n - 2.0)))
                  / sqrt(2.0 / (-1.0 + sqrt(2.0 * (3.0
                      * (n * n + 27.0 * n - 70.0) * (n + 1.0) * (n + 3.0)
                      / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0)) - 1.0))
                      - 1.0))
                  + sqrt(((m3 / (m2 * sqrt(m2)))
                      * sqrt((n + 1.0) * (n + 3.0) / (6.0 * (n - 2.0)))
                      / sqrt(2.0 / (-1.0 + sqrt(2.0 * (3.0
                          * (n * n + 27.0 * n - 70.0) * (n + 1.0) * (n + 3.0)
                          / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0))
                          - 1.0)) - 1.0)))
                      * ((m3 / (m2 * sqrt(m2)))
                      * sqrt((n + 1.0) * (n + 3.0) / (6.0 * (n - 2.0)))
                      / sqrt(2.0 / (-1.0 + sqrt(2.0 * (3.0
                          * (n * n + 27.0 * n - 70.0) * (n + 1.0) * (n + 3.0)
                          / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0))
                          - 1.0)) - 1.0))) + 1.0)), 6) + 0.0 AS z_skew
    FROM shape
    """,
    tags=("stats", "normality", "exact-arith"),
)
def q_dagostino_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Agostino's skewness z-test on daily revenue (whole dollars):
    g1 -> Y = g1*sqrt((n+1)(n+3)/(6(n-2))), the Johnson SU transform
    z = delta * asinh(Y/alpha) with delta/alpha from the exact beta2
    moment of the g1 sampling distribution (asinh spelled as
    ln(y + sqrt(y^2+1)) -- both engines share the text, no asinh libm
    dependence). Emits g1, excess kurtosis, and the skewness z; |z| >
    1.96 rejects normal-shape at 5%. Moments come from exact integer
    power sums, so the doubles match bit-for-bit."""
    shape = _shape_frame(spark, sf_dir)
    nd = F.col("n").cast("double")
    g1 = F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))
    beta2 = (
        3.0
        * (nd * nd + 27.0 * nd - 70.0)
        * (nd + 1.0)
        * (nd + 3.0)
        / ((nd - 2.0) * (nd + 5.0) * (nd + 7.0) * (nd + 9.0))
    )
    w2 = -1.0 + F.sqrt(2.0 * (beta2 - 1.0))
    delta = 1.0 / F.sqrt(F.log(F.sqrt(w2)))
    alpha = F.sqrt(2.0 / (w2 - 1.0))
    y = g1 * F.sqrt((nd + 1.0) * (nd + 3.0) / (6.0 * (nd - 2.0)))
    z1 = delta * F.log(y / alpha + F.sqrt((y / alpha) * (y / alpha) + 1.0))
    return shape.select(
        "n",
        (F.round(g1, 6) + F.lit(0.0)).alias("skew_g1"),
        (F.round(F.col("m4") / (F.col("m2") * F.col("m2")) - 3.0, 6) + F.lit(0.0)).alias(
            "excess_kurtosis"
        ),
        (F.round(z1, 6) + F.lit(0.0)).alias("z_skew"),
    )


@register(
    "cornish_fisher_var",
    f"""
    WITH {_MOM_SQL},
    spine AS (
      SELECT v, CAST(count(*) AS BIGINT) AS c FROM daily GROUP BY v),
    ranked AS (
      SELECT v, sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM spine),
    emp AS (
      SELECT min(r.v) AS p05
      FROM ranked r CROSS JOIN mom m
      WHERE 20 * r.cc >= m.n)
    SELECT s.n,
           round(s.m3 / (s.m2 * sqrt(s.m2)), 6) + 0.0 AS skew_g1,
           round(s.m4 / (s.m2 * s.m2) - 3.0, 6) + 0.0 AS excess_kurtosis,
           round(s.mu + {_Z05D} * sqrt(s.m2), 2) AS var05_gaussian_dollars,
           round(s.mu + ({_Z05D}
              + ({_Z05D} * {_Z05D} - 1.0)
                * (s.m3 / (s.m2 * sqrt(s.m2))) / 6.0
              + ({_Z05D} * {_Z05D} * {_Z05D} - 3.0 * {_Z05D})
                * (s.m4 / (s.m2 * s.m2) - 3.0) / 24.0
              - (2.0 * {_Z05D} * {_Z05D} * {_Z05D} - 5.0 * {_Z05D})
                * (s.m3 / (s.m2 * sqrt(s.m2)))
                * (s.m3 / (s.m2 * sqrt(s.m2))) / 36.0) * sqrt(s.m2), 2)
             AS var05_cornish_fisher_dollars,
           e.p05 AS p05_empirical_dollars
    FROM shape s CROSS JOIN emp e
    """,
    tags=("finance", "risk", "exact-arith"),
)
def q_cornish_fisher_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% value-at-risk of daily revenue three ways: Gaussian
    (mu + z*sigma), Cornish-Fisher (z adjusted by the measured skew
    and excess kurtosis -- the third-order expansion), and the exact
    empirical 5th percentile (order statistic off the value spine).
    The CF quantile is the standard fix when tails are fat: on skewed
    data the Gaussian VaR understates the low tail. All moments from
    exact integer power sums; z_.05 is a shared python literal."""
    shape = _shape_frame(spark, sf_dir)
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
            " AS BIGINT) DIV 100 AS BIGINT)"
        ).alias("v")
    )
    spine = daily.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ranked = spine.select("v", F.sum("c").over(w).alias("cc"))
    nn = shape.select("n")
    emp = (
        ranked.crossJoin(F.broadcast(nn))
        .where(20 * F.col("cc") >= F.col("n"))
        .agg(F.min("v").alias("p05"))
    )
    z = F.lit(_Z_05)
    g1 = F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))
    ek = F.col("m4") / (F.col("m2") * F.col("m2")) - 3.0
    zcf = (
        z
        + (z * z - 1.0) * g1 / 6.0
        + (z * z * z - 3.0 * z) * ek / 24.0
        - (2.0 * z * z * z - 5.0 * z) * g1 * g1 / 36.0
    )
    return shape.crossJoin(F.broadcast(emp)).select(
        "n",
        (F.round(g1, 6) + F.lit(0.0)).alias("skew_g1"),
        (F.round(ek, 6) + F.lit(0.0)).alias("excess_kurtosis"),
        F.round(F.col("mu") + z * F.sqrt(F.col("m2")), 2).alias(
            "var05_gaussian_dollars"
        ),
        F.round(F.col("mu") + zcf * F.sqrt(F.col("m2")), 2).alias(
            "var05_cornish_fisher_dollars"
        ),
        F.col("p05").alias("p05_empirical_dollars"),
    )


@register(
    "lilliefors_normality",
    f"""
    WITH {_MOM_SQL},
    spine AS (
      SELECT v, CAST(count(*) AS BIGINT) AS c FROM daily GROUP BY v),
    ranked AS (
      SELECT v, c, sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM spine),
    scored AS (
      SELECT r.cc, r.c, m.n,
             0.5 * (1.0 + {_erf_sql(
                 "(CAST(r.v AS DOUBLE) - s.mu)"
                 " / sqrt(s.m2 * s.n / (s.n - 1.0)) / sqrt(2.0)")})
               AS phi
      FROM ranked r CROSS JOIN shape s CROSS JOIN mom m),
    dist AS (
      SELECT max(CAST(cc AS DOUBLE) / CAST(n AS DOUBLE) - phi) AS d_plus,
             max(phi - CAST(cc - c AS DOUBLE) / CAST(n AS DOUBLE)) AS d_minus
      FROM scored)
    SELECT (SELECT n FROM shape) AS n_days,
           round(greatest(d.d_plus, d.d_minus), 6) AS d_stat,
           round(0.886 / sqrt(CAST((SELECT n FROM shape) AS DOUBLE)), 6)
             AS crit_5pct_approx,
           greatest(d.d_plus, d.d_minus)
             > 0.886 / sqrt(CAST((SELECT n FROM shape) AS DOUBLE))
             AS reject_5pct
    FROM dist d
    """,
    tags=("stats", "normality"),
)
def q_lilliefors_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lilliefors test of daily revenue normality: the KS sup-distance
    against N(mu_hat, s_hat) with BOTH parameters estimated from the
    same data (the plain KS critical values are invalid under a
    composite null; Lilliefors' 0.886/sqrt(n) is the standard 5%
    approximation). D+ and D- come from the exact cumulative counts on
    the value spine; Phi is the shared Abramowitz-Stegun erf polynomial
    over identical doubles (sample sd = sqrt(m2 * n/(n-1)))."""
    shape = _shape_frame(spark, sf_dir)
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
            " AS BIGINT) DIV 100 AS BIGINT)"
        ).alias("v")
    )
    spine = daily.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ranked = spine.select("v", "c", F.sum("c").over(w).alias("cc"))
    scored = ranked.crossJoin(F.broadcast(shape)).select(
        "cc",
        "c",
        "n",
        F.expr(
            "0.5 * (1.0 + "
            + _erf_sql(
                "(CAST(v AS DOUBLE) - mu)"
                " / sqrt(m2 * n / (n - 1.0)) / sqrt(2.0)"
            )
            + ")"
        ).alias("phi"),
    )
    dist = scored.agg(
        F.max(F.col("cc").cast("double") / F.col("n") - F.col("phi")).alias(
            "d_plus"
        ),
        F.max(
            F.col("phi") - (F.col("cc") - F.col("c")).cast("double") / F.col("n")
        ).alias("d_minus"),
        F.max("n").alias("n_days"),
    )
    d = F.greatest(F.col("d_plus"), F.col("d_minus"))
    crit = 0.886 / F.sqrt(F.col("n_days").cast("double"))
    return dist.select(
        F.col("n_days"),
        F.round(d, 6).alias("d_stat"),
        F.round(crit, 6).alias("crit_5pct_approx"),
        (d > crit).alias("reject_5pct"),
    )
