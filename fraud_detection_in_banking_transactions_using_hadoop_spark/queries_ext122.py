"""Extension batch 122 (round 6): the correlation family beyond
Pearson -- distance correlation (Szekely's dCor, catches ANY
dependence), partial correlation (count ~ revenue given average order
value), and exponentially-weighted correlation (recency-weighted
co-movement).

Scale notes (the 100 TB story):
- All on the calendar-bounded daily spine; the only quadratic object
  (dCor's pairwise |diff| sums) is the |days|^2 pair join, constant in
  data scale (hodges_lehmann pattern).
- distance_correlation keeps S1/S2/S3 exact: |dx|, |dy| are integer
  cents/counts, their products sum as DECIMAL integers, the per-row
  sums close S3 as exact integer products, and only the final
  dCov^2/dVar combination goes double.
- ewm_corr quantizes each decay weight to an e6 integer
  (round(1e6 * r^(T-i))), so every weighted sum is an exact integer
  (weights < 5e-7 truncate to zero identically in both engines) --
  no cross-engine float accumulation.
- partial_correlation closes three exact-moment Pearson r's through
  one algebraic identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext120 import (
    _DAILY_CTE,
    _daily_spark,
)

_DEC = "decimal(38,0)"


@register(
    "distance_correlation_daily",
    f"""
    WITH {_DAILY_CTE},
    rows_j AS (
      SELECT a.d,
             CAST(sum(abs(a.x - b.x)) AS HUGEINT) AS ax,
             CAST(sum(abs(a.y - b.y)) AS HUGEINT) AS ay,
             CAST(sum(CAST(abs(a.x - b.x) AS HUGEINT) * abs(a.y - b.y))
                  AS HUGEINT) AS axy,
             CAST(sum(CAST(abs(a.x - b.x) AS HUGEINT) * abs(a.x - b.x))
                  AS HUGEINT) AS axx,
             CAST(sum(CAST(abs(a.y - b.y) AS HUGEINT) * abs(a.y - b.y))
                  AS HUGEINT) AS ayy
      FROM daily a CROSS JOIN daily b
      GROUP BY a.d),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ax) AS HUGEINT) AS sx,
             CAST(sum(ay) AS HUGEINT) AS sy,
             CAST(sum(axy) AS HUGEINT) AS s1xy,
             CAST(sum(axx) AS HUGEINT) AS s1xx,
             CAST(sum(ayy) AS HUGEINT) AS s1yy,
             CAST(sum(CAST(ax AS HUGEINT) * ay) AS HUGEINT) AS s3xy,
             CAST(sum(CAST(ax AS HUGEINT) * ax) AS HUGEINT) AS s3xx,
             CAST(sum(CAST(ay AS HUGEINT) * ay) AS HUGEINT) AS s3yy
      FROM rows_j),
    v AS (
      SELECT n,
             CAST(s1xy AS DOUBLE) / n / n
               + (CAST(sx AS DOUBLE) / n / n) * (CAST(sy AS DOUBLE) / n / n)
               - 2 * CAST(s3xy AS DOUBLE) / n / n / n AS dcov2,
             CAST(s1xx AS DOUBLE) / n / n
               + (CAST(sx AS DOUBLE) / n / n) * (CAST(sx AS DOUBLE) / n / n)
               - 2 * CAST(s3xx AS DOUBLE) / n / n / n AS dvarx,
             CAST(s1yy AS DOUBLE) / n / n
               + (CAST(sy AS DOUBLE) / n / n) * (CAST(sy AS DOUBLE) / n / n)
               - 2 * CAST(s3yy AS DOUBLE) / n / n / n AS dvary
      FROM sums)
    SELECT n AS n_days,
           round(sqrt(dcov2 / sqrt(dvarx * dvary)), 6) AS dcor,
           round(dcov2 / 100.0, 6) AS dcov2_count_dollars,
           round(dvarx, 6) AS dvar_count,
           round(sqrt(dvary) / 100.0, 6) AS dsd_revenue_dollars
    FROM v
    """,
    tags=("stats", "dependence", "exact-arith"),
)
def q_distance_correlation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Szekely distance correlation between daily order count and
    revenue: dCov^2 = S1 + S2 - 2*S3 over pairwise |differences|
    (V-statistic form), dCor = sqrt(dCov^2 / sqrt(dVarX dVarY)).
    dCor = 0 iff independent -- the property Pearson lacks. One daily
    pair join produces per-row |diff| sums; every S term is an exact
    integer before the close."""
    daily = _daily_spark(spark, sf_dir)
    a, b = daily.alias("a"), daily.alias("b")
    dx = F.abs(F.col("a.x") - F.col("b.x"))
    dy = F.abs(F.col("a.y") - F.col("b.y"))
    rows_j = (
        a.crossJoin(F.broadcast(b))
        .groupBy(F.col("a.d").alias("d"))
        .agg(
            F.sum(dx).cast(_DEC).alias("ax"),
            F.sum(dy).cast(_DEC).alias("ay"),
            F.sum(dx.cast(_DEC) * dy).cast(_DEC).alias("axy"),
            F.sum(dx.cast(_DEC) * dx).cast(_DEC).alias("axx"),
            F.sum(dy.cast(_DEC) * dy).cast(_DEC).alias("ayy"),
        )
    )
    sums = rows_j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("ax").cast(_DEC).alias("sx"),
        F.sum("ay").cast(_DEC).alias("sy"),
        F.sum("axy").cast(_DEC).alias("s1xy"),
        F.sum("axx").cast(_DEC).alias("s1xx"),
        F.sum("ayy").cast(_DEC).alias("s1yy"),
        F.sum(F.col("ax") * F.col("ay")).cast(_DEC).alias("s3xy"),
        F.sum(F.col("ax") * F.col("ax")).cast(_DEC).alias("s3xx"),
        F.sum(F.col("ay") * F.col("ay")).cast(_DEC).alias("s3yy"),
    )
    nd = F.col("n").cast("double")

    def dstat(s1, sa, sb, s3):
        return (
            F.col(s1).cast("double") / nd / nd
            + (F.col(sa).cast("double") / nd / nd)
            * (F.col(sb).cast("double") / nd / nd)
            - 2 * F.col(s3).cast("double") / nd / nd / nd
        )

    v = sums.select(
        "n",
        dstat("s1xy", "sx", "sy", "s3xy").alias("dcov2"),
        dstat("s1xx", "sx", "sx", "s3xx").alias("dvarx"),
        dstat("s1yy", "sy", "sy", "s3yy").alias("dvary"),
    )
    # output scales keep round(6) magnitudes under the ~4e11 double-
    # rounding parity bound (CLAUDE.md): dcov2 in count*dollars, the
    # revenue dispersion as a sqrt in dollars
    return v.select(
        F.col("n").alias("n_days"),
        F.round(
            F.sqrt(F.col("dcov2") / F.sqrt(F.col("dvarx") * F.col("dvary"))), 6
        ).alias("dcor"),
        F.round(F.col("dcov2") / 100.0, 6).alias("dcov2_count_dollars"),
        F.round(F.col("dvarx"), 6).alias("dvar_count"),
        F.round(F.sqrt(F.col("dvary")) / 100.0, 6).alias("dsd_revenue_dollars"),
    )


@register(
    "partial_correlation_daily",
    f"""
    WITH {_DAILY_CTE},
    t AS (
      SELECT x, y, CAST(y // x AS BIGINT) AS z FROM daily),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(z) AS HUGEINT) AS sz,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
             CAST(sum(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz
      FROM t),
    r AS (
      SELECT n,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
               AS rxy,
             (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
               / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
               AS rxz,
             (CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
               / sqrt((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                      * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
               AS ryz
      FROM m)
    SELECT n AS n_days,
           round(rxy, 6) AS r_count_revenue,
           round(rxz, 6) AS r_count_aov,
           round(ryz, 6) AS r_revenue_aov,
           round((rxy - rxz * ryz)
                 / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
             AS partial_r_given_aov
    FROM r
    """,
    tags=("stats", "correlation", "exact-arith"),
)
def q_partial_correlation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of daily order count and revenue CONTROLLING
    for average order value (z = y DIV x, exact floor cents):
    r_xy.z = (r_xy - r_xz r_yz)/sqrt((1-r_xz^2)(1-r_yz^2)). All three
    Pearson r's close over exact integer moments; the identity then
    answers 'is count~revenue co-movement just the AOV channel?' --
    the one-confounder screen before any regression."""
    daily = _daily_spark(spark, sf_dir)
    t = daily.select(
        "x", "y", F.expr("CAST(y DIV x AS BIGINT)").alias("z")
    )

    def hug(c):
        return F.col(c).cast(_DEC)

    m = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast(_DEC).alias("sx"),
        F.sum("y").cast(_DEC).alias("sy"),
        F.sum("z").cast(_DEC).alias("sz"),
        F.sum(hug("x") * F.col("x")).cast(_DEC).alias("sxx"),
        F.sum(hug("y") * F.col("y")).cast(_DEC).alias("syy"),
        F.sum(hug("z") * F.col("z")).cast(_DEC).alias("szz"),
        F.sum(hug("x") * F.col("y")).cast(_DEC).alias("sxy"),
        F.sum(hug("x") * F.col("z")).cast(_DEC).alias("sxz"),
        F.sum(hug("y") * F.col("z")).cast(_DEC).alias("syz"),
    )
    nd = F.col("n").cast("double")

    def r(sab, sa, sb, saa, sbb):
        return (nd * F.col(sab).cast("double") - F.col(sa).cast("double") * F.col(sb).cast("double")) / F.sqrt(
            (nd * F.col(saa).cast("double") - F.col(sa).cast("double") * F.col(sa).cast("double"))
            * (nd * F.col(sbb).cast("double") - F.col(sb).cast("double") * F.col(sb).cast("double"))
        )

    rr = m.select(
        "n",
        r("sxy", "sx", "sy", "sxx", "syy").alias("rxy"),
        r("sxz", "sx", "sz", "sxx", "szz").alias("rxz"),
        r("syz", "sy", "sz", "syy", "szz").alias("ryz"),
    )
    return rr.select(
        F.col("n").alias("n_days"),
        F.round("rxy", 6).alias("r_count_revenue"),
        F.round("rxz", 6).alias("r_count_aov"),
        F.round("ryz", 6).alias("r_revenue_aov"),
        F.round(
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / F.sqrt(
                (1 - F.col("rxz") * F.col("rxz"))
                * (1 - F.col("ryz") * F.col("ryz"))
            ),
            6,
        ).alias("partial_r_given_aov"),
    )


_EWM_R = 0.98


@register(
    "ewm_corr_daily",
    f"""
    WITH {_DAILY_CTE},
    idx AS (
      SELECT x, y,
             CAST(date_diff('day', d, (SELECT max(d) FROM daily)) AS BIGINT)
               AS age
      FROM daily),
    wt AS (
      SELECT x, y, CAST(round(1000000.0 * power({_EWM_R}, age), 0) AS BIGINT)
               AS w
      FROM idx),
    m AS (
      SELECT CAST(sum(w) AS HUGEINT) AS sw,
             CAST(sum(CAST(w AS HUGEINT) * x) AS HUGEINT) AS swx,
             CAST(sum(CAST(w AS HUGEINT) * y) AS HUGEINT) AS swy,
             CAST(sum(CAST(w AS HUGEINT) * x * x) AS HUGEINT) AS swxx,
             CAST(sum(CAST(w AS HUGEINT) * y * y) AS HUGEINT) AS swyy,
             CAST(sum(CAST(w AS HUGEINT) * x * y) AS HUGEINT) AS swxy,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_eff
      FROM wt)
    SELECT n AS n_days, n_eff AS n_effective_days,
           round((CAST(sw AS DOUBLE) * swxy - CAST(swx AS DOUBLE) * swy)
                 / sqrt((CAST(sw AS DOUBLE) * swxx - CAST(swx AS DOUBLE) * swx)
                        * (CAST(sw AS DOUBLE) * swyy
                           - CAST(swy AS DOUBLE) * swy)), 6) AS ewm_corr
    FROM m
    """,
    tags=("timeseries", "correlation", "exact-arith"),
)
def q_ewm_corr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted correlation of daily count and revenue
    (decay 0.98/day, half-life ~34 days): weights w_i = round(1e6 *
    r^age) quantize to an e6 integer grid, so the five weighted moments
    are EXACT integer sums (ages past ~680 days truncate to zero
    weight identically in both engines) and the weighted Pearson
    closes in one expression. The recency-weighted answer to 'are
    count and revenue still moving together NOW?'."""
    daily = _daily_spark(spark, sf_dir)
    mx = daily.agg(F.max("d").alias("dmax"))
    wt = daily.crossJoin(F.broadcast(mx)).select(
        "x",
        "y",
        F.round(
            F.lit(1000000.0)
            * F.pow(F.lit(_EWM_R), F.datediff("dmax", "d").cast("double")),
            0,
        )
        .cast("bigint")
        .alias("w"),
    )
    w = F.col("w").cast(_DEC)
    m = wt.agg(
        F.sum("w").cast(_DEC).alias("sw"),
        F.sum(w * F.col("x")).cast(_DEC).alias("swx"),
        F.sum(w * F.col("y")).cast(_DEC).alias("swy"),
        F.sum(w * F.col("x") * F.col("x")).cast(_DEC).alias("swxx"),
        F.sum(w * F.col("y") * F.col("y")).cast(_DEC).alias("swyy"),
        F.sum(w * F.col("x") * F.col("y")).cast(_DEC).alias("swxy"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("w") > 0, 1).otherwise(0)).cast("bigint").alias("n_eff"),
    )
    d = lambda c: F.col(c).cast("double")
    return m.select(
        F.col("n").alias("n_days"),
        F.col("n_eff").alias("n_effective_days"),
        F.round(
            (d("sw") * d("swxy") - d("swx") * d("swy"))
            / F.sqrt(
                (d("sw") * d("swxx") - d("swx") * d("swx"))
                * (d("sw") * d("swyy") - d("swy") * d("swy"))
            ),
            6,
        ).alias("ewm_corr"),
    )
