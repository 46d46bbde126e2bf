"""Extension batch 177 (round 6): trend and stability tests that are
robust to the weekly cycle -- the seasonal Mann-Kendall test (Hirsch-
Slack: run MK WITHIN each weekday and pool S and Var across seasons,
so the weekly cycle that biases plain mann_kendall_trend cancels
exactly), the Brown-Durbin-Evans CUSUM-of-squares (is the VARIANCE
stable through time? -- the squared-residual share path against the
uniform diagonal; changepoint_max_cusum watches the level, this
watches the volatility), and the difference-sign runs test (runs of
ups/downs in consecutive changes -- the NIST randomness battery's
complement to runs_test_randomness's about-the-median runs).

Cross-engine discipline: all three are exact integer folds over the
daily spine (pair sign tallies, squared-deviation prefix shares as
HUGEINT ratios e12-quantized per t, up/down run counts); z statistics
divide once and p-values go through the shared A&S erf. Seasonal MK
pair joins are calendar-bounded per weekday (|days|/7 each)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import (
    _SQRT2,
    _erf_sql,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_Z95 = 1.959963984540054


_DAILY_SQL = """
    daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_orderdate)
"""


q_seasonal_mann_kendall = register_sql(
    "seasonal_mann_kendall",
    f"""
    WITH {_DAILY_SQL},
    s AS (
      SELECT d, cents, dayofweek(d) AS dow FROM daily),
    pairs AS (
      SELECT a.dow,
             CASE WHEN b.cents > a.cents THEN 1
                  WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn
      FROM s a JOIN s b ON b.dow = a.dow AND b.d > a.d),
    per AS (
      SELECT dow, CAST(sum(sgn) AS BIGINT) AS s_g,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs GROUP BY dow),
    sizes AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS n_g FROM s GROUP BY dow),
    agg AS (
      SELECT CAST(sum(p.s_g) AS BIGINT) AS s_tot,
             CAST(sum(z.n_g * (z.n_g - 1) * (2 * z.n_g + 5)) AS BIGINT)
               AS var18,
             CAST(count(*) AS BIGINT) AS n_seasons
      FROM per p JOIN sizes z ON z.dow = p.dow),
    st AS (
      SELECT s_tot, var18, n_seasons,
             (CAST(s_tot AS DOUBLE)
              - CASE WHEN s_tot > 0 THEN 1.0
                     WHEN s_tot < 0 THEN -1.0 ELSE 0.0 END)
               / sqrt(CAST(var18 AS DOUBLE) / 18.0) AS z
      FROM agg)
    SELECT n_seasons, s_tot AS s_pooled,
           round(z, 4) AS z,
           round(1.0 - {_erf_sql(f"(abs(z) / {_SQRT2!r})")}, 6)
             AS p_two_sided,
           abs(z) > {_Z95!r} AS reject_5pct
    FROM st
    """,
    tags=("timeseries", "trend", "seasonal"),
)


@register(
    "cusumsq_variance_stability",
    f"""
    WITH {_DAILY_SQL},
    s AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, cents
      FROM daily),
    tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(cents) AS HUGEINT) AS sm
      FROM s),
    u AS (
      SELECT s.t, CAST(s.cents AS HUGEINT) * tt.n - tt.sm AS u,
             CAST(tt.n AS BIGINT) AS n
      FROM s CROSS JOIN tot tt),
    sq AS (
      SELECT t, n, u * u AS u2,
             sum(u * u) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_t,
             sum(u * u) OVER () AS c_n
      FROM u),
    dev AS (
      SELECT t, n,
             CAST(floor(abs(CAST(c_t AS DOUBLE) / CAST(c_n AS DOUBLE)
                  - CAST(t AS DOUBLE) / n) * 1e12 + 0.5) AS BIGINT)
               AS d_e12
      FROM sq),
    mx AS (
      SELECT max(d_e12) AS mx_e12, max(n) AS n FROM dev),
    arg AS (
      SELECT t AS t_max FROM dev ORDER BY d_e12 DESC, t LIMIT 1)
    SELECT m.n AS n_days,
           round(CAST(m.mx_e12 AS DOUBLE) / 1e12, 6) AS max_dev,
           a.t_max AS argmax_day_index,
           round(CAST(m.mx_e12 AS DOUBLE) / 1e12
                 * sqrt(CAST(m.n AS DOUBLE) / 2.0), 4) AS scaled_stat,
           CAST(m.mx_e12 AS DOUBLE) / 1e12 * sqrt(CAST(m.n AS DOUBLE) / 2.0)
             > 1.358 AS reject_5pct_approx
    FROM mx m CROSS JOIN arg a
    """,
    tags=("timeseries", "stability", "variance"),
)
def q_cusumsq_variance_stability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brown-Durbin-Evans CUSUM-of-squares on daily revenue: the
    cumulative share of squared deviations C_t = sum u^2_{{<=t}} /
    sum u^2 should climb the diagonal t/n if the variance is stable;
    max |C_t - t/n| (exact HUGEINT ratio, e12-quantized per t) with
    the KS-style 5% band 1.358/sqrt(n/2) (documented approximation)
    flags volatility regime shifts that the level CUSUM
    (changepoint_max_cusum) cannot see. The argmax day indexes WHERE
    the variance regime breaks."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    s = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t"),
        "cents",
    )
    tot = s.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("cents").cast(_DEC).alias("sm"),
    )
    u = s.crossJoin(F.broadcast(tot)).select(
        "t",
        (F.col("cents").cast(_DEC) * F.col("n") - F.col("sm")).alias("u"),
        F.col("n").cast("bigint").alias("n"),
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    sq = u.select(
        "t",
        "n",
        F.sum(F.col("u") * F.col("u")).over(wcum).alias("c_t"),
        F.sum(F.col("u") * F.col("u")).over(wall).alias("c_n"),
    )
    dev = sq.select(
        "t",
        "n",
        F.floor(
            F.abs(
                F.col("c_t").cast("double") / F.col("c_n").cast("double")
                - F.col("t").cast("double") / F.col("n")
            )
            * 1e12
            + 0.5
        )
        .cast("bigint")
        .alias("d_e12"),
    )
    mx = dev.agg(
        F.max("d_e12").alias("mx_e12"), F.max("n").alias("n")
    )
    arg = dev.orderBy(F.col("d_e12").desc(), "t").limit(1).select(
        F.col("t").alias("t_max")
    )
    stat = F.col("mx_e12").cast("double") / 1e12 * F.sqrt(
        F.col("n").cast("double") / 2.0
    )
    return mx.crossJoin(F.broadcast(arg)).select(
        F.col("n").alias("n_days"),
        F.round(F.col("mx_e12").cast("double") / 1e12, 6).alias("max_dev"),
        F.col("t_max").alias("argmax_day_index"),
        F.round(stat, 4).alias("scaled_stat"),
        (stat > 1.358).alias("reject_5pct_approx"),
    )


@register(
    "runs_up_down_test",
    f"""
    WITH {_DAILY_SQL},
    s AS (
      SELECT d, cents - lag(cents) OVER (ORDER BY d) AS chg FROM daily),
    signs AS (
      SELECT d, CASE WHEN chg > 0 THEN 1 ELSE -1 END AS sg
      FROM s WHERE chg IS NOT NULL AND chg <> 0),
    lagged AS (
      SELECT sg, lag(sg) OVER (ORDER BY d) AS prev FROM signs),
    agg AS (
      SELECT CAST(1 + sum(CASE WHEN prev IS NOT NULL AND sg <> prev
                          THEN 1 ELSE 0 END) AS BIGINT) AS runs,
             CAST(count(*) AS BIGINT) + 1 AS n
      FROM lagged),
    st AS (
      SELECT runs, n,
             (CAST(runs AS DOUBLE) - (2.0 * n - 1.0) / 3.0)
               / sqrt((16.0 * n - 29.0) / 90.0) AS z
      FROM agg)
    SELECT n AS n_values, runs AS n_runs,
           round((2.0 * n - 1.0) / 3.0, 2) AS expected_runs,
           round(z, 4) AS z,
           round(1.0 - {_erf_sql(f"(abs(z) / {_SQRT2!r})")}, 6)
             AS p_two_sided,
           abs(z) > {_Z95!r} AS reject_5pct
    FROM st
    """,
    tags=("timeseries", "randomness", "runs"),
)
def q_runs_up_down_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-sign runs test (runs up and down): count maximal
    runs of consecutive increases/decreases in daily revenue; under
    randomness E[R] = (2n-1)/3 and Var[R] = (16n-29)/90 -- MORE
    sensitive to short-period oscillation than the about-the-median
    runs_test_randomness (a perfectly alternating series has maximal
    up-down runs but median-runs near expectation). Zero changes drop
    (tie handling documented); exact integer run counts; shared-erf
    p."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    wd = Window.orderBy("d")
    s = daily.select(
        "d", (F.col("cents") - F.lag("cents").over(wd)).alias("chg")
    )
    signs = s.where(F.col("chg").isNotNull() & (F.col("chg") != 0)).select(
        "d", F.when(F.col("chg") > 0, 1).otherwise(-1).alias("sg")
    )
    lagged = signs.select(
        "sg", F.lag("sg").over(Window.orderBy("d")).alias("prev")
    )
    agg = lagged.agg(
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("sg") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("runs"),
        (F.count(F.lit(1)) + 1).cast("bigint").alias("n"),
    )
    z = (
        F.col("runs").cast("double")
        - (2.0 * F.col("n") - 1.0) / 3.0
    ) / F.sqrt((16.0 * F.col("n") - 29.0) / 90.0)
    st = agg.select("runs", "n", z.alias("z"))
    return st.select(
        F.col("n").alias("n_values"),
        F.col("runs").alias("n_runs"),
        F.round((2.0 * F.col("n") - 1.0) / 3.0, 2).alias("expected_runs"),
        F.round(F.col("z"), 4).alias("z"),
        F.round(
            1.0 - F.expr(_erf_sql(f"(abs(z) / {_SQRT2!r})")), 6
        ).alias("p_two_sided"),
        (F.abs(F.col("z")) > _Z95).alias("reject_5pct"),
    )
