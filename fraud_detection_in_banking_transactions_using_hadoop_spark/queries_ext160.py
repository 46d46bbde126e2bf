"""Extension batch 160 (round 6): forecast-comparison inference on the
daily revenue series -- the Diebold-Mariano test (is the naive lag-1
forecast's squared-error loss significantly different from the
seasonal lag-7 forecast's, under a Bartlett long-run variance), the
Pesaran-Timmermann directional-accuracy test (does the momentum sign
forecast beat independence), and the Mincer-Zarnowitz rationality
regression (actual on forecast: joint (a,b)=(0,1) Wald). Together
they complete the forecast tier: theil_u2_forecast scores accuracy,
forecast_backtest_mape scores level error, these three test SKILL.

Cross-engine discipline:
- DM: loss differentials d_t = e1^2 - e7^2 fold in DOLLARS (cents
  would push the u-product fold past HUGEINT at sf1); the long-run
  variance uses the exact u = n*d - S autocovariance fold with
  Bartlett weights as integers ((7-k)/7 cleared to a x7 numerator),
  each rho e12-quantized before the weighted sum.
- PT: the statistic is a pure function of four exact integer counts
  (n, actual-ups, predicted-ups, hits); one shared double expression.
- MZ: n-scaled central moments from exact integer sums; SSR_u =
  (Syy - Sxy^2/Sxx)/n; the restricted SSR is the exact integer
  sum((y-f)^2); p uses the exact chi2_2 tail exp(-F) (2F ~ chi2_2 at
  this n, documented).
- All three p-values go through the shared A&S 7.1.26 erf (or the
  exact exp(-F) for the 2-df Wald).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import (
    _SQRT2,
    _erf_sql,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_L = 6  # Bartlett truncation (weekly seasonality window)


_DAILY_SQL = """
    daily AS (
      SELECT o_orderdate AS d,
             CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) // 100 AS BIGINT) AS v
      FROM orders GROUP BY o_orderdate)
"""


def _daily_dollars(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
            " AS BIGINT) DIV 100 AS BIGINT)"
        ).alias("v")
    )


@register(
    "diebold_mariano",
    f"""
    WITH {_DAILY_SQL},
    s AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn, v,
             lag(v, 1) OVER (ORDER BY d) AS l1,
             lag(v, 7) OVER (ORDER BY d) AS l7
      FROM daily),
    dt AS (
      SELECT rn,
             CAST((v - l1) AS HUGEINT) * (v - l1)
               - CAST((v - l7) AS HUGEINT) * (v - l7) AS dd,
             CAST((v - l1) AS HUGEINT) * (v - l1) AS sq1,
             CAST((v - l7) AS HUGEINT) * (v - l7) AS sq7
      FROM s WHERE l1 IS NOT NULL AND l7 IS NOT NULL),
    tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(dd) AS HUGEINT) AS sm,
             CAST(sum(sq1) AS HUGEINT) AS s1, CAST(sum(sq7) AS HUGEINT) AS s7
      FROM dt),
    u AS (
      SELECT dt.rn - (SELECT min(rn) - 1 FROM dt) AS rn,
             CAST(dt.dd AS HUGEINT) * t.n - t.sm AS u
      FROM dt CROSS JOIN tot t),
    lagged AS (
      SELECT rn, u, unnest(range(0, {_L + 1})) AS lag_k FROM u),
    g AS (
      SELECT a.lag_k, CAST(sum(a.u * b.u) AS HUGEINT) AS gk
      FROM lagged a JOIN u b ON b.rn = a.rn - a.lag_k
      GROUP BY a.lag_k),
    rho AS (
      SELECT CAST(sum((7 - g.lag_k)
                  * CAST(floor(CAST(g.gk AS DOUBLE) / CAST(g0.gk AS DOUBLE)
                         * 1e12 + 0.5) AS BIGINT)) AS HUGEINT) AS wsum_e12
      FROM g CROSS JOIN (SELECT gk FROM g WHERE lag_k = 0) g0
      WHERE g.lag_k >= 1),
    st AS (
      SELECT CAST(t.n AS BIGINT) AS n_eff,
             CAST(t.s1 AS DOUBLE) / CAST(t.n AS DOUBLE) AS mse1,
             CAST(t.s7 AS DOUBLE) / CAST(t.n AS DOUBLE) AS mse7,
             CAST(t.sm AS DOUBLE) / CAST(t.n AS DOUBLE) AS dbar,
             CAST(t.sm AS DOUBLE) * CAST(t.n AS DOUBLE)
               / sqrt(CAST(g0.gk AS DOUBLE)
                      * ((7.0 * 1e12 + 2.0 * CAST(r.wsum_e12 AS DOUBLE))
                         / (7.0 * 1e12)))
               * sqrt((CAST(t.n AS DOUBLE) - 1.0) / CAST(t.n AS DOUBLE))
               AS dm
      FROM tot t
      CROSS JOIN (SELECT gk FROM g WHERE lag_k = 0) g0
      CROSS JOIN rho r)
    SELECT n_eff,
           round(sqrt(mse1), 2) AS rmse_naive,
           round(sqrt(mse7), 2) AS rmse_seasonal,
           round(dbar, 2) + 0.0 AS mean_loss_diff,
           round(dm, 4) + 0.0 AS dm_stat,
           round(1.0 - {_erf_sql(f"(abs(dm) / {_SQRT2!r})")}, 6)
             AS p_two_sided
    FROM st
    """,
    tags=("forecast", "inference", "timeseries"),
)
def q_diebold_mariano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diebold-Mariano equal-predictive-accuracy test between the
    naive (lag-1) and seasonal-naive (lag-7) one-step forecasts of
    daily revenue under squared-error loss. The loss differential's
    long-run variance takes the Bartlett kernel over 6 lags (weekly
    seasonality window) on the exact u = n*d - S autocovariance fold,
    each rho e12-quantized; the Harvey h=1 small-sample factor
    sqrt((n-1)/n) scales the statistic. DM < 0 means the naive
    forecast's losses are smaller."""
    daily = _daily_dollars(spark, sf_dir)
    wd = Window.orderBy("d")
    s = daily.select(
        F.row_number().over(wd).cast("bigint").alias("rn"),
        "v",
        F.lag("v", 1).over(wd).alias("l1"),
        F.lag("v", 7).over(wd).alias("l7"),
    )
    e1 = (F.col("v") - F.col("l1")).cast(_DEC)
    e7 = (F.col("v") - F.col("l7")).cast(_DEC)
    dt = s.where(F.col("l1").isNotNull() & F.col("l7").isNotNull()).select(
        "rn",
        (e1 * (F.col("v") - F.col("l1")) - e7 * (F.col("v") - F.col("l7")))
        .alias("dd"),
        (e1 * (F.col("v") - F.col("l1"))).alias("sq1"),
        (e7 * (F.col("v") - F.col("l7"))).alias("sq7"),
    )
    tot = dt.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("dd").cast(_DEC).alias("sm"),
        F.sum("sq1").cast(_DEC).alias("s1"),
        F.sum("sq7").cast(_DEC).alias("s7"),
    )
    base = dt.agg((F.min("rn") - 1).alias("rn0"))
    u = (
        dt.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(base))
        .select(
            (F.col("rn") - F.col("rn0")).alias("rn"),
            (F.col("dd").cast(_DEC) * F.col("n") - F.col("sm")).alias("u"),
        )
    )
    lagged = u.select(
        "rn",
        "u",
        F.explode(F.array(*[F.lit(k) for k in range(0, _L + 1)])).alias(
            "lag_k"
        ),
    )
    a = lagged.alias("a")
    b = u.alias("b")
    g = (
        a.join(b, F.col("b.rn") == F.col("a.rn") - F.col("a.lag_k"))
        .groupBy(F.col("a.lag_k").alias("lag_k"))
        .agg(F.sum(F.col("a.u") * F.col("b.u")).cast(_DEC).alias("gk"))
    )
    g0 = g.where(F.col("lag_k") == 0).select(F.col("gk").alias("g0"))
    rho = (
        g.where(F.col("lag_k") >= 1)
        .crossJoin(F.broadcast(g0))
        .agg(
            F.sum(
                (7 - F.col("lag_k"))
                * F.floor(
                    F.col("gk").cast("double")
                    / F.col("g0").cast("double")
                    * 1e12
                    + 0.5
                ).cast("bigint")
            )
            .cast(_DEC)
            .alias("wsum_e12")
        )
    )
    nd = F.col("n").cast("double")
    dm = (
        F.col("sm").cast("double")
        * nd
        / F.sqrt(
            F.col("g0").cast("double")
            * (
                (7.0 * 1e12 + 2.0 * F.col("wsum_e12").cast("double"))
                / (7.0 * 1e12)
            )
        )
        * F.sqrt((nd - 1.0) / nd)
    )
    st = (
        tot.crossJoin(F.broadcast(g0))
        .crossJoin(F.broadcast(rho))
        .select(
            F.col("n").cast("bigint").alias("n_eff"),
            (F.col("s1").cast("double") / nd).alias("mse1"),
            (F.col("s7").cast("double") / nd).alias("mse7"),
            (F.col("sm").cast("double") / nd).alias("dbar"),
            dm.alias("dm"),
        )
    )
    return st.select(
        "n_eff",
        F.round(F.sqrt("mse1"), 2).alias("rmse_naive"),
        F.round(F.sqrt("mse7"), 2).alias("rmse_seasonal"),
        (F.round(F.col("dbar"), 2) + F.lit(0.0)).alias("mean_loss_diff"),
        (F.round(F.col("dm"), 4) + F.lit(0.0)).alias("dm_stat"),
        F.round(
            1.0 - F.expr(_erf_sql(f"(abs(dm) / {_SQRT2!r})")), 6
        ).alias("p_two_sided"),
    )


@register(
    "pesaran_timmermann",
    f"""
    WITH {_DAILY_SQL},
    s AS (
      SELECT d, v - lag(v, 1) OVER (ORDER BY d) AS chg,
             lag(v, 1) OVER (ORDER BY d)
               - lag(v, 2) OVER (ORDER BY d) AS prev_chg
      FROM daily),
    c AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN chg > 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN prev_chg > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS np,
             CAST(sum(CASE WHEN (chg > 0) = (prev_chg > 0) THEN 1 ELSE 0 END)
                  AS BIGINT) AS nc
      FROM s WHERE chg IS NOT NULL AND prev_chg IS NOT NULL),
    st AS (
      SELECT n, na, np, nc,
             CAST(nc AS DOUBLE) / n AS phat,
             (CAST(na AS DOUBLE) / n) * (CAST(np AS DOUBLE) / n)
               + (1.0 - CAST(na AS DOUBLE) / n)
                 * (1.0 - CAST(np AS DOUBLE) / n) AS pstar,
             CAST(na AS DOUBLE) / n AS py,
             CAST(np AS DOUBLE) / n AS px
      FROM c),
    z AS (
      SELECT n, phat, pstar,
             (phat - pstar)
               / sqrt(pstar * (1.0 - pstar) / n
                      - ((2.0 * py - 1.0) * (2.0 * py - 1.0)
                         * px * (1.0 - px) / n
                         + (2.0 * px - 1.0) * (2.0 * px - 1.0)
                           * py * (1.0 - py) / n
                         + 4.0 * py * px * (1.0 - py) * (1.0 - px)
                           / (CAST(n AS DOUBLE) * n))) AS pt
      FROM st)
    SELECT n AS n_eff,
           round(phat, 6) AS hit_rate,
           round(pstar, 6) AS expected_rate,
           round(pt, 4) + 0.0 AS pt_stat,
           round(0.5 * (1.0 - {_erf_sql(f"(pt / {_SQRT2!r})")}), 6)
             AS p_one_sided
    FROM z
    """,
    tags=("forecast", "inference", "direction"),
)
def q_pesaran_timmermann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pesaran-Timmermann directional-accuracy test of the momentum
    rule (yesterday's revenue change sign predicts today's): hit rate
    vs the independence benchmark py*px + (1-py)(1-px), normalized by
    the exact PT variance difference. All inputs are four integer
    counts; the 'up' indicator is the deterministic chg > 0 (zero
    changes count as down on both sides, so the comparison is still
    well-defined). PT > 0 means the momentum sign carries signal."""
    daily = _daily_dollars(spark, sf_dir)
    wd = Window.orderBy("d")
    s = daily.select(
        (F.col("v") - F.lag("v", 1).over(wd)).alias("chg"),
        (F.lag("v", 1).over(wd) - F.lag("v", 2).over(wd)).alias("prev_chg"),
    )
    c = s.where(
        F.col("chg").isNotNull() & F.col("prev_chg").isNotNull()
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("chg") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("prev_chg") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("np"),
        F.sum(
            F.when(
                (F.col("chg") > 0) == (F.col("prev_chg") > 0), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("nc"),
    )
    nd = F.col("n").cast("double")
    py = F.col("na").cast("double") / F.col("n")
    px = F.col("np").cast("double") / F.col("n")
    phat = F.col("nc").cast("double") / F.col("n")
    pstar = py * px + (1.0 - py) * (1.0 - px)
    st = c.select(
        "n",
        phat.alias("phat"),
        pstar.alias("pstar"),
        py.alias("py"),
        px.alias("px"),
    )
    pyc, pxc = F.col("py"), F.col("px")
    pt = (F.col("phat") - F.col("pstar")) / F.sqrt(
        F.col("pstar") * (1.0 - F.col("pstar")) / F.col("n")
        - (
            (2.0 * pyc - 1.0) * (2.0 * pyc - 1.0) * pxc * (1.0 - pxc)
            / F.col("n")
            + (2.0 * pxc - 1.0) * (2.0 * pxc - 1.0) * pyc * (1.0 - pyc)
            / F.col("n")
            + 4.0 * pyc * pxc * (1.0 - pyc) * (1.0 - pxc)
            / (F.col("n").cast("double") * F.col("n"))
        )
    )
    z = st.select("n", "phat", "pstar", pt.alias("pt"))
    return z.select(
        F.col("n").alias("n_eff"),
        F.round(F.col("phat"), 6).alias("hit_rate"),
        F.round(F.col("pstar"), 6).alias("expected_rate"),
        (F.round(F.col("pt"), 4) + F.lit(0.0)).alias("pt_stat"),
        F.round(
            0.5 * (1.0 - F.expr(_erf_sql(f"(pt / {_SQRT2!r})"))), 6
        ).alias("p_one_sided"),
    )


@register(
    "mincer_zarnowitz",
    f"""
    WITH {_DAILY_SQL},
    s AS (
      SELECT v AS y, lag(v, 7) OVER (ORDER BY d) AS f
      FROM daily),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(f) AS HUGEINT) AS sf,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(sum(CAST(f AS HUGEINT) * f) AS HUGEINT) AS sff,
             CAST(sum(CAST(y AS HUGEINT) * f) AS HUGEINT) AS syf,
             CAST(sum(CAST(y - f AS HUGEINT) * (y - f)) AS HUGEINT) AS ssr_r
      FROM s WHERE f IS NOT NULL),
    st AS (
      SELECT CAST(n AS BIGINT) AS n_eff,
             CAST(n * syf - sy * sf AS DOUBLE)
               / CAST(n * sff - sf * sf AS DOUBLE) AS b,
             CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
             CAST(n * syf - sy * sf AS DOUBLE) AS cxy,
             CAST(n * sff - sf * sf AS DOUBLE) AS cxx,
             CAST(sy AS DOUBLE) AS syd, CAST(sf AS DOUBLE) AS sfd,
             CAST(ssr_r AS DOUBLE) AS ssr_r, CAST(n AS DOUBLE) AS nd
      FROM m),
    fin AS (
      SELECT n_eff,
             (syd - b * sfd) / nd AS a, b,
             cxy * cxy / (cxx * cyy) AS r2,
             ((ssr_r - (cyy - cxy * cxy / cxx) / nd) / 2.0)
               / (((cyy - cxy * cxy / cxx) / nd) / (nd - 2.0)) AS fstat
      FROM st)
    SELECT n_eff,
           round(a, 2) AS intercept,
           round(b, 6) AS slope,
           round(r2, 6) AS r2,
           round(fstat, 4) AS f_joint,
           round(exp(-greatest(fstat, 0.0)), 6) AS p_chi2
    FROM fin
    """,
    tags=("forecast", "inference", "rationality"),
)
def q_mincer_zarnowitz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mincer-Zarnowitz rationality regression of daily revenue on its
    seasonal-naive (lag-7) forecast: an unbiased, efficient forecast
    has (intercept, slope) = (0, 1). The joint Wald F compares the
    exact integer restricted SSR sum((y-f)^2) to the unrestricted OLS
    SSR (Syy - Sxy^2/Sxx)/n from n-scaled central moments; p uses the
    exact chi2_2 tail exp(-F) (2F -> chi2_2 at n ~ 2400, documented
    approximation). slope < 1 = the forecast over-reacts."""
    daily = _daily_dollars(spark, sf_dir)
    wd = Window.orderBy("d")
    s = daily.select(
        F.col("v").alias("y"), F.lag("v", 7).over(wd).alias("f")
    )
    yv = F.col("y").cast(_DEC)
    fv = F.col("f").cast(_DEC)
    m = s.where(F.col("f").isNotNull()).agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("y").cast(_DEC).alias("sy"),
        F.sum("f").cast(_DEC).alias("sf"),
        F.sum(yv * F.col("y")).cast(_DEC).alias("syy"),
        F.sum(fv * F.col("f")).cast(_DEC).alias("sff"),
        F.sum(yv * F.col("f")).cast(_DEC).alias("syf"),
        F.sum((yv - fv) * (F.col("y") - F.col("f"))).cast(_DEC).alias(
            "ssr_r"
        ),
    )
    st = m.select(
        F.col("n").cast("bigint").alias("n_eff"),
        (
            (F.col("n") * F.col("syf") - F.col("sy") * F.col("sf")).cast(
                "double"
            )
            / (F.col("n") * F.col("sff") - F.col("sf") * F.col("sf")).cast(
                "double"
            )
        ).alias("b"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("cyy"),
        (F.col("n") * F.col("syf") - F.col("sy") * F.col("sf"))
        .cast("double")
        .alias("cxy"),
        (F.col("n") * F.col("sff") - F.col("sf") * F.col("sf"))
        .cast("double")
        .alias("cxx"),
        F.col("sy").cast("double").alias("syd"),
        F.col("sf").cast("double").alias("sfd"),
        F.col("ssr_r").cast("double").alias("ssr_r"),
        F.col("n").cast("double").alias("nd"),
    )
    ssr_u = (
        F.col("cyy") - F.col("cxy") * F.col("cxy") / F.col("cxx")
    ) / F.col("nd")
    fin = st.select(
        "n_eff",
        ((F.col("syd") - F.col("b") * F.col("sfd")) / F.col("nd")).alias(
            "a"
        ),
        "b",
        (
            F.col("cxy") * F.col("cxy") / (F.col("cxx") * F.col("cyy"))
        ).alias("r2"),
        (
            ((F.col("ssr_r") - ssr_u) / 2.0)
            / (ssr_u / (F.col("nd") - 2.0))
        ).alias("fstat"),
    )
    return fin.select(
        "n_eff",
        F.round(F.col("a"), 2).alias("intercept"),
        F.round(F.col("b"), 6).alias("slope"),
        F.round(F.col("r2"), 6).alias("r2"),
        F.round(F.col("fstat"), 4).alias("f_joint"),
        F.round(F.exp(-F.greatest(F.col("fstat"), F.lit(0.0))), 6).alias(
            "p_chi2"
        ),
    )
