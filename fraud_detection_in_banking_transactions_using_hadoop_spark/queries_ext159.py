"""Extension batch 159 (round 6): fractal / long-memory diagnostics of
the daily revenue series -- detrended fluctuation analysis (the DFA
alpha exponent: the modern, trend-robust complement to
hurst_exponent_rs' classic R/S estimate), the Higuchi fractal
dimension (curve-length scaling, the time-domain roughness measure),
and the Bartels rank von Neumann test (the rank-based, outlier-robust
cousin of von_neumann_ratio's numeric successive-difference test).

Cross-engine discipline:
- DFA: the profile y_t = N*cumsum(v) - t*S is EXACT integers (daily
  dollars, HUGEINT/DECIMAL(38,0)); per-segment OLS detrending runs in
  DOUBLE over exact integer segment moments with IDENTICAL expression
  text both engines, and each segment's squared fluctuation is
  e3-quantized to BIGINT before the cross-segment sum (float-sum-order
  rule). The 4 scales pivot into ONE row so the log-log slope is an
  explicit order-free expression (coefficients (-1.5,-0.5,0.5,1.5)/
  (5 ln 2) from the symmetric ln-spaced design).
- Higuchi: per-(k,m) curve lengths fold exact |diff| integers; each
  L(m,k) is e6-quantized before the over-m average; the ln k design
  points enter as shared Python float literals.
- Bartels: ranks are the EXACT permutation from the (v, d) total
  order (tie-broken by date, so the untied null variance applies);
  NM and the variance are pure integer arithmetic, divided once; the
  p-value goes through the shared A&S 7.1.26 erf.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import (
    _SQRT2,
    _erf_sql,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_SCALES = (8, 16, 32, 64)
_LN2 = 0.6931471805599453
# symmetric ln2-spaced design: (x_i - xbar) / sum (x_i - xbar)^2
_DFA_C = tuple(c / (5.0 * _LN2) for c in (-1.5, -0.5, 0.5, 1.5))
_KMAX = 4
_LNK = tuple(math.log(k) for k in range(1, _KMAX + 1))
_LNK_BAR = sum(_LNK) / _KMAX
_LNK_SXX = sum((x - _LNK_BAR) ** 2 for x in _LNK)
_HIG_C = tuple((x - _LNK_BAR) / _LNK_SXX for x in _LNK)

# per-segment residual SS after linear detrend, shared double text over
# exact integer segment moments (w, sy, suy, syy, su, suu)
_SSRES = (
    "((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
    " / CAST(w AS DOUBLE))"
    " - (CAST(suy AS DOUBLE) - CAST(su AS DOUBLE) * CAST(sy AS DOUBLE)"
    " / CAST(w AS DOUBLE))"
    " * (CAST(suy AS DOUBLE) - CAST(su AS DOUBLE) * CAST(sy AS DOUBLE)"
    " / CAST(w AS DOUBLE))"
    " / (CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)"
    " / CAST(w AS DOUBLE)))"
)
# squared fluctuation per segment, back in (daily-dollar)^2 units
_F2SEG = f"({_SSRES} / CAST(w AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"


@register(
    "dfa_fluctuation",
    f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) // 100 AS BIGINT) AS v
      FROM orders GROUP BY o_orderdate),
    s AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
             CAST(sum(v) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS HUGEINT) AS cum
      FROM daily),
    tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, CAST(max(cum) AS HUGEINT) AS sm
      FROM s),
    prof AS (
      SELECT s.rn, s.cum * t.n - s.rn * t.sm AS y, t.n
      FROM s CROSS JOIN tot t),
    segs AS (
      SELECT w, (rn - 1) // w AS g, n,
             CAST(w AS HUGEINT) * (w + 1) // 2 AS su,
             CAST(w AS HUGEINT) * (w + 1) * (2 * w + 1) // 6 AS suu,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum((rn - ((rn - 1) // w) * w) * y) AS HUGEINT) AS suy,
             CAST(sum(y * y) AS HUGEINT) AS syy
      FROM prof, (SELECT unnest([{', '.join(str(w) for w in _SCALES)}]) AS w)
      WHERE (rn - 1) // w < CAST(n AS BIGINT) // w
      GROUP BY w, (rn - 1) // w, n),
    terms AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n_seg,
             CAST(sum(CAST(floor({_F2SEG} * 1e3 + 0.5) AS BIGINT))
                  AS HUGEINT) AS t_e3
      FROM segs GROUP BY w),
    piv AS (
      SELECT max(CASE WHEN w = {_SCALES[0]} THEN CAST(t_e3 AS DOUBLE)
                      / 1e3 / n_seg END) AS f2_8,
             max(CASE WHEN w = {_SCALES[1]} THEN CAST(t_e3 AS DOUBLE)
                      / 1e3 / n_seg END) AS f2_16,
             max(CASE WHEN w = {_SCALES[2]} THEN CAST(t_e3 AS DOUBLE)
                      / 1e3 / n_seg END) AS f2_32,
             max(CASE WHEN w = {_SCALES[3]} THEN CAST(t_e3 AS DOUBLE)
                      / 1e3 / n_seg END) AS f2_64
      FROM terms)
    SELECT CAST(t.n AS BIGINT) AS n_days,
           round(sqrt(p.f2_8), 3) AS f_8,
           round(sqrt(p.f2_16), 3) AS f_16,
           round(sqrt(p.f2_32), 3) AS f_32,
           round(sqrt(p.f2_64), 3) AS f_64,
           round(0.5 * ({_DFA_C[0]!r} * ln(p.f2_8)
                        + {_DFA_C[1]!r} * ln(p.f2_16)
                        + {_DFA_C[2]!r} * ln(p.f2_32)
                        + {_DFA_C[3]!r} * ln(p.f2_64)), 6) AS alpha
    FROM piv p CROSS JOIN tot t
    """,
    tags=("timeseries", "fractal", "longmemory"),
)
def q_dfa_fluctuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended fluctuation analysis of daily revenue: integrate the
    mean-removed series into the profile y_t = N*cumsum - t*S (exact
    integers), split into full segments of w in {8,16,32,64} days,
    linearly detrend each segment (closed-form OLS over exact segment
    moments), and regress log F(w) on log w. alpha ~ 0.5 = white
    noise, ~1 = 1/f, > 1 = nonstationary trending -- the trend-robust
    long-memory reading next to hurst_exponent_rs. Each segment's
    squared fluctuation is e3-quantized before the cross-segment sum;
    the slope is an explicit 4-term expression, no float group-sum."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
            " AS BIGINT) DIV 100 AS BIGINT)"
        ).alias("v")
    )
    wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    s = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("rn"),
        F.sum("v").over(wd).cast(_DEC).alias("cum"),
    )
    tot = s.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.max("cum").cast(_DEC).alias("sm"),
    )
    prof = s.crossJoin(F.broadcast(tot)).select(
        "rn",
        (F.col("cum") * F.col("n") - F.col("rn") * F.col("sm")).alias("y"),
        "n",
    )
    scales = F.explode(F.array(*[F.lit(w) for w in _SCALES])).alias("w")
    u = F.col("rn") - F.floor((F.col("rn") - 1) / F.col("w")) * F.col("w")
    segs = (
        prof.select("rn", "y", "n", scales)
        .where(
            F.floor((F.col("rn") - 1) / F.col("w"))
            < F.floor(F.col("n").cast("bigint") / F.col("w"))
        )
        .groupBy(
            "w", F.floor((F.col("rn") - 1) / F.col("w")).alias("g"), "n"
        )
        .agg(
            F.sum("y").cast(_DEC).alias("sy"),
            F.sum(u * F.col("y")).cast(_DEC).alias("suy"),
            F.sum(F.col("y") * F.col("y")).cast(_DEC).alias("syy"),
        )
        .select(
            "w",
            "n",
            "sy",
            "suy",
            "syy",
            F.expr("CAST(w * (w + 1) DIV 2 AS BIGINT)").alias("su"),
            F.expr(
                "CAST(w * (w + 1) * (2 * w + 1) DIV 6 AS BIGINT)"
            ).alias("suu"),
        )
    )
    terms = segs.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seg"),
        F.sum(F.expr(f"CAST(floor({_F2SEG} * 1e3 + 0.5) AS BIGINT)"))
        .cast(_DEC)
        .alias("t_e3"),
    )
    f2 = F.col("t_e3").cast("double") / 1e3 / F.col("n_seg")
    piv = terms.agg(
        *[
            F.max(F.when(F.col("w") == w, f2)).alias(f"f2_{w}")
            for w in _SCALES
        ]
    )
    alpha = 0.5 * sum(
        F.lit(c) * F.log(F.col(f"f2_{w}"))
        for c, w in zip(_DFA_C, _SCALES)
    )
    return piv.crossJoin(F.broadcast(tot)).select(
        F.col("n").cast("bigint").alias("n_days"),
        *[
            F.round(F.sqrt(F.col(f"f2_{w}")), 3).alias(f"f_{w}")
            for w in _SCALES
        ],
        F.round(alpha, 6).alias("alpha"),
    )


@register(
    "higuchi_fractal_dim",
    f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) // 100 AS BIGINT) AS v
      FROM orders GROUP BY o_orderdate),
    s AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn, v
      FROM daily),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
    pairs AS (
      SELECT k.k, ((a.rn - 1) % k.k) + 1 AS m,
             CAST(abs(a.v - b.v) AS HUGEINT) AS ad
      FROM s a
      CROSS JOIN (SELECT unnest(range(1, {_KMAX + 1})) AS k) k
      JOIN s b ON b.rn = a.rn - k.k),
    lmk AS (
      SELECT p.k, p.m,
             CAST(floor(CAST(sum(p.ad) AS DOUBLE) * (t.n - 1)
                  / (count(*) * CAST(p.k AS DOUBLE) * p.k) * 1e6 + 0.5)
                  AS BIGINT) AS l_e6
      FROM pairs p CROSS JOIN tot t
      GROUP BY p.k, p.m, t.n),
    lk AS (
      SELECT k, CAST(sum(l_e6) AS HUGEINT) AS sl_e6,
             CAST(count(*) AS BIGINT) AS nm
      FROM lmk GROUP BY k),
    piv AS (
      SELECT max(CASE WHEN k = 1 THEN CAST(sl_e6 AS DOUBLE) / 1e6 / nm END)
               AS l_1,
             max(CASE WHEN k = 2 THEN CAST(sl_e6 AS DOUBLE) / 1e6 / nm END)
               AS l_2,
             max(CASE WHEN k = 3 THEN CAST(sl_e6 AS DOUBLE) / 1e6 / nm END)
               AS l_3,
             max(CASE WHEN k = 4 THEN CAST(sl_e6 AS DOUBLE) / 1e6 / nm END)
               AS l_4
      FROM lk)
    SELECT t.n AS n_days,
           round(p.l_1, 2) AS l_1, round(p.l_2, 2) AS l_2,
           round(p.l_3, 2) AS l_3, round(p.l_4, 2) AS l_4,
           round(-({_HIG_C[0]!r} * ln(p.l_1) + {_HIG_C[1]!r} * ln(p.l_2)
                  + {_HIG_C[2]!r} * ln(p.l_3) + {_HIG_C[3]!r} * ln(p.l_4)),
                 6) AS higuchi_fd
    FROM piv p CROSS JOIN tot t
    """,
    tags=("timeseries", "fractal", "roughness"),
)
def q_higuchi_fractal_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higuchi fractal dimension of daily revenue: for each lag k and
    phase m, the curve length L(m,k) = sum |x_{j} - x_{j-k}| * (N-1) /
    (cnt * k^2) (exact integer |diff| folds, e6-quantized before the
    over-m average), then FD = -slope of ln L(k) on ln k. FD -> 1 for
    smooth curves, -> 2 for space-filling noise; the roughness reading
    that complements dfa_fluctuation's long-memory alpha. The ln k
    design points and their centered weights are shared Python float
    literals, and the slope is an explicit 4-term expression."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
            " AS BIGINT) DIV 100 AS BIGINT)"
        ).alias("v")
    )
    s = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("rn"),
        "v",
    )
    tot = s.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = s.select(
        "rn",
        "v",
        F.explode(F.array(*[F.lit(k) for k in range(1, _KMAX + 1)])).alias(
            "k"
        ),
    ).alias("a")
    b = s.alias("b")
    pairs = a.join(
        b, F.col("b.rn") == F.col("a.rn") - F.col("k")
    ).select(
        "k",
        (((F.col("a.rn") - 1) % F.col("k")) + 1).alias("m"),
        F.abs(F.col("a.v") - F.col("b.v")).cast(_DEC).alias("ad"),
    )
    lmk = (
        pairs.crossJoin(F.broadcast(tot))
        .groupBy("k", "m", "n")
        .agg(
            F.floor(
                F.sum("ad").cast("double")
                * (F.col("n") - 1)
                / (
                    F.count(F.lit(1))
                    * F.col("k").cast("double")
                    * F.col("k")
                )
                * 1e6
                + 0.5
            )
            .cast("bigint")
            .alias("l_e6")
        )
    )
    lk = lmk.groupBy("k").agg(
        F.sum("l_e6").cast(_DEC).alias("sl_e6"),
        F.count(F.lit(1)).cast("bigint").alias("nm"),
    )
    lkd = F.col("sl_e6").cast("double") / 1e6 / F.col("nm")
    piv = lk.agg(
        *[
            F.max(F.when(F.col("k") == k, lkd)).alias(f"l_{k}")
            for k in range(1, _KMAX + 1)
        ]
    )
    fd = -sum(
        F.lit(c) * F.log(F.col(f"l_{k}"))
        for c, k in zip(_HIG_C, range(1, _KMAX + 1))
    )
    return piv.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_days"),
        *[
            F.round(F.col(f"l_{k}"), 2).alias(f"l_{k}")
            for k in range(1, _KMAX + 1)
        ],
        F.round(fd, 6).alias("higuchi_fd"),
    )


@register(
    "bartels_rank_vn",
    f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_orderdate),
    r AS (
      SELECT d, CAST(row_number() OVER (ORDER BY cents, d) AS BIGINT) AS rk
      FROM daily),
    sq AS (
      SELECT CAST(sum((rk - nxt) * (rk - nxt)) AS HUGEINT) AS nm,
             CAST(count(*) AS BIGINT) + 1 AS n
      FROM (
        SELECT rk, lead(rk) OVER (ORDER BY d) AS nxt FROM r) x
      WHERE nxt IS NOT NULL),
    st AS (
      SELECT n, nm,
             12.0 * CAST(nm AS DOUBLE)
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1.0)) AS rvn,
             CAST(4 * (n - 2) * (5 * CAST(n AS HUGEINT) * n - 2 * n - 9)
                  AS DOUBLE)
               / CAST(5 * CAST(n AS HUGEINT) * (n + 1) * (n - 1) * (n - 1)
                      AS DOUBLE) AS vr
      FROM sq)
    SELECT n AS n_days,
           round(rvn, 6) AS rvn,
           round((rvn - 2.0) / sqrt(vr), 4) AS z,
           round(1.0 - {_erf_sql(f"(abs((rvn - 2.0) / sqrt(vr)) / {_SQRT2!r})")},
                 6) AS p_two_sided,
           abs((rvn - 2.0) / sqrt(vr)) > 1.959963984540054 AS reject_5pct
    FROM st
    """,
    tags=("timeseries", "randomness", "ranktest"),
)
def q_bartels_rank_vn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels rank von Neumann ratio: replace daily revenues by their
    ranks (the (cents, d) total order makes the permutation exact --
    the untied null variance applies) and form RVN = 12 * sum (r_t -
    r_{t+1})^2 / (n(n^2-1)). E[RVN] = 2 under randomness; RVN < 2
    signals positive serial dependence, > 2 rapid alternation -- the
    outlier-robust cousin of von_neumann_ratio. NM and the variance
    4(n-2)(5n^2-2n-9) / (5n(n+1)(n-1)^2) are exact integers divided
    once; the two-sided p goes through the shared A&S erf."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    r = daily.select(
        "d",
        F.row_number()
        .over(Window.orderBy("cents", "d"))
        .cast("bigint")
        .alias("rk"),
    )
    x = r.select("rk", F.lead("rk").over(Window.orderBy("d")).alias("nxt"))
    sq = x.where(F.col("nxt").isNotNull()).agg(
        F.sum((F.col("rk") - F.col("nxt")) * (F.col("rk") - F.col("nxt")))
        .cast(_DEC)
        .alias("nm"),
        (F.count(F.lit(1)) + 1).cast("bigint").alias("n"),
    )
    nd = F.col("n").cast("double")
    rvn = 12.0 * F.col("nm").cast("double") / (nd * (nd * F.col("n") - 1.0))
    vr = (
        4 * (F.col("n") - 2) * (5 * F.col("n").cast(_DEC) * F.col("n") - 2 * F.col("n") - 9)
    ).cast("double") / (
        5 * F.col("n").cast(_DEC) * (F.col("n") + 1) * (F.col("n") - 1) * (F.col("n") - 1)
    ).cast("double")
    z = (rvn - 2.0) / F.sqrt(vr)
    st = sq.select(
        F.col("n").alias("n_days"),
        F.round(rvn, 6).alias("rvn"),
        F.round(z, 4).alias("z"),
        F.round(
            1.0
            - F.expr(
                _erf_sql(
                    "(abs((12.0 * CAST(nm AS DOUBLE) / (CAST(n AS DOUBLE)"
                    " * (CAST(n AS DOUBLE) * n - 1.0)) - 2.0)"
                    " / sqrt(CAST(4 * (n - 2) * (5 * CAST(n AS"
                    f" {_DEC}) * n - 2 * n - 9) AS DOUBLE)"
                    f" / CAST(5 * CAST(n AS {_DEC}) * (n + 1) * (n - 1)"
                    f" * (n - 1) AS DOUBLE)))) / {_SQRT2!r}"
                )
            ),
            6,
        ).alias("p_two_sided"),
        (F.abs(z) > 1.959963984540054).alias("reject_5pct"),
    )
    return st
