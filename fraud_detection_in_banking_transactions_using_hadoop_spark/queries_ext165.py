"""Extension batch 165 (round 6): spectral-shape diagnostics of the
daily revenue series -- the tau-corrected Lomb-Scargle periodogram at
the weekly/monthly/quarterly periods (the periodogram estimator that
stays unbiased under MISSING samples: on this dense grid it reduces
to the classical one, but the operator implements the general
irregular-grid form the classical DFT cannot), spectral flatness
(Wiener entropy: geometric/arithmetic mean ratio of the power
spectrum -- 1 = white noise, 0 = pure tone; the flatness reading
next to spectral_entropy_daily's Shannon view), and the Teager-Kaiser
operator energy (x_t^2 - x_{t-1} x_{t+1}: the instantaneous
amplitude-frequency energy, EXACT integers -- negative values flag
transient spikes).

Cross-engine discipline:
- Trig projections follow the goertzel_weekly_power recipe: every
  per-row cos/sin term quantizes to an integer BEFORE summation at a
  unit where libm's 1-ulp cos/sin noise (~1e-8 relative) cannot flip
  the rounding; cross-row sums are then exact.
- Lomb-Scargle's tau = atan2(S2, C2)/(2 omega) takes atan2 of two
  SHARED integers, so both engines hand the same double into the
  second projection pass.
- Teager-Kaiser is exact integer daily-dollar arithmetic end to end.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import _PI
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_PERIODS = (7, 30, 91)
_K_FLAT = 24


@register(
    "lomb_scargle_power",
    f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_orderdate),
    s AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, cents
      FROM daily),
    tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(cents) AS HUGEINT) AS sm
      FROM s),
    u AS (
      SELECT s.t, CAST(s.cents AS HUGEINT) * tt.n - tt.sm AS u, tt.n
      FROM s CROSS JOIN tot tt),
    ex AS (
      SELECT u.t, u.u, u.n, p.p, 2.0 * {_PI!r} / p.p AS w
      FROM u CROSS JOIN (SELECT unnest([{', '.join(str(p) for p in _PERIODS)}]) AS p) p),
    tau_terms AS (
      SELECT p, CAST(sum(CAST(round(sin(2.0 * w * t) * 1e6, 0) AS BIGINT))
                     AS HUGEINT) AS s2_e6,
             CAST(sum(CAST(round(cos(2.0 * w * t) * 1e6, 0) AS BIGINT))
                  AS HUGEINT) AS c2_e6,
             CAST(sum(CAST(round(1e-6 * u * u, 0) AS BIGINT)) AS HUGEINT)
               AS uu_em6
      FROM ex GROUP BY p),
    tau AS (
      SELECT p, atan2(CAST(s2_e6 AS DOUBLE), CAST(c2_e6 AS DOUBLE))
                  / (2.0 * (2.0 * {_PI!r} / p)) AS tau,
             uu_em6
      FROM tau_terms),
    proj AS (
      SELECT e.p,
             CAST(sum(CAST(round(1e-3 * e.u * cos(e.w * (e.t - ta.tau)), 0)
                  AS BIGINT)) AS HUGEINT) AS sa_em3,
             CAST(sum(CAST(round(1e-3 * e.u * sin(e.w * (e.t - ta.tau)), 0)
                  AS BIGINT)) AS HUGEINT) AS sb_em3,
             CAST(sum(CAST(round(cos(e.w * (e.t - ta.tau))
                  * cos(e.w * (e.t - ta.tau)) * 1e6, 0) AS BIGINT))
                  AS HUGEINT) AS scc_e6,
             CAST(sum(CAST(round(sin(e.w * (e.t - ta.tau))
                  * sin(e.w * (e.t - ta.tau)) * 1e6, 0) AS BIGINT))
                  AS HUGEINT) AS sss_e6,
             max(ta.tau) AS tau
      FROM ex e JOIN tau ta ON ta.p = e.p
      GROUP BY e.p),
    pw AS (
      SELECT pr.p, pr.tau,
             0.5 * (CAST(pr.sa_em3 AS DOUBLE) * CAST(pr.sa_em3 AS DOUBLE)
                    / (CAST(pr.scc_e6 AS DOUBLE) / 1e6)
                    + CAST(pr.sb_em3 AS DOUBLE) * CAST(pr.sb_em3 AS DOUBLE)
                      / (CAST(pr.sss_e6 AS DOUBLE) / 1e6))
               / (CAST(ta2.uu_em6 AS DOUBLE) / CAST(t2.n AS DOUBLE)) AS pn
      FROM proj pr
      JOIN tau ta2 ON ta2.p = pr.p
      CROSS JOIN tot t2)
    SELECT p AS period_days,
           round(tau, 4) AS tau_offset,
           round(pn, 4) AS power_norm
    FROM pw
    ORDER BY p
    """,
    tags=("timeseries", "spectral", "periodogram"),
)
def q_lomb_scargle_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized Lomb-Scargle power of daily revenue at periods 7,
    30, 91 days: center via the exact u = n*y - S fold, compute the
    phase offset tau from integer-quantized double-angle sums, then
    the tau-rotated cosine/sine projections (e-3-unit integer terms,
    goertzel recipe) normalized by the exact series variance. Values
    ~1 are noise-level; >> 1 flags a real cycle. The estimator is the
    general irregular-grid form -- delete arbitrary days and it stays
    unbiased, which the classical DFT does not."""
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
        "n",
    )
    ex = u.select(
        "t",
        "u",
        "n",
        F.explode(F.array(*[F.lit(p) for p in _PERIODS])).alias("p"),
    ).withColumn("w", 2.0 * _PI / F.col("p"))
    tau_terms = ex.groupBy("p").agg(
        F.sum(F.round(F.sin(2.0 * F.col("w") * F.col("t")) * 1e6, 0).cast("bigint"))
        .cast(_DEC)
        .alias("s2_e6"),
        F.sum(F.round(F.cos(2.0 * F.col("w") * F.col("t")) * 1e6, 0).cast("bigint"))
        .cast(_DEC)
        .alias("c2_e6"),
        F.sum(
            F.round(1e-6 * F.col("u").cast("double") * F.col("u"), 0)
            .cast("bigint")
            .cast(_DEC)
        )
        .cast(_DEC)
        .alias("uu_em6"),
    )
    tau = tau_terms.select(
        "p",
        (
            F.atan2(
                F.col("s2_e6").cast("double"), F.col("c2_e6").cast("double")
            )
            / (2.0 * (2.0 * _PI / F.col("p")))
        ).alias("tau"),
        "uu_em6",
    )
    e = ex.alias("e")
    ta = tau.select(F.col("p").alias("tp"), "tau").alias("ta")
    ang = F.col("w") * (F.col("t") - F.col("tau"))
    proj = (
        e.join(F.broadcast(ta), F.col("tp") == F.col("p"))
        .groupBy("p")
        .agg(
            F.sum(
                F.round(
                    1e-3 * F.col("u").cast("double") * F.cos(ang), 0
                ).cast("bigint")
            )
            .cast(_DEC)
            .alias("sa_em3"),
            F.sum(
                F.round(
                    1e-3 * F.col("u").cast("double") * F.sin(ang), 0
                ).cast("bigint")
            )
            .cast(_DEC)
            .alias("sb_em3"),
            F.sum(
                F.round(F.cos(ang) * F.cos(ang) * 1e6, 0).cast("bigint")
            )
            .cast(_DEC)
            .alias("scc_e6"),
            F.sum(
                F.round(F.sin(ang) * F.sin(ang) * 1e6, 0).cast("bigint")
            )
            .cast(_DEC)
            .alias("sss_e6"),
            F.max("tau").alias("tau"),
        )
    )
    ta2 = tau.select(F.col("p").alias("t2p"), F.col("uu_em6"))
    pn = (
        0.5
        * (
            F.col("sa_em3").cast("double")
            * F.col("sa_em3").cast("double")
            / (F.col("scc_e6").cast("double") / 1e6)
            + F.col("sb_em3").cast("double")
            * F.col("sb_em3").cast("double")
            / (F.col("sss_e6").cast("double") / 1e6)
        )
        / (F.col("uu_em6").cast("double") / F.col("n").cast("double"))
    )
    pw = (
        proj.join(F.broadcast(ta2), F.col("t2p") == F.col("p"))
        .crossJoin(F.broadcast(tot))
        .select("p", "tau", pn.alias("pn"))
    )
    return pw.orderBy("p").select(
        F.col("p").alias("period_days"),
        F.round(F.col("tau"), 4).alias("tau_offset"),
        F.round(F.col("pn"), 4).alias("power_norm"),
    )


@register(
    "spectral_flatness",
    f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS c
      FROM orders GROUP BY o_orderdate),
    s AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i, c,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM daily),
    proj AS (
      SELECT k.k,
             CAST(sum(CAST(round(0.001 * c * cos(2 * {_PI!r} * k.k * i / n),
                  0) AS BIGINT)) AS HUGEINT) AS ck,
             CAST(sum(CAST(round(0.001 * c * sin(2 * {_PI!r} * k.k * i / n),
                  0) AS BIGINT)) AS HUGEINT) AS sk
      FROM s CROSS JOIN (SELECT unnest(range(1, {_K_FLAT + 1})) AS k) k
      GROUP BY k.k),
    power AS (
      SELECT k, CAST(ck AS DOUBLE) * CAST(ck AS DOUBLE)
                + CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE) AS pk
      FROM proj),
    lnp AS (
      SELECT k, pk, CAST(floor(ln(pk) * 1e9 + 0.5) AS BIGINT) AS lnp_e9,
             CAST(floor(pk * 1e-6 + 0.5) AS BIGINT) AS pk_em6
      FROM power),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS kk,
             CAST(sum(lnp_e9) AS HUGEINT) AS sln,
             CAST(sum(pk_em6) AS HUGEINT) AS sp,
             CAST(max(pk_em6) AS HUGEINT) AS mx
      FROM lnp),
    peak AS (
      SELECT k AS peak_k FROM lnp
      ORDER BY pk_em6 DESC, k LIMIT 1)
    SELECT a.kk AS n_freqs,
           round(exp(CAST(a.sln AS DOUBLE) / 1e9 / a.kk)
                 / (CAST(a.sp AS DOUBLE) * 1e6 / a.kk), 6) AS flatness,
           p.peak_k,
           round(CAST(a.mx AS DOUBLE) / (CAST(a.sp AS DOUBLE) / a.kk), 4)
             AS peak_to_mean
    FROM agg a CROSS JOIN peak p
    """,
    tags=("timeseries", "spectral", "flatness"),
)
def q_spectral_flatness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wiener spectral flatness of daily revenue over the first 24
    Fourier bins (goertzel-style integer-quantized projections):
    exp(mean ln P_k) / mean P_k. 1 = perfectly flat (white noise),
    near 0 = energy concentrated in one line; reported with the peak
    bin and its peak-to-mean ratio. The geometric mean folds
    e9-quantized ln P_k integers; the arithmetic mean folds e-6-unit
    power integers -- both order-free."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("c")
    )
    s = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("i"),
        "c",
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    ex = s.select(
        "i",
        "c",
        "n",
        F.explode(F.sequence(F.lit(1), F.lit(_K_FLAT))).alias("k"),
    )
    ang = 2 * _PI * F.col("k") * F.col("i") / F.col("n")
    proj = ex.groupBy("k").agg(
        F.sum(F.round(0.001 * F.col("c") * F.cos(ang), 0).cast("bigint"))
        .cast(_DEC)
        .alias("ck"),
        F.sum(F.round(0.001 * F.col("c") * F.sin(ang), 0).cast("bigint"))
        .cast(_DEC)
        .alias("sk"),
    )
    pk = (
        F.col("ck").cast("double") * F.col("ck").cast("double")
        + F.col("sk").cast("double") * F.col("sk").cast("double")
    )
    lnp = proj.select(
        "k",
        F.floor(F.log(pk) * 1e9 + 0.5).cast("bigint").alias("lnp_e9"),
        F.floor(pk * 1e-6 + 0.5).cast("bigint").alias("pk_em6"),
    )
    agg = lnp.agg(
        F.count(F.lit(1)).cast("bigint").alias("kk"),
        F.sum("lnp_e9").cast(_DEC).alias("sln"),
        F.sum("pk_em6").cast(_DEC).alias("sp"),
        F.max("pk_em6").cast(_DEC).alias("mx"),
    )
    peak = (
        lnp.orderBy(F.col("pk_em6").desc(), "k")
        .limit(1)
        .select(F.col("k").alias("peak_k"))
    )
    return agg.crossJoin(F.broadcast(peak)).select(
        F.col("kk").alias("n_freqs"),
        F.round(
            F.exp(F.col("sln").cast("double") / 1e9 / F.col("kk"))
            / (F.col("sp").cast("double") * 1e6 / F.col("kk")),
            6,
        ).alias("flatness"),
        "peak_k",
        F.round(
            F.col("mx").cast("double")
            / (F.col("sp").cast("double") / F.col("kk")),
            4,
        ).alias("peak_to_mean"),
    )


@register(
    "teager_kaiser_energy",
    """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) // 100 AS BIGINT) AS v
      FROM orders GROUP BY o_orderdate),
    s AS (
      SELECT d, v,
             lag(v) OVER (ORDER BY d) AS prev,
             lead(v) OVER (ORDER BY d) AS nxt
      FROM daily),
    tk AS (
      SELECT d, CAST(v AS HUGEINT) * v - CAST(prev AS HUGEINT) * nxt AS e
      FROM s WHERE prev IS NOT NULL AND nxt IS NOT NULL),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(e) AS HUGEINT) AS se,
             CAST(sum(CASE WHEN e < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
             CAST(max(e) AS HUGEINT) AS mx
      FROM tk),
    top AS (
      SELECT d AS peak_day FROM tk ORDER BY e DESC, d LIMIT 1)
    SELECT a.n AS n_days,
           round(CAST(a.se AS DOUBLE) / a.n, 2) AS mean_tke_dollars2,
           round(CAST(a.n_neg AS DOUBLE) / a.n, 6) AS negative_share,
           CAST(a.mx AS BIGINT) AS max_tke_dollars2,
           t.peak_day
    FROM agg a CROSS JOIN top t
    """,
    tags=("timeseries", "energy", "transient"),
)
def q_teager_kaiser_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Teager-Kaiser operator energy of daily revenue (dollars):
    Psi(x_t) = x_t^2 - x_{t-1} x_{t+1}, the discrete instantaneous
    energy that scales with BOTH amplitude and frequency of local
    oscillation. Exact integer arithmetic end to end; the
    negative-share (Psi < 0 marks a sample sitting below the
    geometric mean of its neighbors) and the peak day flag transient
    spikes that a variance scan smears out."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
            " AS BIGINT) DIV 100 AS BIGINT)"
        ).alias("v")
    )
    wd = Window.orderBy("d")
    s = daily.select(
        "d",
        "v",
        F.lag("v").over(wd).alias("prev"),
        F.lead("v").over(wd).alias("nxt"),
    )
    tk = s.where(
        F.col("prev").isNotNull() & F.col("nxt").isNotNull()
    ).select(
        "d",
        (
            F.col("v").cast(_DEC) * F.col("v")
            - F.col("prev").cast(_DEC) * F.col("nxt")
        ).alias("e"),
    )
    agg = tk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("e").cast(_DEC).alias("se"),
        F.sum(F.when(F.col("e") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_neg"),
        F.max("e").cast(_DEC).alias("mx"),
    )
    top = tk.orderBy(F.col("e").desc(), "d").limit(1).select(
        F.col("d").alias("peak_day")
    )
    return agg.crossJoin(F.broadcast(top)).select(
        F.col("n").alias("n_days"),
        F.round(F.col("se").cast("double") / F.col("n"), 2).alias(
            "mean_tke_dollars2"
        ),
        F.round(F.col("n_neg").cast("double") / F.col("n"), 6).alias(
            "negative_share"
        ),
        F.col("mx").cast("bigint").alias("max_tke_dollars2"),
        "peak_day",
    )
