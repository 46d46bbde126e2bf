"""Extension batch 192 (round 7): cross-spectral, band-pass,
rare-event-control, and exact-LAD operators.

- welch_coherence_weekly: magnitude-squared coherence between daily
  REVENUE and daily ORDER COUNT at the weekly frequency, Welch-style:
  the series splits into 8 equal segments, each segment's cos/sin
  projections quantize to integers (the goertzel recipe), and
  coherence = |sum cross|^2 / (sum Pxx * sum Pyy) averages over
  segments -- the single-periodogram version is identically 1, which
  is exactly why the segmentation matters and is asserted in tests.
- bk_bandpass_cycle: the Baxter-King band-pass filter (periods 20-40
  days, K = 20) with weights computed in Python, sum-zero corrected,
  e12-quantized to INTEGER literals shared by both engines (the
  Henderson discipline); the cycle is one integer dot product per day
  via an offset equi-join, and the cycle-variance share closes over
  exact integers.
- g_chart_rare_events: the geometric (g) control chart for counts of
  events BETWEEN consecutive 'error' events -- event_id is ts-monotone
  (TESTDATA fact), so the gap counts are exact id differences; UCL =
  g + 3*sqrt(g*(g+1)) on the mean gap.
- lad_median_regression: EXACT least-absolute-deviations (median)
  regression of monthly revenue on time, by candidate-slope
  enumeration over all month pairs (the LAD cousin of theil_sen_slope):
  for slope dy/dx the scaled residuals r_k = y_k*dx - dy*t_k are
  INTEGERS, the optimal intercept is their lower median (an order
  statistic), and the objective sum|r - med| is exact -- the argmin
  ordering divides two exact integers once (identical IEEE double both
  engines) with a full integer tiebreak.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import _PI
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_N_SEG = 8
_BK_K = 20
_BK_PLO, _BK_PHI = 20.0, 40.0

_DAILY2_SQL = """
    daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY o_orderdate)
"""


def _daily2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
    )


def _bk_weights() -> list[int]:
    """Baxter-King band-pass weights for periods [20, 40] days,
    truncation K=20, sum-zero corrected, e12-quantized to ints --
    the single source of truth for BOTH engines."""
    w1, w2 = 2 * math.pi / _BK_PHI, 2 * math.pi / _BK_PLO
    raw = [(w2 - w1) / math.pi] + [
        (math.sin(j * w2) - math.sin(j * w1)) / (math.pi * j)
        for j in range(1, _BK_K + 1)
    ]
    theta = (raw[0] + 2 * sum(raw[1:])) / (2 * _BK_K + 1)
    adj = [b - theta for b in raw]
    full = [adj[abs(j)] for j in range(-_BK_K, _BK_K + 1)]
    q = [int(round(1e12 * b)) for b in full]
    # re-zero the quantization drift on the center tap so the integer
    # weights sum EXACTLY to zero (a constant input maps to 0)
    q[_BK_K] -= sum(q)
    return q


_BKW = _bk_weights()
_BKW_ROWS = ", ".join(
    f"({off}, {w})" for off, w in zip(range(-_BK_K, _BK_K + 1), _BKW)
)


@register(
    "welch_coherence_weekly",
    f"""
    WITH {_DAILY2_SQL},
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    sp AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t,
             cents, cnt
      FROM daily),
    seg AS (
      SELECT ((t - 1) * {_N_SEG}) // tt.n AS s, t, cents, cnt
      FROM sp CROSS JOIN tot tt),
    proj AS (
      SELECT s,
             CAST(sum(CAST(round(1.0e-4 * cents * cos(2 * {_PI!r} * t / 7.0),
                      0) AS BIGINT)) AS BIGINT) AS ax,
             CAST(sum(CAST(round(1.0e-4 * cents * sin(2 * {_PI!r} * t / 7.0),
                      0) AS BIGINT)) AS BIGINT) AS bx,
             CAST(sum(CAST(round(10.0 * cnt * cos(2 * {_PI!r} * t / 7.0),
                      0) AS BIGINT)) AS BIGINT) AS ay,
             CAST(sum(CAST(round(10.0 * cnt * sin(2 * {_PI!r} * t / 7.0),
                      0) AS BIGINT)) AS BIGINT) AS by
      FROM seg GROUP BY s),
    acc AS (
      SELECT CAST(count(*) AS BIGINT) AS n_seg,
             CAST(sum(CAST(ax AS HUGEINT) * ay + CAST(bx AS HUGEINT) * by)
                  AS HUGEINT) AS cxy,
             CAST(sum(CAST(bx AS HUGEINT) * ay - CAST(ax AS HUGEINT) * by)
                  AS HUGEINT) AS qxy,
             CAST(sum(CAST(ax AS HUGEINT) * ax + CAST(bx AS HUGEINT) * bx)
                  AS HUGEINT) AS pxx,
             CAST(sum(CAST(ay AS HUGEINT) * ay + CAST(by AS HUGEINT) * by)
                  AS HUGEINT) AS pyy
      FROM proj)
    SELECT n_seg, CAST(7 AS INTEGER) AS period_days,
           round((CAST(cxy AS DOUBLE) * CAST(cxy AS DOUBLE)
                  + CAST(qxy AS DOUBLE) * CAST(qxy AS DOUBLE))
                 / (CAST(pxx AS DOUBLE) * CAST(pyy AS DOUBLE)), 6)
             AS coherence_sq,
           round(atan2(CAST(qxy AS DOUBLE), CAST(cxy AS DOUBLE)), 4) + 0.0
             AS phase_rad
    FROM acc
    """,
    tags=("timeseries", "spectral", "cross"),
)
def q_welch_coherence_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch magnitude-squared coherence between daily revenue and
    daily order count at the weekly frequency: 8 equal segments, each
    segment's cos/sin projections integer-quantized (goertzel recipe),
    coherence^2 = |sum_s cross|^2 / (sum Pxx * sum Pyy). A single
    unsegmented periodogram has coherence identically 1 -- the
    segment averaging is what makes the statistic informative (law
    pinned in tests). Phase ~ 0 means the two weekly cycles move
    together."""
    daily = _daily2(spark, sf_dir)
    tot = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    sp = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t"),
        "cents",
        "cnt",
    )
    seg = sp.crossJoin(F.broadcast(tot)).select(
        F.expr(f"((t - 1) * {_N_SEG}) DIV n").alias("s"), "t", "cents", "cnt"
    )
    proj = seg.groupBy("s").agg(
        F.expr(
            f"CAST(sum(CAST(round(1.0e-4 * cents * cos(2 * {_PI!r} * t / 7.0),"
            f" 0) AS BIGINT)) AS BIGINT)"
        ).alias("ax"),
        F.expr(
            f"CAST(sum(CAST(round(1.0e-4 * cents * sin(2 * {_PI!r} * t / 7.0),"
            f" 0) AS BIGINT)) AS BIGINT)"
        ).alias("bx"),
        F.expr(
            f"CAST(sum(CAST(round(10.0 * cnt * cos(2 * {_PI!r} * t / 7.0),"
            f" 0) AS BIGINT)) AS BIGINT)"
        ).alias("ay"),
        F.expr(
            f"CAST(sum(CAST(round(10.0 * cnt * sin(2 * {_PI!r} * t / 7.0),"
            f" 0) AS BIGINT)) AS BIGINT)"
        ).alias("by"),
    )
    acc = proj.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seg"),
        F.sum(
            F.col("ax").cast(_DEC) * F.col("ay").cast(_DEC)
            + F.col("bx").cast(_DEC) * F.col("by").cast(_DEC)
        )
        .cast(_DEC)
        .alias("cxy"),
        F.sum(
            F.col("bx").cast(_DEC) * F.col("ay").cast(_DEC)
            - F.col("ax").cast(_DEC) * F.col("by").cast(_DEC)
        )
        .cast(_DEC)
        .alias("qxy"),
        F.sum(
            F.col("ax").cast(_DEC) * F.col("ax").cast(_DEC)
            + F.col("bx").cast(_DEC) * F.col("bx").cast(_DEC)
        )
        .cast(_DEC)
        .alias("pxx"),
        F.sum(
            F.col("ay").cast(_DEC) * F.col("ay").cast(_DEC)
            + F.col("by").cast(_DEC) * F.col("by").cast(_DEC)
        )
        .cast(_DEC)
        .alias("pyy"),
    )
    return acc.select(
        "n_seg",
        F.lit(7).cast("int").alias("period_days"),
        F.round(
            (
                F.col("cxy").cast("double") * F.col("cxy").cast("double")
                + F.col("qxy").cast("double") * F.col("qxy").cast("double")
            )
            / (F.col("pxx").cast("double") * F.col("pyy").cast("double")),
            6,
        ).alias("coherence_sq"),
        (
            F.round(
                F.atan2(F.col("qxy").cast("double"), F.col("cxy").cast("double")),
                4,
            )
            + F.lit(0.0)
        ).alias("phase_rad"),
    )


@register(
    "bk_bandpass_cycle",
    f"""
    WITH {_DAILY2_SQL},
    sp AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, cents
      FROM daily),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sp),
    wt AS (SELECT * FROM (VALUES {_BKW_ROWS}) v(off, w)),
    cyc AS (
      SELECT a.t,
             CAST(sum(CAST(b.cents AS HUGEINT) * wt.w) AS HUGEINT) AS c12
      FROM sp a CROSS JOIN tot
      JOIN wt ON TRUE
      JOIN sp b ON b.t = a.t + wt.off
      WHERE a.t > {_BK_K} AND a.t <= tot.n - {_BK_K}
      GROUP BY a.t
      HAVING count(*) = {2 * _BK_K + 1}),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(c12 // 1000000) AS HUGEINT) AS sc,
             CAST(sum((c12 // 1000000) * (c12 // 1000000)) AS HUGEINT)
               AS sc2,
             CAST(max(abs(c12)) AS HUGEINT) AS mx
      FROM cyc),
    ymom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS HUGEINT) AS sy,
             CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS sy2
      FROM sp)
    SELECT m.m AS n_days_scored,
           round(CAST(m.mx AS DOUBLE) / 1e12 / 100.0, 2)
             AS peak_cycle_dollars,
           round(sqrt((CAST(m.sc2 AS DOUBLE) * m.m
                       - CAST(m.sc AS DOUBLE) * CAST(m.sc AS DOUBLE))
                      / (CAST(m.m AS DOUBLE) * m.m))
                 / 1e6 / 100.0, 2) AS cycle_sd_dollars,
           round(sqrt((CAST(y.sy2 AS DOUBLE) * y.n
                       - CAST(y.sy AS DOUBLE) * CAST(y.sy AS DOUBLE))
                      / (CAST(y.n AS DOUBLE) * y.n)) / 100.0, 2)
             AS series_sd_dollars
    FROM mom m CROSS JOIN ymom y
    """,
    tags=("timeseries", "filter", "band-pass"),
)
def q_bk_bandpass_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baxter-King band-pass cycle (periods 20-40 days, K = 20) of
    daily revenue: the 41 filter weights are computed once in Python,
    sum-zero corrected, e12-quantized to INTEGER literals (the
    Henderson discipline -- the center tap absorbs the quantization
    drift so a constant series maps EXACTLY to zero, law pinned in
    tests), and each interior day's cycle value is one integer dot
    product via the offset equi-join. Emits the peak cycle amplitude
    and the cycle-vs-series volatility split."""
    daily = _daily2(spark, sf_dir)
    sp = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t"),
        "cents",
    )
    tot = sp.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wt = spark.createDataFrame(
        list(zip(range(-_BK_K, _BK_K + 1), _BKW)), "off int, w long"
    )
    a = sp.select(F.col("t").alias("at"))
    shifted = (
        a.crossJoin(F.broadcast(wt))
        .crossJoin(F.broadcast(tot))
        .where(
            (F.col("at") > _BK_K) & (F.col("at") <= F.col("n") - _BK_K)
        )
        .select("at", (F.col("at") + F.col("off")).alias("t"), "w")
    )
    cyc = (
        shifted.join(sp, "t")
        .groupBy("at")
        .agg(
            F.sum(F.col("cents").cast(_DEC) * F.col("w").cast(_DEC))
            .cast(_DEC)
            .alias("c12"),
            F.count(F.lit(1)).alias("ntap"),
        )
        .where(F.col("ntap") == 2 * _BK_K + 1)
    )
    mom = cyc.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.expr("c12 DIV 1000000")).cast(_DEC).alias("sc"),
        F.sum(
            F.expr(
                "CAST(c12 DIV 1000000 AS decimal(38,0))"
                " * CAST(c12 DIV 1000000 AS decimal(38,0))"
            )
        )
        .cast(_DEC)
        .alias("sc2"),
        F.max(F.abs(F.col("c12"))).cast(_DEC).alias("mx"),
    )
    ymom = sp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast(_DEC).alias("sy"),
        F.sum(F.col("cents").cast(_DEC) * F.col("cents").cast(_DEC))
        .cast(_DEC)
        .alias("sy2"),
    )
    return mom.crossJoin(F.broadcast(ymom)).select(
        F.col("m").alias("n_days_scored"),
        F.round(F.col("mx").cast("double") / 1e12 / 100.0, 2).alias(
            "peak_cycle_dollars"
        ),
        F.round(
            F.sqrt(
                (
                    F.col("sc2").cast("double") * F.col("m")
                    - F.col("sc").cast("double") * F.col("sc").cast("double")
                )
                / (F.col("m").cast("double") * F.col("m"))
            )
            / 1e6
            / 100.0,
            2,
        ).alias("cycle_sd_dollars"),
        F.round(
            F.sqrt(
                (
                    F.col("sy2").cast("double") * F.col("n")
                    - F.col("sy").cast("double") * F.col("sy").cast("double")
                )
                / (F.col("n").cast("double") * F.col("n"))
            )
            / 100.0,
            2,
        ).alias("series_sd_dollars"),
    )


@register(
    "g_chart_rare_events",
    """
    WITH err AS (
      SELECT event_id FROM events WHERE event_type = 'error'),
    gaps AS (
      SELECT event_id - lag(event_id) OVER (ORDER BY event_id) - 1 AS g
      FROM err),
    gs AS (SELECT g FROM gaps WHERE g IS NOT NULL),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(g) AS BIGINT) AS s,
             CAST(max(g) AS BIGINT) AS mx
      FROM gs)
    SELECT n + 1 AS n_errors,
           round(CAST(s AS DOUBLE) / n, 6) AS mean_gap_events,
           round(CAST(s AS DOUBLE) / n
                 + 3.0 * sqrt((CAST(s AS DOUBLE) / n)
                              * (CAST(s AS DOUBLE) / n + 1.0)), 4) AS ucl,
           mx AS max_gap_events,
           (SELECT CAST(count(*) AS BIGINT) FROM gs, agg
             WHERE CAST(g AS DOUBLE) > CAST(s AS DOUBLE) / n
                   + 3.0 * sqrt((CAST(s AS DOUBLE) / n)
                                * (CAST(s AS DOUBLE) / n + 1.0)))
             AS n_violations
    FROM agg
    """,
    tags=("quality-control", "rare-events"),
)
def q_g_chart_rare_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric (g) control chart on counts of events BETWEEN
    consecutive 'error' events: event_id is ts-monotone (TESTDATA
    fact), so the between-counts are exact id differences. Center line
    = mean gap; UCL = g + 3*sqrt(g*(g+1)) (the geometric-distribution
    3-sigma limit); a violation = an unusually LONG error-free run --
    on a g-chart that is the signal that the error process changed."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.rank import (
        with_global_rank,
    )

    err = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select("event_id")
    )
    # previous error id = EXCLUSIVE running max of event_id under the
    # event_id order -- the rank operator's prefix_max_excl, so no
    # single-partition window ever sees the row-linear error set
    ranked = with_global_rank(
        err,
        "event_id",
        [F.col("event_id")],
        prefix_max_excl={"prev": "event_id"},
    )
    gaps = ranked.select(
        (F.col("event_id") - F.col("prev") - 1).alias("g")
    ).where(F.col("g").isNotNull())
    agg = gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("s"),
        F.max("g").cast("bigint").alias("mx"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    ucl = mean + 3.0 * F.sqrt(mean * (mean + 1.0))
    viol = (
        gaps.crossJoin(F.broadcast(agg))
        .where(
            F.col("g").cast("double")
            > F.col("s").cast("double") / F.col("n")
            + 3.0
            * F.sqrt(
                (F.col("s").cast("double") / F.col("n"))
                * (F.col("s").cast("double") / F.col("n") + 1.0)
            )
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
    )
    return agg.crossJoin(F.broadcast(viol)).select(
        (F.col("n") + 1).alias("n_errors"),
        F.round(mean, 6).alias("mean_gap_events"),
        F.round(ucl, 4).alias("ucl"),
        F.col("mx").alias("max_gap_events"),
        "n_violations",
    )


@register(
    "lad_median_regression",
    """
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1),
    sp AS (
      SELECT CAST(row_number() OVER (ORDER BY mo) AS BIGINT) AS t, y
      FROM monthly),
    cand AS (
      SELECT a.t AS i, b.t AS j, b.y - a.y AS dy, b.t - a.t AS dx
      FROM sp a JOIN sp b ON b.t > a.t),
    resid AS (
      SELECT c.i, c.j, c.dy, c.dx, s.t,
             s.y * c.dx - c.dy * s.t AS r
      FROM cand c JOIN sp s ON TRUE),
    med AS (
      SELECT i, j, dy, dx, r,
             row_number() OVER (PARTITION BY i, j ORDER BY r, t) AS rn,
             count(*) OVER (PARTITION BY i, j) AS m
      FROM resid),
    medv AS (
      SELECT i, j, dy, dx, r AS med_r
      FROM med WHERE rn = (m + 1) // 2),
    obj AS (
      SELECT r.i, r.j, r.dy, r.dx, m.med_r,
             CAST(sum(abs(r.r - m.med_r)) AS HUGEINT) AS o
      FROM resid r JOIN medv m ON m.i = r.i AND m.j = r.j
      GROUP BY r.i, r.j, r.dy, r.dx, m.med_r),
    best AS (
      SELECT i, j, dy, dx, med_r, o
      FROM obj
      ORDER BY CAST(o AS DOUBLE) / dx, dx, i, j LIMIT 1),
    nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sp)
    SELECT n.n AS n_months,
           round(CAST(b.dy AS DOUBLE) / b.dx / 100.0, 2) + 0.0
             AS lad_slope_dollars_per_month,
           round(CAST(b.med_r AS DOUBLE) / b.dx / 100.0, 2) + 0.0
             AS lad_intercept_dollars,
           round(CAST(b.o AS DOUBLE) / b.dx / n.n / 100.0, 2)
             AS mean_abs_dev_dollars
    FROM best b CROSS JOIN nrow n
    """,
    tags=("regression", "robust", "exact-arith"),
)
def q_lad_median_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT least-absolute-deviations (median) regression of monthly
    revenue on the month index: an LAD optimum always passes through
    two data points, so enumerating all month-pair candidate slopes
    dy/dx and scoring each with INTEGER scaled residuals
    r_k = y_k*dx - dy*t_k (intercept = lower median of r, an order
    statistic; objective = sum|r - med|) finds the global optimum
    exactly. The cross-candidate argmin divides two exact integers once
    (identical IEEE double both engines) and tiebreaks on (dx, i, j).
    The robust-regression capstone next to theil_sen_slope (median of
    slopes) and siegel_repeated_medians."""
    monthly = (
        read_table(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate"))
            .cast("date")
            .alias("mo")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    sp = monthly.select(
        F.row_number().over(Window.orderBy("mo")).cast("bigint").alias("t"),
        "y",
    ).localCheckpoint(eager=True)
    a = sp.select(F.col("t").alias("i"), F.col("y").alias("yi"))
    b = sp.select(F.col("t").alias("j"), F.col("y").alias("yj"))
    cand = a.join(F.broadcast(b), F.col("j") > F.col("i")).select(
        "i",
        "j",
        (F.col("yj") - F.col("yi")).alias("dy"),
        (F.col("j") - F.col("i")).alias("dx"),
    )
    resid = cand.crossJoin(F.broadcast(sp)).select(
        "i",
        "j",
        "dy",
        "dx",
        "t",
        (F.col("y") * F.col("dx") - F.col("dy") * F.col("t")).alias("r"),
    )
    w = Window.partitionBy("i", "j")
    med = resid.select(
        "*",
        F.row_number().over(w.orderBy("r", "t")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("m"),
    )
    medv = med.where(F.col("rn") == F.expr("(m + 1) DIV 2")).select(
        "i", "j", F.col("r").alias("med_r")
    )
    obj = (
        resid.join(medv, ["i", "j"])
        .groupBy("i", "j", "dy", "dx", "med_r")
        .agg(
            F.sum(F.abs(F.col("r") - F.col("med_r")).cast(_DEC))
            .cast(_DEC)
            .alias("o")
        )
    )
    best = obj.orderBy(
        F.col("o").cast("double") / F.col("dx"), "dx", "i", "j"
    ).limit(1)
    nrow = sp.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return best.crossJoin(F.broadcast(nrow)).select(
        F.col("n").alias("n_months"),
        (
            F.round(F.col("dy").cast("double") / F.col("dx") / 100.0, 2)
            + F.lit(0.0)
        ).alias("lad_slope_dollars_per_month"),
        (
            F.round(F.col("med_r").cast("double") / F.col("dx") / 100.0, 2)
            + F.lit(0.0)
        ).alias("lad_intercept_dollars"),
        F.round(
            F.col("o").cast("double")
            / F.col("dx")
            / F.col("n")
            / 100.0,
            2,
        ).alias("mean_abs_dev_dollars"),
    )
