"""Extension batch 53: fixed-frequency spectral power (Goertzel) and
the Hodges-Lehmann pseudo-median.

Scale notes (the 100 TB story per query):
- goertzel_weekly_power evaluates the DFT power at three CHOSEN
  frequencies (weekly, monthly, and a non-harmonic control) instead
  of a full FFT: per-day cos/sin projections are map-side expressions
  over the bounded spine, each product term rounds to an e3 integer
  (cos/sin 1-ulp noise is ~1e-8 of the term, far under the rounding
  grain), and the power closes over exact integer sums. "Is there a
  weekly cycle" as two aggregates.
- hodges_lehmann is the rank-world location estimator: the median of
  all pairwise Walsh averages (x_i + x_j)/2, i <= j. The pair join
  runs on the calendar-bounded daily summary (|days|^2 constant in
  SF -- whitelisted bounded nested loop), sums stay integer, and the
  median comes off the distinct-sum spine. Far more robust than the
  mean, more efficient than the median.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import _PI
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_CENTS = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"
_PERIODS = (7, 30, 11)  # weekly, monthly, non-harmonic control


# ---------------------------------------------------------------------------
# Goertzel power at fixed periods.
# ---------------------------------------------------------------------------

_POWER_SQL = "\nUNION ALL\n".join(
    f"""
    SELECT CAST({p} AS INTEGER) AS period_days,
           CAST(count(*) AS BIGINT) AS n_days,
           round(sqrt(
             CAST(sum(CAST(round(0.001 * c * cos(2 * {_PI} * i / {p}), 0)
                      AS BIGINT)) AS DOUBLE)
             * sum(CAST(round(0.001 * c * cos(2 * {_PI} * i / {p}), 0)
                   AS BIGINT))
             + CAST(sum(CAST(round(0.001 * c * sin(2 * {_PI} * i / {p}), 0)
                        AS BIGINT)) AS DOUBLE)
               * sum(CAST(round(0.001 * c * sin(2 * {_PI} * i / {p}), 0)
                     AS BIGINT))
           ) / count(*), 3) AS amplitude_dollars
    FROM idx
    """
    for p in _PERIODS
)


@register(
    "goertzel_weekly_power",
    f"""
    WITH days AS (
      SELECT o_orderdate AS d, CAST(sum({_CENTS}) AS BIGINT) AS c
      FROM orders GROUP BY o_orderdate
    ),
    idx AS (
      SELECT c, CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS i
      FROM days
    )
    {_POWER_SQL}
    ORDER BY period_days
    """,
    tags=("timeseries", "spectral", "seasonality"),
)
def q_goertzel_weekly_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFT amplitude of daily revenue at periods 7/30/11 days: each
    cos/sin projection term rounds to an e3 integer (0.001*cents
    scale) before the exact sum, so engine libm 1-ulp noise vanishes
    under the rounding grain; amplitude = sqrt(C^2 + S^2)/n in
    dollars. The weekly line towering over the period-11 control IS
    the seasonality evidence."""
    orders = read_table(spark, sf_dir, "orders")
    days = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.expr(_CENTS)).cast("bigint").alias("c")
    )
    idx = days.select(
        "c", (F.row_number().over(Window.orderBy("d")) - 1).cast("bigint").alias("i")
    )
    outs = []
    for p in _PERIODS:
        ang = 2 * _PI * F.col("i") / p
        ct = F.round(0.001 * F.col("c") * F.cos(ang), 0).cast("bigint")
        st = F.round(0.001 * F.col("c") * F.sin(ang), 0).cast("bigint")
        outs.append(
            idx.agg(
                F.lit(p).cast("integer").alias("period_days"),
                F.count(F.lit(1)).cast("bigint").alias("n_days"),
                F.round(
                    F.sqrt(
                        F.sum(ct).cast("double") * F.sum(ct)
                        + F.sum(st).cast("double") * F.sum(st)
                    )
                    / F.count(F.lit(1)),
                    3,
                ).alias("amplitude_dollars"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("period_days")


# ---------------------------------------------------------------------------
# Hodges-Lehmann pseudo-median of daily revenue.
# ---------------------------------------------------------------------------
@register(
    "hodges_lehmann",
    f"""
    WITH days AS (
      SELECT o_orderdate AS d, CAST(sum({_CENTS}) AS BIGINT) AS c
      FROM orders GROUP BY o_orderdate
    ),
    walsh AS (
      SELECT a.c + b.c AS s2
      FROM days a JOIN days b ON a.d <= b.d
    ),
    spine AS (SELECT s2, CAST(count(*) AS BIGINT) AS cnt FROM walsh
              GROUP BY s2),
    cum AS (
      SELECT s2, sum(cnt) OVER (ORDER BY s2
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM spine),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                   CAST((sum(cnt) + 1) // 2 AS BIGINT) AS r FROM spine)
    SELECT (SELECT n FROM tot) AS n_pairs,
           CAST(min(CASE WHEN cum.cc >= (SELECT r FROM tot) THEN cum.s2 END)
                // 2 AS BIGINT) AS hl_cents
    FROM cum
    """,
    tags=("stats", "robust", "location"),
)
def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median of all Walsh averages (x_i + x_j)/2 over i <= j on the
    bounded daily summary: pair sums stay integer (halved only at the
    end), the median comes off the distinct-sum spine cumulative
    counts. The classical robust-and-efficient location estimate."""
    orders = read_table(spark, sf_dir, "orders")
    days = (
        orders.groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.sum(F.expr(_CENTS)).cast("bigint").alias("c"))
        # r14: the calendar-bounded day spine sits on BOTH sides of the
        # Walsh self-join, and the spine/cum/tot consumers re-ran the
        # full orders scan + aggregate per reference (~4 passes, 5.2 s
        # for a 30-row frame). Pin once.
        .localCheckpoint(eager=True)
    )
    # r14: materializing the ~|days|^2/2 Walsh multiset (2.9M rows at
    # sf0.1) and ranking it cost 4-5 s however it was planned (the old
    # unpartitioned-window spine AND a two-level rank rewrite both pay
    # several full passes over the pair rows). The day spine is
    # CALENDAR-BOUNDED (2,405 rows at sf0.1 -- the same class as the
    # garch/transfer-entropy daily-series folds), so collect the daily
    # cents once and select the r-th smallest pair sum EXACTLY in
    # Python: binary search on the integer sum value, counting pairs
    # (i <= j) below the probe with a two-pointer sweep over the sorted
    # cents -- O(nd log range), all exact ints. The smallest x with
    # count_le(x) >= r IS min(s2 | cumulative count >= r) of the old
    # spine; n_pairs = nd(nd+1)/2 by construction. Same two integers
    # out, oracle SQL untouched.
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.fold import (
        collect_nonempty,
    )

    cs = sorted(
        int(row["c"])
        for row in collect_nonempty(days.select("c"), "hodges daily cents")
    )
    nd = len(cs)
    n_pairs = nd * (nd + 1) // 2
    r = (n_pairs + 1) // 2

    def count_le(x: int) -> int:
        cnt = 0
        j = nd - 1
        for i in range(nd):
            if j < i:
                break
            while j >= i and cs[i] + cs[j] > x:
                j -= 1
            if j < i:
                break
            cnt += j - i + 1
        return cnt

    lo, hi = 2 * cs[0], 2 * cs[-1]
    while lo < hi:
        mid = (lo + hi) // 2
        if count_le(mid) >= r:
            hi = mid
        else:
            lo = mid + 1
    # Python's lo // 2 floors, while SQL integer division (the oracle's
    # //, Spark's DIV) truncates toward zero; the two agree only because
    # daily cent sums, and so lo, are non-negative.
    return spark.range(1).select(
        F.lit(n_pairs).cast("bigint").alias("n_pairs"),
        F.lit(lo // 2).cast("bigint").alias("hl_cents"),
    )
