"""Extension batch 121 (round 6): randomized-block nonparametrics
(Friedman and Quade tests of weekday effects, month blocks) and the
empirical copula tail-dependence coefficients of the daily
(order count, revenue) pair.

Scale notes (the 100 TB story):
- friedman_test / quade_test rank WITHIN month blocks (7 rows per
  block -- partitioned windows, never global), and the closing
  statistics fold exact half-integer rank sums (2R integers). Blocks
  are calendar-bounded; the only cross-block ordering (Quade's range
  ranks) runs over the ~month-count spine.
- Weekday labels use pure date arithmetic ((d - DATE '1992-01-06') %
  7, Monday = 0) because the engines' dayofweek() enumerations differ
  (CLAUDE.md) -- this label is engine-identical and safe to output.
- tail_dependence_daily uses max-ranks (#{x_j <= x_i}) for the
  probability integral transform, so ties need no tiebreak and every
  tail count is an exact integer comparison (10*2R > 18*(n+1) form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.rank import with_global_rank
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext120 import _daily_spark
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_K = 7  # treatments: weekdays

# blocks = (year, month) of o_orderdate with all 7 weekdays present;
# observation = revenue cents summed per (block, weekday)
_BLOCKS_CTE = """
    daily AS (
      SELECT o_orderdate AS d,
             CAST(date_diff('day', DATE '1992-01-06', CAST(o_orderdate AS DATE))
                  % 7 AS INTEGER) AS dow,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_orderdate),
    obs AS (
      SELECT CAST(date_trunc('month', d) AS DATE) AS blk, dow,
             CAST(sum(cents) AS BIGINT) AS v
      FROM daily GROUP BY 1, 2),
    full_blocks AS (
      SELECT blk FROM obs GROUP BY blk HAVING count(*) = 7),
    cells AS (
      SELECT o.blk, o.dow, o.v,
             CAST(sum(CASE WHEN p.v < o.v THEN 2 WHEN p.v = o.v THEN 1
                           ELSE 0 END) + 1 AS BIGINT) AS r2
      FROM obs o
      JOIN full_blocks fb ON fb.blk = o.blk
      JOIN obs p ON p.blk = o.blk
      GROUP BY o.blk, o.dow, o.v)"""


def _cells_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    ).select(
        "d",
        (F.datediff("d", F.lit("1992-01-06").cast("date")) % 7)
        .cast("int")
        .alias("dow"),
        "cents",
    )
    obs = daily.groupBy(
        F.date_trunc("month", "d").cast("date").alias("blk"), "dow"
    ).agg(F.sum("cents").cast("bigint").alias("v"))
    full_blocks = obs.groupBy("blk").agg(F.count(F.lit(1)).alias("c")).where(
        F.col("c") == _K
    ).select("blk")
    obs_f = obs.join(full_blocks, "blk")
    # within-block midrank: 2R = 2*(#less) + (#equal-1) + 2 over the
    # 7-row block -- a partitioned window-free pair aggregation
    p = obs_f.select(F.col("blk"), F.col("v").alias("pv"))
    cells = (
        obs_f.join(p, "blk")
        .groupBy("blk", "dow", "v")
        .agg(
            (
                F.sum(
                    F.when(F.col("pv") < F.col("v"), 2)
                    .when(F.col("pv") == F.col("v"), 1)
                    .otherwise(0)
                )
                + 1
            )
            .cast("bigint")
            .alias("r2")
        )
    )
    return cells


@register(
    "friedman_test",
    f"""
    WITH {_BLOCKS_CTE},
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM full_blocks),
    tsum AS (
      SELECT dow, CAST(sum(r2) AS BIGINT) AS r2sum FROM cells GROUP BY dow),
    stat AS (
      SELECT nb.n,
             sum(CAST(r2sum AS DOUBLE) * r2sum / 4) AS sum_rj2
      FROM tsum CROSS JOIN nb GROUP BY nb.n)
    SELECT n AS n_blocks, CAST({_K} AS BIGINT) AS k,
           round(12.0 / (CAST(n AS DOUBLE) * {_K} * ({_K} + 1)) * sum_rj2
                 - 3.0 * n * ({_K} + 1), 6) AS friedman_q
    FROM stat
    """,
    tags=("stats", "nonparametric", "blocks"),
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: do weekdays differ in revenue once month-level
    shifts are blocked out? Rank the 7 weekday revenues within each
    complete month (midranks as exact 2R integers), then
    Q = 12/(nk(k+1)) * sum_j R_j^2 - 3n(k+1) over the per-weekday
    rank sums. The within-block ranking kills the month trend that
    would swamp a pooled Kruskal-Wallis."""
    cells = _cells_spark(spark, sf_dir)
    nb = cells.select("blk").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tsum = cells.groupBy("dow").agg(F.sum("r2").cast("bigint").alias("r2sum"))
    stat = (
        tsum.crossJoin(F.broadcast(nb))
        .groupBy("n")
        .agg(
            F.sum(F.col("r2sum").cast("double") * F.col("r2sum") / 4).alias(
                "sum_rj2"
            )
        )
    )
    nd = F.col("n").cast("double")
    return stat.select(
        F.col("n").alias("n_blocks"),
        F.lit(_K).cast("bigint").alias("k"),
        F.round(
            12.0 / (nd * _K * (_K + 1)) * F.col("sum_rj2") - 3.0 * F.col("n") * (_K + 1),
            6,
        ).alias("friedman_q"),
    )


@register(
    "quade_test",
    f"""
    WITH {_BLOCKS_CTE},
    ranges AS (
      SELECT blk, CAST(max(v) - min(v) AS BIGINT) AS rng
      FROM cells GROUP BY blk),
    qrank AS (
      SELECT a.blk,
             CAST(sum(CASE WHEN b.rng < a.rng THEN 2
                           WHEN b.rng = a.rng THEN 1 ELSE 0 END) + 1 AS BIGINT)
               AS q2
      FROM ranges a CROSS JOIN ranges b
      GROUP BY a.blk),
    s AS (
      SELECT c.dow, c.blk,
             CAST(q.q2 AS DOUBLE) / 2 * (CAST(c.r2 AS DOUBLE) / 2
                                          - ({_K} + 1) / 2.0) AS sij
      FROM cells c JOIN qrank q ON q.blk = c.blk),
    tj AS (SELECT dow, sum(sij) AS t FROM s GROUP BY dow),
    parts AS (
      SELECT (SELECT sum(sij * sij) FROM s) AS a2,
             (SELECT sum(t * t) FROM tj) AS bsum,
             (SELECT CAST(count(*) AS BIGINT) FROM qrank) AS n)
    SELECT n AS n_blocks, CAST({_K} AS BIGINT) AS k,
           round(bsum / n, 6) AS b_stat,
           round((CAST(n AS DOUBLE) - 1) * (bsum / n) / (a2 - bsum / n), 6)
             AS quade_f
    FROM parts
    """,
    tags=("stats", "nonparametric", "blocks"),
)
def q_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade test: Friedman's blocked comparison, but blocks with a
    LARGER within-block spread get more weight (block weight = rank of
    the block's range). S_ij = Q_b/...*(r_ij - (k+1)/2), F = (n-1)B /
    (A - B) with A = sum S^2, B = sum_j T_j^2 / n. More powerful than
    Friedman for k <= ~5-7 treatments when spreads differ -- exactly
    the case for revenue weekdays across months of different sizes.
    Block-range ranks are midranks over the bounded month spine."""
    cells = _cells_spark(spark, sf_dir)
    ranges = cells.groupBy("blk").agg(
        (F.max("v") - F.min("v")).cast("bigint").alias("rng")
    )
    a, b = ranges.alias("a"), ranges.alias("b")
    qrank = (
        a.crossJoin(F.broadcast(b))
        .groupBy(F.col("a.blk").alias("blk"))
        .agg(
            (
                F.sum(
                    F.when(F.col("b.rng") < F.col("a.rng"), 2)
                    .when(F.col("b.rng") == F.col("a.rng"), 1)
                    .otherwise(0)
                )
                + 1
            )
            .cast("bigint")
            .alias("q2")
        )
    )
    s = cells.join(qrank, "blk").select(
        "dow",
        (
            F.col("q2").cast("double") / 2
            * (F.col("r2").cast("double") / 2 - (_K + 1) / 2.0)
        ).alias("sij"),
    )
    tj = s.groupBy("dow").agg(F.sum("sij").alias("t"))
    a2 = s.agg(F.sum(F.col("sij") * F.col("sij")).alias("a2"))
    bsum = tj.agg(F.sum(F.col("t") * F.col("t")).alias("bsum"))
    n = qrank.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    j = a2.crossJoin(F.broadcast(bsum)).crossJoin(F.broadcast(n))
    nd = F.col("n").cast("double")
    bn = F.col("bsum") / F.col("n")
    return j.select(
        F.col("n").alias("n_blocks"),
        F.lit(_K).cast("bigint").alias("k"),
        F.round(bn, 6).alias("b_stat"),
        F.round((nd - 1) * bn / (F.col("a2") - bn), 6).alias("quade_f"),
    )


@register(
    "tail_dependence_daily",
    """
    WITH daily AS (
      SELECT o_orderdate AS d, CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY o_orderdate),
    ranked AS (
      SELECT a.d,
             CAST(sum(CASE WHEN b.x <= a.x THEN 1 ELSE 0 END) AS BIGINT) AS rx,
             CAST(sum(CASE WHEN b.y <= a.y THEN 1 ELSE 0 END) AS BIGINT) AS ry
      FROM daily a CROSS JOIN daily b GROUP BY a.d),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked),
    counts AS (
      SELECT
        CAST(sum(CASE WHEN 10 * rx > 9 * (nn.n + 1)
                       AND 10 * ry > 9 * (nn.n + 1) THEN 1 ELSE 0 END)
             AS BIGINT) AS upper_both,
        CAST(sum(CASE WHEN 10 * rx <= 1 * (nn.n + 1)
                       AND 10 * ry <= 1 * (nn.n + 1) THEN 1 ELSE 0 END)
             AS BIGINT) AS lower_both,
        nn.n
      FROM ranked CROSS JOIN nn GROUP BY nn.n)
    SELECT n AS n_days, upper_both, lower_both,
           round(CAST(upper_both AS DOUBLE) / (0.1 * (n + 1)), 6)
             AS lambda_upper,
           round(CAST(lower_both AS DOUBLE) / (0.1 * (n + 1)), 6)
             AS lambda_lower
    FROM counts
    """,
    tags=("stats", "copula", "dependence"),
)
def q_tail_dependence_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical tail-dependence coefficients of (daily order count,
    daily revenue) at q = 0.9/0.1: lambda_U = P(U > q, V > q)/(1-q)
    with U, V the max-rank PITs R/(n+1). Tail dependence is what
    correlation can't see -- whether EXTREME days co-occur -- and the
    max-rank transform keeps every comparison an exact integer
    (10*R vs 9*(n+1)), tie-stable without tiebreaks."""
    daily = _daily_spark(spark, sf_dir)
    a, b = daily.alias("a"), daily.alias("b")
    ranked = (
        a.crossJoin(F.broadcast(b))
        .groupBy(F.col("a.d").alias("d"))
        .agg(
            F.sum(F.when(F.col("b.x") <= F.col("a.x"), 1).otherwise(0))
            .cast("bigint")
            .alias("rx"),
            F.sum(F.when(F.col("b.y") <= F.col("a.y"), 1).otherwise(0))
            .cast("bigint")
            .alias("ry"),
        )
    )
    nn = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    r = ranked.crossJoin(F.broadcast(nn))
    up = (10 * F.col("rx") > 9 * (F.col("n") + 1)) & (
        10 * F.col("ry") > 9 * (F.col("n") + 1)
    )
    lo = (10 * F.col("rx") <= (F.col("n") + 1)) & (
        10 * F.col("ry") <= (F.col("n") + 1)
    )
    counts = r.groupBy("n").agg(
        F.sum(F.when(up, 1).otherwise(0)).cast("bigint").alias("upper_both"),
        F.sum(F.when(lo, 1).otherwise(0)).cast("bigint").alias("lower_both"),
    )
    return counts.select(
        F.col("n").alias("n_days"),
        "upper_both",
        "lower_both",
        F.round(
            F.col("upper_both").cast("double") / (0.1 * (F.col("n") + 1)), 6
        ).alias("lambda_upper"),
        F.round(
            F.col("lower_both").cast("double") / (0.1 * (F.col("n") + 1)), 6
        ).alias("lambda_lower"),
    )


