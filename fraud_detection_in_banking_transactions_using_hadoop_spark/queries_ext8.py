"""Extension batch 8: statistical tests, scale-path binning, and
product-analytics operators -- chi-square independence, percentile-cut
broadcast range-join bucketing, the clamped-running-balance prefix-sum
rewrite, conversion-latency stats, and DAU/WAU stickiness.

Scale notes:
- The chi-square contingency table is one combine-enabled aggregate to
  |rf| x |ls| cells; margins and the grand total are windows over the
  TINY cell table (sum OVER () instead of a scalar subquery -- no
  nested-loop join anywhere).
- percentile_bucket_join is the declared 100 TB path for
  quantile_binning: compute 9 interpolated cut points once, build a
  10-row edge table, BROADCAST it and range-join -- the documented
  scalar-broadcast nested-loop exception (the build side is 10 rows by
  construction; the probe stays pipelined map-side). The global-ntile
  variant sorts |rows|; this sorts nothing.
- clamped_running_balance shows the floor-at-zero running balance --
  naively a sequential recurrence (b_t = max(0, b_{t-1} + x_t)) -- has
  the closed form b_t = prefix_t - least(0, running_min(prefix)), so
  two stacked windows on ONE user_id exchange replace any stateful
  scan. Flows are exact integer cents.
- Conversion latency works in integer microseconds end-to-end
  (CLAUDE.md dt rule); the mean uses integer div, the percentiles the
  interpolated-quantile parity established in percentile_suite.
- Stickiness computes the trailing-7-day distinct-user count with a
  RANGE frame over the distinct (day, user) pair table -- |pairs|
  bounded by users x days, far below |events| -- while the oracle uses
  the literal spine range-join + count(DISTINCT) formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


# ---------------------------------------------------------------------------
# Chi-square test of independence: is l_returnflag independent of
# l_linestatus? Per-cell observed/expected + chi-square contribution.
# ---------------------------------------------------------------------------
q_chi2_independence = register_sql(
    "chi2_independence",
    """
    WITH cells AS (
      SELECT l_returnflag AS rf, l_linestatus AS ls,
             CAST(count(*) AS BIGINT) AS obs
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    ),
    margins AS (
      SELECT rf, ls, obs,
             CAST(sum(obs) OVER (PARTITION BY rf) AS BIGINT) AS row_n,
             CAST(sum(obs) OVER (PARTITION BY ls) AS BIGINT) AS col_n,
             CAST(sum(obs) OVER () AS BIGINT) AS n
      FROM cells
    )
    SELECT rf, ls, obs, row_n, col_n,
           round(CAST(row_n AS DOUBLE) * col_n / n, 6) AS expected,
           round(pow(obs - CAST(row_n AS DOUBLE) * col_n / n, 2)
                 / (CAST(row_n AS DOUBLE) * col_n / n), 6) AS chi2_term
    FROM margins
    """,
    tags=("A1", "stats", "chi2"),
)


# ---------------------------------------------------------------------------
# Percentile-cut bucketing via broadcast range join: the scale path for
# quantile_binning (no global sort -- 9 cut points + a 10-row broadcast
# edge table).
# ---------------------------------------------------------------------------
@register(
    "percentile_bucket_join",
    """
    WITH cuts AS (
      SELECT [quantile_cont(o_totalprice, 0.1), quantile_cont(o_totalprice, 0.2),
              quantile_cont(o_totalprice, 0.3), quantile_cont(o_totalprice, 0.4),
              quantile_cont(o_totalprice, 0.5), quantile_cont(o_totalprice, 0.6),
              quantile_cont(o_totalprice, 0.7), quantile_cont(o_totalprice, 0.8),
              quantile_cont(o_totalprice, 0.9)] AS qs
      FROM orders
    ),
    edges AS (
      SELECT i.i AS bucket_id,
             CASE WHEN i.i = 0 THEN -1e308 ELSE qs[i.i] END AS lo,
             CASE WHEN i.i = 9 THEN 1e308 ELSE qs[i.i + 1] END AS hi
      FROM cuts, (SELECT unnest(range(0, 10)) AS i) i
    )
    SELECT CAST(e.bucket_id AS INTEGER) AS bucket_id,
           CAST(count(*) AS BIGINT) AS n,
           round(min(o.o_totalprice), 2) AS lo_price,
           round(max(o.o_totalprice), 2) AS hi_price
    FROM orders o JOIN edges e
      ON o.o_totalprice >= e.lo AND o.o_totalprice < e.hi
    GROUP BY e.bucket_id
    """,
    tags=("binning", "range-join", "broadcast"),
)
def q_percentile_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bucketing without a global sort: one pass computes the 9
    interpolated percentile cuts (both engines use the (n-1)p linear
    interpolation -- parity established in percentile_suite), a 10-row
    [lo, hi) edge table tiles the real line, and the assignment is a
    broadcast range join -- the intended BroadcastNestedLoopJoin with a
    build side of CONSTANT size 10 (whitelisted in the plan test).
    Boundary values land in the upper bucket in both engines (>= lo,
    < hi on identical doubles)."""
    orders = read_table(spark, sf_dir, "orders")
    cuts = orders.agg(
        F.expr(
            "percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("qs")
    )
    edges = cuts.select(
        F.posexplode(F.expr("array_repeat(0, 10)")).alias("bucket_id", "_z"), "qs"
    ).select(
        "bucket_id",
        F.when(F.col("bucket_id") == 0, F.lit(-1e308))
        .otherwise(F.element_at("qs", F.col("bucket_id")))
        .alias("lo"),
        F.when(F.col("bucket_id") == 9, F.lit(1e308))
        .otherwise(F.element_at("qs", F.col("bucket_id") + 1))
        .alias("hi"),
    )
    o = orders.alias("o")
    e = F.broadcast(edges).alias("e")
    return (
        o.join(
            e,
            (F.col("o.o_totalprice") >= F.col("e.lo"))
            & (F.col("o.o_totalprice") < F.col("e.hi")),
        )
        .groupBy(F.col("e.bucket_id").cast("integer").alias("bucket_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.min("o.o_totalprice"), 2).alias("lo_price"),
            F.round(F.max("o.o_totalprice"), 2).alias("hi_price"),
        )
    )


# ---------------------------------------------------------------------------
# Clamped (floor-at-zero) running balance: the sequential recurrence
# b_t = max(0, b_{t-1} + x_t) rewritten as two stacked windows.
# ---------------------------------------------------------------------------
q_clamped_running_balance = register_sql(
    "clamped_running_balance",
    """
    WITH flows AS (
      SELECT user_id, event_id,
             CASE WHEN event_type IN ('purchase', 'error')
                  THEN -CAST(round(value * 100, 0) AS BIGINT)
                  ELSE CAST(round(value * 100, 0) AS BIGINT) END AS cents
      FROM events
    ),
    pre AS (
      SELECT user_id, event_id,
             sum(cents) OVER (PARTITION BY user_id ORDER BY event_id) AS prefix
      FROM flows
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS event_id,
           CAST(prefix - least(0, min(prefix) OVER
                  (PARTITION BY user_id ORDER BY event_id)) AS BIGINT)
             AS balance_cents
    FROM pre
    """,
    tags=("W4", "prefix-sum-rewrite", "exact-arith"),
)


# ---------------------------------------------------------------------------
# Conversion latency: first signup -> first subsequent purchase per
# user, integer-microsecond deltas, population stats + interpolated
# percentiles.
# ---------------------------------------------------------------------------
@register(
    "conversion_time_stats",
    """
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s_us,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT p_us - s_us AS delta_us
      FROM firsts
      WHERE s_us IS NOT NULL AND p_us IS NOT NULL AND p_us >= s_us
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           CAST(min(delta_us) AS BIGINT) AS min_us,
           CAST(max(delta_us) AS BIGINT) AS max_us,
           CAST(sum(delta_us) // count(*) AS BIGINT) AS mean_us,
           round(quantile_cont(delta_us, 0.5), 4) AS p50_us,
           round(quantile_cont(delta_us, 0.9), 4) AS p90_us
    FROM conv
    """,
    tags=("F5", "funnel", "exact-arith"),
)
def q_conversion_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase latency distribution. Timestamps become
    integer microseconds BEFORE any arithmetic (CLAUDE.md dt rule: one
    subtraction of exact integers, never epoch doubles); the mean is an
    integer division and the percentiles ride the interpolated-quantile
    cross-engine parity. Conditional min() folds both firsts in a
    single grouped pass."""
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", us)).alias("s_us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p_us"),
    )
    conv = firsts.where(
        F.col("s_us").isNotNull() & F.col("p_us").isNotNull() & (F.col("p_us") >= F.col("s_us"))
    ).select((F.col("p_us") - F.col("s_us")).alias("delta_us"))
    return conv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.min("delta_us").cast("bigint").alias("min_us"),
        F.max("delta_us").cast("bigint").alias("max_us"),
        F.expr("CAST(sum(delta_us) div count(*) AS BIGINT)").alias("mean_us"),
        F.round(F.expr("percentile(delta_us, 0.5)"), 4).alias("p50_us"),
        F.round(F.expr("percentile(delta_us, 0.9)"), 4).alias("p90_us"),
    )


# ---------------------------------------------------------------------------
# DAU/WAU stickiness: daily active users over trailing-7-day weekly
# actives, RANGE-frame windows on the distinct (day, user) pair table.
# ---------------------------------------------------------------------------
@register(
    "stickiness_dau_wau",
    """
    WITH pairs AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM pairs GROUP BY d),
    wau AS (
      SELECT s.d, CAST(count(DISTINCT p.user_id) AS BIGINT) AS wau
      FROM (SELECT DISTINCT d FROM pairs) s
      JOIN pairs p ON p.d BETWEEN s.d - 6 AND s.d
      GROUP BY s.d
    )
    SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau,
           round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    """,
    tags=("analytics", "W4", "distinct"),
)
def q_stickiness_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product stickiness (DAU / trailing-7-day WAU). The input
    collapses to distinct (day, user) pairs first -- bounded by
    users x days, orders of magnitude below |events| at scale -- then
    the weekly active count is size(collect_set(user)) over a RANGE
    frame of 6 days on the pair table (one global-order window over the
    pair table; the oracle runs the literal spine range-join +
    count(DISTINCT) instead, checking the frame rewrite)."""
    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(F.col("ts").cast("date").alias("d"), "user_id").distinct()
    pairs = pairs.withColumn("dn", F.datediff("d", F.lit("1970-01-01").cast("date")))
    wr = Window.orderBy("dn").rangeBetween(-6, 0)
    wau = (
        pairs.withColumn("wau", F.size(F.collect_set("user_id").over(wr)))
        .groupBy("d")
        .agg(F.max("wau").cast("bigint").alias("wau"))
    )
    dau = pairs.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    return (
        dau.join(wau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias("stickiness"),
        )
    )
