"""Extension batch 10: experiment and model-evaluation operators --
two-proportion A/B z-test, an OLS forecast backtest with integer-exact
MAPE, daily bounce rate over gap sessions, Theil-Sen robust slopes
from bounded pair groups, and a decile lift/gains table.

Scale notes:
- The A/B test collapses events to one row per user (conditional max),
  then to 2 variant rows, then to 1: three combine-enabled aggregates,
  no shuffle wider than |users|.
- The forecast backtest fits OLS on EXACT integer sums (same
  sufficient-statistics trick as autocorr_daily_revenue), and MAPE
  avoids cross-engine float accumulation by scaling each per-day
  absolute percentage error to an e8 integer BEFORE the sum -- the only
  doubles that ever accumulate are exact integers in disguise.
- Bounce rate rides the sessionize template (lag + gap flag + prefix
  sum) on one user exchange.
- Theil-Sen generates pairwise slopes only WITHIN (supplier, part)
  groups -- bounded by the max group size (6 at test scale), so the
  quadratic stays local -- and takes the per-supplier median via the
  interpolated-quantile parity.
- The lift table is one global ntile (|events| rows; at 100 TB the
  percentile_bucket_join pattern replaces the sort) plus per-decile
  integer aggregates and window totals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.rank import (
    ntile_from_rank,
    with_global_rank,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


# ---------------------------------------------------------------------------
# Two-proportion z-test: does variant A (even user_id) convert to
# purchase at a different rate than variant B?
# ---------------------------------------------------------------------------
q_ab_test_proportions = register_sql(
    "ab_test_proportions",
    """
    WITH users AS (
      SELECT user_id, CAST(user_id % 2 AS INTEGER) AS variant,
             max(CASE WHEN event_type = 'purchase' AND value > 150
                 THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(converted) AS BIGINT) AS x
      FROM users GROUP BY variant
    ),
    wide AS (
      SELECT max(CASE WHEN variant = 0 THEN n END) AS n_a,
             max(CASE WHEN variant = 0 THEN x END) AS x_a,
             max(CASE WHEN variant = 1 THEN n END) AS n_b,
             max(CASE WHEN variant = 1 THEN x END) AS x_b
      FROM arms
    )
    SELECT n_a, x_a, n_b, x_b,
           round(CAST(x_a AS DOUBLE) / n_a, 6) AS p_a,
           round(CAST(x_b AS DOUBLE) / n_b, 6) AS p_b,
           round((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
                 / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score
    FROM wide
    """,
    tags=("stats", "ab-test", "A1"),
)


# ---------------------------------------------------------------------------
# OLS trend forecast backtest: fit daily revenue on the first years,
# score MAPE on the holdout -- with integer-exact error accumulation.
# ---------------------------------------------------------------------------
@register(
    "forecast_backtest_mape",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS x,
             sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS y
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    fit AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM daily WHERE d < DATE '1997-01-01'
    ),
    params AS (
      SELECT CAST(n AS BIGINT) AS n_train,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
             (CAST(sy AS DOUBLE)
              - CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS intercept
      FROM fit
    ),
    scored AS (
      SELECT p.n_train, p.slope, p.intercept,
             CAST(round(abs(t.y - (p.intercept + p.slope * t.x))
                        / t.y * 1e8, 0) AS BIGINT) AS ape_e8
      FROM daily t CROSS JOIN params p
      WHERE t.d >= DATE '1997-01-01'
    )
    SELECT CAST(max(n_train) AS BIGINT) AS n_train,
           CAST(count(*) AS BIGINT) AS n_test,
           round(max(slope) / 100.0, 6) AS slope_dollars_per_day,
           round(max(intercept) / 100.0, 4) AS intercept_dollars,
           round(CAST(sum(ape_e8) AS DOUBLE) / count(*) / 1e8, 6) AS mape
    FROM scored
    """,
    tags=("forecast", "regression", "exact-arith"),
)
def q_forecast_backtest_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-trend revenue forecast evaluated out-of-time: OLS fit on
    pre-1997 days from exact integer sufficient statistics
    (DECIMAL(38,0) / HUGEINT -- no float accumulation), holdout MAPE
    with each day's absolute percentage error SCALED TO AN e8 INTEGER
    before summation, so the mean is exact-integer arithmetic divided
    once. The fit is one aggregate; scoring is a 1-row broadcast of
    (slope, intercept) onto the holdout."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias("y")
    ).withColumn("x", F.datediff("d", F.lit("1992-01-01").cast("date")).cast("bigint"))
    dec = "decimal(38,0)"
    train = daily.where(F.col("d") < F.lit("1997-01-01").cast("date"))
    fit = train.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    params = fit.select(
        F.col("n").cast("bigint").alias("n_train"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )
    test = daily.where(F.col("d") >= F.lit("1997-01-01").cast("date"))
    scored = test.crossJoin(F.broadcast(params)).select(
        "n_train",
        "slope",
        "intercept",
        F.round(
            F.abs(F.col("y") - (F.col("intercept") + F.col("slope") * F.col("x")))
            / F.col("y")
            * 1e8,
            0,
        )
        .cast("bigint")
        .alias("ape_e8"),
    )
    return scored.agg(
        F.max("n_train").cast("bigint").alias("n_train"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.round(F.max("slope") / 100.0, 6).alias("slope_dollars_per_day"),
        F.round(F.max("intercept") / 100.0, 4).alias("intercept_dollars"),
        F.round(F.sum("ape_e8").cast("double") / F.count(F.lit(1)) / 1e8, 6).alias("mape"),
    )


# ---------------------------------------------------------------------------
# Daily bounce rate: share of 2h-gap sessions containing exactly one
# event, per session-start day.
# ---------------------------------------------------------------------------
@register(
    "bounce_rate_daily",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)
                       > 7200000000 OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, sid, CAST(min(ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS bounce_rate
    FROM per_session GROUP BY day
    """,
    tags=("analytics", "sessionize", "W4"),
)
def q_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-event-session share per day. Session boundaries come from
    the gap-flag + prefix-sum template (integer-microsecond deltas per
    the dt parity rule), grouped to per-session rows, then to the daily
    rate from exact counts -- the sessionize exchange on user_id is the
    only wide operation."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (us - F.lag(us).over(w) > 7_200_000_000) | F.lag("ts").over(w).isNull(), 1
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = flagged.select(
        "user_id", "ts", F.sum("is_new").over(w).alias("sid")
    )
    per_session = sess.groupBy("user_id", "sid").agg(
        F.min("ts").cast("date").alias("day"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return per_session.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        bounces.cast("bigint").alias("n_bounces"),
        F.round(bounces.cast("double") / F.count(F.lit(1)), 6).alias("bounce_rate"),
    ).select(F.date_format("day", "yyyy-MM-dd").alias("day"), "n_sessions", "n_bounces", "bounce_rate")


# ---------------------------------------------------------------------------
# Theil-Sen robust slope per supplier: median of pairwise
# price-vs-quantity slopes generated within bounded (supplier, part)
# groups.
# ---------------------------------------------------------------------------
@register(
    "theil_sen_slope",
    """
    WITH pts AS (
      SELECT l_suppkey AS supp, l_partkey AS part,
             CAST(l_quantity AS DOUBLE) AS q, l_extendedprice AS p,
             row_number() OVER (PARTITION BY l_suppkey, l_partkey
                                ORDER BY l_orderkey * 100 + l_linenumber,
                                         l_quantity, l_extendedprice) AS rn
      FROM lineitem
    ),
    slopes AS (
      SELECT a.supp, (b.p - a.p) / (b.q - a.q) AS slope
      FROM pts a JOIN pts b
        ON a.supp = b.supp AND a.part = b.part AND a.rn < b.rn
      WHERE a.q <> b.q
    )
    SELECT CAST(supp AS BIGINT) AS supp, CAST(count(*) AS BIGINT) AS n_pairs,
           floor(quantile_cont(slope, 0.5) * 1e6 + 0.5) / 1e6
             AS median_slope
    FROM slopes GROUP BY supp
    """,
    tags=("robust", "regression", "J1"),
)
def q_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust price-per-quantity slope: the median of pairwise slopes
    (Theil-Sen) is immune to the outliers OLS chases. Pairs form ONLY
    inside (supplier, part) groups -- max group size is single digits,
    so the quadratic is local and the join is a plain equi-join on the
    group key -- and the per-supplier median rides the interpolated
    quantile parity. Slopes divide identical doubles, so both engines
    agree bit-for-bit. Pair dedupe uses a within-group row_number over
    a deterministic total order -- the testdata has colliding
    (l_orderkey, l_linenumber) composites, so a derived key is NOT
    unique (hard-won; see test_theil_sen_matches_numpy_median)."""
    li = read_table(spark, sf_dir, "lineitem")
    wrn = Window.partitionBy("l_suppkey", "l_partkey").orderBy(
        F.col("l_orderkey") * 100 + F.col("l_linenumber"),
        "l_quantity",
        "l_extendedprice",
    )
    pts = li.select(
        F.col("l_suppkey").alias("supp"),
        F.col("l_partkey").alias("part"),
        F.col("l_quantity").cast("double").alias("q"),
        F.col("l_extendedprice").alias("p"),
        F.row_number().over(wrn).alias("rn"),
    )
    a = pts.alias("a")
    b = pts.alias("b")
    slopes = (
        a.join(
            b,
            (F.col("a.supp") == F.col("b.supp"))
            & (F.col("a.part") == F.col("b.part"))
            & (F.col("a.rn") < F.col("b.rn")),
        )
        .where(F.col("a.q") != F.col("b.q"))
        .select(
            F.col("a.supp").alias("supp"),
            ((F.col("b.p") - F.col("a.p")) / (F.col("b.q") - F.col("a.q"))).alias("slope"),
        )
    )
    # floor-quantize the (bit-identical) interpolated median instead of
    # round(6): the r10 sf0.1 sweep caught Spark's BigDecimal HALF_UP
    # vs DuckDB's binary nearbyint flipping 1/1000 rows at the 6th
    # decimal; floor(x*1e6 + 0.5) is the same function in both engines.
    return slopes.groupBy("supp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr(
            "floor(percentile(slope, 0.5) * 1e6 + 0.5) / 1e6"
        ).alias("median_slope"),
    ).select(F.col("supp").cast("bigint").alias("supp"), "n_pairs", "median_slope")


# ---------------------------------------------------------------------------
# Decile lift / gains table: rank events by a score, report response
# rate, lift, and cumulative gain per decile.
# ---------------------------------------------------------------------------
@register(
    "lift_gains_table",
    """
    WITH scored AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
             ntile(10) OVER (ORDER BY value DESC, event_id) AS decile
      FROM events
    ),
    per AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS n_pos
      FROM scored GROUP BY decile
    )
    SELECT CAST(decile AS INTEGER) AS decile, n, n_pos,
           round(CAST(n_pos AS DOUBLE) / n, 6) AS response_rate,
           round((CAST(n_pos AS DOUBLE) / n)
                 / (CAST(sum(n_pos) OVER () AS DOUBLE) / sum(n) OVER ()), 6) AS lift,
           round(CAST(sum(n_pos) OVER (ORDER BY decile) AS DOUBLE)
                 / sum(n_pos) OVER (), 6) AS cum_gain
    FROM per
    """,
    tags=("ml-eval", "lift", "W2"),
)
def q_lift_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation lift table with `value` standing in as the
    model score and purchase as the positive label: exact desc-ntile
    deciles (unique event_id tiebreak) via the distributed global rank
    (operators/rank -- approx-percentile bucket edges, per-bucket
    offsets, partitioned row_number; ties on value share a bucket so
    the event_id tiebreak resolves inside one partition), per-decile
    exact counts, then lift and cumulative gains as windows over the
    10-row summary."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
        "value",
        "event_id",
    )
    gr = with_global_rank(
        base,
        "value",
        [F.col("value").desc(), F.col("event_id").asc()],
        ascending=False,
        rank_col="_i",
    )
    n_row = base.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    scored = gr.crossJoin(F.broadcast(n_row)).select(
        "label", ntile_from_rank(F.col("_i"), F.col("_n"), 10).alias("decile")
    )
    per = scored.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("n_pos"),
    )
    wall = Window.partitionBy()
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    rate = F.col("n_pos").cast("double") / F.col("n")
    overall = F.sum("n_pos").over(wall).cast("double") / F.sum("n").over(wall)
    return per.select(
        F.col("decile").cast("integer").alias("decile"),
        "n",
        "n_pos",
        F.round(rate, 6).alias("response_rate"),
        F.round(rate / overall, 6).alias("lift"),
        F.round(
            F.sum("n_pos").over(wcum).cast("double") / F.sum("n_pos").over(wall), 6
        ).alias("cum_gain"),
    )
