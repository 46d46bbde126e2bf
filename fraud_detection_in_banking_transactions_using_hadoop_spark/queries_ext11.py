"""Extension batch 11: integer apportionment, functional-dependency
profiling, rolling correlation, session path mining, and weighted
median -- operator families the earlier batches didn't touch.

Scale notes:
- Largest-remainder apportionment is ALL integer arithmetic: quota
  numerators as DECIMAL(38,0)/HUGEINT products, floor division for the
  base seats, and the bonus ranked on the exact integer remainder --
  no float quota ever exists, so the result is bit-stable and the
  "sum of allocations == total units" invariant is provable.
- FD profiling groups each candidate LHS once (count-distinct RHS per
  key, combine-enabled) and unions four tiny summaries.
- Rolling correlation keeps the five sufficient statistics as frame
  sums of exact integers (BIGINT frames of 15 days) and evaluates one
  double expression per row -- the windowed cousin of
  autocorr_daily_revenue, same no-float-accumulation rule.
- Session paths reuse the gap-session template, then take trigrams
  with lead() twice over the SAME user exchange (sid equality filters
  cross-session trigrams instead of a second partition key).
- Weighted median is the cumulative-weight crossing over the DISTINCT
  value spine: group to (flag, unit_cents, weight), one ordered window
  per flag, pick the smallest value where 2*cumw >= total. Exact
  integers end-to-end; ties collapse into the spine so no order
  ambiguity exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


# ---------------------------------------------------------------------------
# Largest-remainder (Hamilton) apportionment: allocate 10,000 budget
# units across nations proportional to exact revenue cents.
# ---------------------------------------------------------------------------
@register(
    "largest_remainder_allocation",
    """
    WITH rev AS (
      SELECT n.n_name AS nation,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS HUGEINT)
               AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name
    ),
    quota AS (
      SELECT nation, cents,
             sum(cents) OVER () AS total,
             (10000 * cents) // sum(cents) OVER () AS base,
             (10000 * cents) % sum(cents) OVER () AS rem
      FROM rev
    ),
    ranked AS (
      SELECT nation, cents, base, rem,
             CAST(row_number() OVER (ORDER BY rem DESC, nation) AS BIGINT) AS rr,
             10000 - sum(base) OVER () AS leftover
      FROM quota
    )
    SELECT nation, CAST(cents AS BIGINT) AS cents,
           CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS allocated,
           round(CAST(cents AS DOUBLE) / CAST((SELECT sum(cents) FROM rev) AS DOUBLE),
                 6) AS exact_share
    FROM ranked
    """,
    tags=("apportionment", "exact-arith", "A1"),
)
def q_largest_remainder_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton apportionment of 10,000 units across nations by
    revenue. The quota numerator 10000*cents stays an exact integer
    (DECIMAL(38,0)); base = floor quota, and the leftover units go to
    the largest integer REMAINDERS (nation tiebreak). Guarantees
    sum(allocated) == 10000 exactly -- the property float quotas can't
    promise. Three windows over the |nations| rows ride one tiny
    exchange after the join-aggregate."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    dec = "decimal(38,0)"
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast(dec)
            .alias("cents")
        )
    )
    wall = Window.partitionBy()
    quota = rev.select(
        "nation",
        "cents",
        F.sum("cents").over(wall).alias("total"),
        F.floor((F.lit(10000).cast(dec) * F.col("cents")) / F.sum("cents").over(wall))
        .cast(dec)
        .alias("base"),
        (
            (F.lit(10000).cast(dec) * F.col("cents"))
            % F.sum("cents").over(wall)
        ).alias("rem"),
    )
    ranked = quota.select(
        "nation",
        "cents",
        "base",
        "rem",
        "total",
        F.row_number().over(Window.orderBy(F.desc("rem"), "nation")).cast("bigint").alias("rr"),
        (F.lit(10000) - F.sum("base").over(wall)).alias("leftover"),
    )
    return ranked.select(
        "nation",
        F.col("cents").cast("bigint").alias("cents"),
        (F.col("base") + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0))
        .cast("bigint")
        .alias("allocated"),
        F.round(F.col("cents").cast("double") / F.col("total").cast("double"), 6).alias(
            "exact_share"
        ),
    )


# ---------------------------------------------------------------------------
# Functional-dependency profiling: does LHS determine RHS? Violation
# counts for four candidate FDs.
# ---------------------------------------------------------------------------
@register(
    "functional_dependency_check",
    """
    WITH f1 AS (
      SELECT l_partkey AS k, count(DISTINCT l_suppkey) AS nd FROM lineitem GROUP BY 1
    ),
    f2 AS (
      SELECT o_custkey AS k, count(DISTINCT o_orderpriority) AS nd FROM orders GROUP BY 1
    ),
    f3 AS (
      SELECT c_custkey AS k, count(DISTINCT c_nationkey) AS nd FROM customer GROUP BY 1
    ),
    f4 AS (
      SELECT l_orderkey AS k, count(DISTINCT l_returnflag) AS nd FROM lineitem GROUP BY 1
    )
    SELECT 'l_partkey->l_suppkey' AS fd, CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
           CAST(max(nd) AS BIGINT) AS max_rhs_per_key,
           CAST(max(nd) = 1 AS VARCHAR) AS holds
    FROM f1
    UNION ALL
    SELECT 'o_custkey->o_orderpriority', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(max(nd) AS BIGINT), CAST(max(nd) = 1 AS VARCHAR)
    FROM f2
    UNION ALL
    SELECT 'c_custkey->c_nationkey', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(max(nd) AS BIGINT), CAST(max(nd) = 1 AS VARCHAR)
    FROM f3
    UNION ALL
    SELECT 'l_orderkey->l_returnflag', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(max(nd) AS BIGINT), CAST(max(nd) = 1 AS VARCHAR)
    FROM f4
    """,
    tags=("dq", "profiling", "fd"),
)
def q_functional_dependency_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling FD discovery for four candidate dependencies:
    per-key count-distinct of the RHS (one combine-enabled aggregate
    per candidate), then a 1-row summary each -- keys examined,
    violating keys, worst fan-out, verdict. Extends dq_profile's
    column stats with cross-column structure (the thing schema
    inference can't see)."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")

    def fd(df, lhs, rhs, name):
        per = df.groupBy(F.col(lhs).alias("k")).agg(
            F.countDistinct(rhs).alias("nd")
        )
        return per.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating_keys"),
            F.max("nd").cast("bigint").alias("max_rhs_per_key"),
            (F.max("nd") == 1).cast("string").alias("holds"),
        )
    return (
        fd(li, "l_partkey", "l_suppkey", "l_partkey->l_suppkey")
        .unionByName(fd(orders, "o_custkey", "o_orderpriority", "o_custkey->o_orderpriority"))
        .unionByName(fd(cust, "c_custkey", "c_nationkey", "c_custkey->c_nationkey"))
        .unionByName(fd(li, "l_orderkey", "l_returnflag", "l_orderkey->l_returnflag"))
    )


# ---------------------------------------------------------------------------
# Rolling 15-day correlation between daily revenue and daily order
# count, from exact integer frame sums.
# ---------------------------------------------------------------------------
@register(
    "rolling_correlation",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS HUGEINT) AS x,
             CAST(count(*) AS HUGEINT) AS y
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    framed AS (
      SELECT d,
             count(*) OVER w AS n,
             sum(x) OVER w AS sx, sum(y) OVER w AS sy,
             sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx,
             sum(y * y) OVER w AS syy
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r
    FROM framed WHERE n = 15
    """,
    tags=("timeseries", "rolling", "exact-arith"),
)
def q_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Pearson correlation between revenue and order volume
    over the trailing 15 observed days: the five sufficient statistics
    are frame SUMS OF EXACT INTEGERS (no float accumulation order to
    disagree on), and the only doubles appear in the one final
    expression per row. Six frames share a single global-order window
    over |days| rows."""
    orders = read_table(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).cast(dec).alias("x"),
        F.count(F.lit(1)).cast(dec).alias("y"),
    )
    w = Window.orderBy("d").rowsBetween(-14, 0)
    framed = daily.select(
        "d",
        F.count(F.lit(1)).over(w).cast(dec).alias("n"),
        F.sum("x").over(w).cast(dec).alias("sx"),
        F.sum("y").over(w).cast(dec).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast(dec).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast(dec).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast(dec).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return framed.where(F.col("n") == 15).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.round(num / den, 6).alias("r"),
    )


# ---------------------------------------------------------------------------
# Top-10 session paths: most common 3-step event-type sequences inside
# 2h-gap sessions.
# ---------------------------------------------------------------------------
@register(
    "session_path_topk",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)
                       > 7200000000 OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      FROM flagged
    ),
    tri AS (
      SELECT event_type || '>' ||
             lead(event_type, 1) OVER w || '>' ||
             lead(event_type, 2) OVER w AS path,
             sid,
             lead(sid, 1) OVER w AS sid1,
             lead(sid, 2) OVER w AS sid2
      FROM sess
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    counted AS (
      SELECT path, CAST(count(*) AS BIGINT) AS n
      FROM tri WHERE sid1 = sid AND sid2 = sid
      GROUP BY path
    )
    SELECT path, n,
           round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS share
    FROM counted
    ORDER BY n DESC, path
    LIMIT 10
    """,
    tags=("sequence", "sessionize", "path"),
)
def q_session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent 3-step behavioral paths within sessions. Trigram
    extraction uses lead() twice over the SAME per-user window the
    sessionizer already built -- session membership is enforced by
    comparing the led sid values, so no second (user, sid) exchange
    exists. Top-10 with the path-string tiebreak."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            (us - F.lag(us).over(w) > 7_200_000_000) | F.lag("ts").over(w).isNull(), 1
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = flagged.select(
        "user_id", "ts", "event_id", "event_type", F.sum("is_new").over(w).alias("sid")
    )
    tri = sess.select(
        F.concat_ws(
            ">",
            "event_type",
            F.lead("event_type", 1).over(w),
            F.lead("event_type", 2).over(w),
        ).alias("path"),
        F.col("sid"),
        F.lead("sid", 1).over(w).alias("sid1"),
        F.lead("sid", 2).over(w).alias("sid2"),
        F.lead("event_type", 2).over(w).alias("t2"),
    )
    counted = (
        tri.where((F.col("sid1") == F.col("sid")) & (F.col("sid2") == F.col("sid")))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return (
        counted.select(
            "path",
            "n",
            F.round(
                F.col("n").cast("double") / F.sum("n").over(Window.partitionBy()), 6
            ).alias("share"),
        )
        .orderBy(F.desc("n"), "path")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Weighted median unit price per return flag (weights = quantity),
# via the cumulative-weight crossing on the distinct-value spine.
# ---------------------------------------------------------------------------
q_weighted_median = register_sql(
    "weighted_median",
    """
    WITH units AS (
      SELECT l_returnflag AS rf,
             CAST(round(l_extendedprice / l_quantity * 100, 0) AS BIGINT)
               AS unit_cents,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ),
    spine AS (
      SELECT rf, unit_cents, CAST(sum(w) AS BIGINT) AS w
      FROM units GROUP BY rf, unit_cents
    ),
    cum AS (
      SELECT rf, unit_cents, w,
             sum(w) OVER (PARTITION BY rf ORDER BY unit_cents) AS cw,
             sum(w) OVER (PARTITION BY rf) AS tw
      FROM spine
    )
    SELECT rf, CAST(min(tw) AS BIGINT) AS total_weight,
           round(CAST(min(CASE WHEN 2 * cw >= tw THEN unit_cents END) AS DOUBLE)
                 / 100.0, 2) AS weighted_median_price
    FROM cum GROUP BY rf
    """,
    tags=("robust", "weighted", "A1"),
)
