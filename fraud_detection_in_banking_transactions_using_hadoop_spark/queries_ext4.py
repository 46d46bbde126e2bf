"""Further coverage: streaming dedup proven against a DISTINCT oracle,
explicit GROUPING SETS, and a time-range self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import (
    events_stream_schema,
    read_table,
)


# ---------------------------------------------------------------------------
# Streaming dedup replay: dropDuplicates over a live stream == DISTINCT SQL
# ---------------------------------------------------------------------------
@register(
    "streaming_dedup_replay",
    """
    SELECT CAST(user_id % 100 AS BIGINT) AS dedup_key, count(*) AS n_first
    FROM (SELECT DISTINCT user_id % 100 AS user_mod, event_type, user_id
          FROM events) t
    GROUP BY CAST(user_id % 100 AS BIGINT)
    """,
    tags=("streaming", "dedup"),
)
def q_streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streams the events table and dropDuplicates on a coarsened key
    (user_mod, event_type, user_id), then aggregates -- the streaming
    result must equal batch DISTINCT. (No watermark: bounded replay; a
    live deployment adds one via dedup_stream.)"""
    from pyspark.sql import types as T

    from fraud_detection_in_banking_transactions_using_hadoop_spark.session import normalize_runtime_conf

    normalize_runtime_conf(spark)
    raw_schema = events_stream_schema(spark, sf_dir)
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir.rstrip("/"))
    )
    deduped = stream.withColumn("user_mod", F.col("user_id") % 100).dropDuplicates(
        ["user_mod", "event_type", "user_id"]
    )
    agg = deduped.groupBy((F.col("user_id") % 100).cast("long").alias("dedup_key")).agg(
        F.count("*").alias("n_first")
    )
    name = "stream_dedup_out"
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS with grouping() indicator
# ---------------------------------------------------------------------------
q_grouping_sets = register_sql(
    "grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
           CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio,
           count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority))
    """,
    tags=("rollup", "A1"),
)


# ---------------------------------------------------------------------------
# RANGE frame window: 30-day sliding spend per customer (value-range frame,
# not row-count -- a different window engine path than ROWS BETWEEN)
# ---------------------------------------------------------------------------
@register(
    "range_frame_window",
    """
    SELECT o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 2)
             AS spend_30d
    FROM orders
    """,
    tags=("W4", "range-frame"),
)
def q_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    epoch_s = F.unix_timestamp("o_orderdate")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch_s)
        .rangeBetween(-2592000, Window.currentRow)  # 30 days in seconds
    )
    return orders.select(
        "o_orderkey", F.round(F.sum("o_totalprice").over(w), 2).alias("spend_30d")
    )


# ---------------------------------------------------------------------------
# IGNORE NULLS window navigation: last known non-null per partition
# ---------------------------------------------------------------------------
@register(
    "ignore_nulls_window",
    """
    WITH x AS (
      SELECT o_orderkey, o_custkey, o_orderdate,
             CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_totalprice END
               AS settled_price
      FROM orders)
    SELECT o_orderkey,
           round(last_value(settled_price IGNORE NULLS) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING), 2) AS last_settled
    FROM x
    """,
    tags=("W4", "ignore-nulls"),
)
def q_ignore_nulls_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    settled = F.when(F.col("o_orderstatus") == "O", None).otherwise(F.col("o_totalprice"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.withColumn("settled_price", settled).select(
        "o_orderkey",
        F.round(F.last("settled_price", ignorenulls=True).over(w), 2).alias("last_settled"),
    )


# ---------------------------------------------------------------------------
# Time-range self-join: bursts -- pairs of events of one user within 60 s
# ---------------------------------------------------------------------------
@register(
    "range_join_bursts",
    """
    SELECT a.event_id AS id_a, b.event_id AS id_b,
           round((epoch_us(b.ts) - epoch_us(a.ts)) / 1000000.0, 6) AS gap_s
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.event_id > a.event_id
     AND b.ts >= a.ts
     AND epoch_us(b.ts) - epoch_us(a.ts) <= 60 * 1000000
    """,
    tags=("range-join", "J4"),
)
def q_range_join_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join on the user + time-range predicate: Catalyst plans the
    equi part as the join key and evaluates the range as a post-join
    filter -- the practical range-join shape (bucketize the time axis for
    the extreme-scale variant)."""
    ev = read_table(spark, sf_dir, "events")
    a, b = ev.alias("a"), ev.alias("b")
    gap_us = F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts"))
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.event_id") > F.col("a.event_id"))
            & (F.col("b.ts") >= F.col("a.ts"))
            & (gap_us <= 60 * 1_000_000),
        )
        .select(
            F.col("a.event_id").alias("id_a"),
            F.col("b.event_id").alias("id_b"),
            F.round(gap_us / F.lit(1_000_000.0), 6).alias("gap_s"),
        )
    )


# ---------------------------------------------------------------------------
# Funnel conversion: ordered view -> click -> purchase progression per
# user (each stage's event must be strictly after the previous stage's
# first event). The sequential-dependency aggregation every product
# analytics stack runs on its event stream.
# ---------------------------------------------------------------------------
q_funnel_conversion = register_sql(
    "funnel_conversion",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT 1 AS stage_no, 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM c
    UNION ALL
    SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM p
    """,
    tags=("events", "funnel", "A1"),
)


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by first-activity week, counted in each
# later activity week -- the standard retention triangle.
# ---------------------------------------------------------------------------
@register(
    "cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_wk
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS act_wk FROM events)
    SELECT strftime(cohort_wk, '%Y-%m-%d') AS cohort_week,
           CAST(datediff('week', cohort_wk, act_wk) AS INTEGER) AS weeks_later,
           CAST(count(*) AS BIGINT) AS n_users
    FROM activity JOIN firsts USING (user_id)
    GROUP BY cohort_wk, datediff('week', cohort_wk, act_wk)
    """,
    tags=("events", "cohort", "A1"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle: both aggregations key on user_id, then the
    final count groups on the tiny (cohort, offset) pair -- the user_id
    partitioning is computed once and reused; the firsts table rides
    along broadcast once it aggregates below the threshold. DuckDB
    datediff('week',...) counts week-boundary crossings of truncated
    weeks == integer week gap between Monday-truncated timestamps."""
    events = read_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_wk")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", "ts").alias("act_wk")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("act_wk"), F.col("cohort_wk")) / 7)
            .cast("int")
            .alias("weeks_later"),
        )
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Skew-salted aggregation, oracled: the two-phase salted count must be
# EXACTLY a plain GROUP BY count -- the salt never changes results, only
# the shuffle layout. event_type is the engine's canonical skewed key
# (5 values over the whole fact).
# ---------------------------------------------------------------------------
q_skew_salted_counts = register_sql(
    "skew_salted_counts",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    tags=("skew", "A1"),
)
