"""Data-quality and feature-engineering batch: the checks every
production pipeline runs before trusting a table (column profiling,
referential integrity) and the per-entity feature extraction that feeds
the MLlib classifiers (plans/ml.py).

Parity notes (CLAUDE.md): time gaps via integer microseconds subtracted
then divided ONCE; argmax via max_by on a struct with a UNIQUE tiebreak;
counts BIGINT; ratios round(6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


# ---------------------------------------------------------------------------
# Column profile: nulls / distinct / range per column, long form.
# ---------------------------------------------------------------------------
q_dq_profile = register_sql(
    "dq_profile",
    """
    SELECT 'o_custkey' AS col,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(o_custkey) AS BIGINT) AS n_nonnull,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           round(min(o_custkey), 6) AS min_v, round(max(o_custkey), 6) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(count(*) AS BIGINT), CAST(count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           round(min(o_totalprice), 6), round(max(o_totalprice), 6)
    FROM orders
    UNION ALL
    SELECT 'o_orderkey', CAST(count(*) AS BIGINT), CAST(count(o_orderkey) AS BIGINT),
           CAST(count(DISTINCT o_orderkey) AS BIGINT),
           round(min(o_orderkey), 6), round(max(o_orderkey), 6)
    FROM orders
    """,
    tags=("dq", "profile", "A1"),
)


# ---------------------------------------------------------------------------
# Referential integrity: orphan counts across the star schema.
# ---------------------------------------------------------------------------
q_dq_referential = register_sql(
    "dq_referential",
    """
    SELECT 'orders->customer' AS fk,
           CAST((SELECT count(*) FROM orders
                 WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT)
             AS n_orphans,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'lineitem->orders',
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'lineitem->part',
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_partkey NOT IN (SELECT p_partkey FROM part)) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    """,
    tags=("dq", "referential", "anti"),
)


# ---------------------------------------------------------------------------
# Per-user behavioral features -- the classifier input table.
# ---------------------------------------------------------------------------
@register(
    "user_features",
    """
    WITH g AS (
      SELECT user_id, epoch_us(ts) AS us, value, event_type,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_us
      FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value,
           round(round(sum(value), 4) / count(*), 6) AS avg_value,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(sum(us - prev_us) // nullif(count(prev_us), 0) AS BIGINT)
             AS avg_gap_us,
           CAST(count_if(event_type = 'error') AS BIGINT) AS n_errors
    FROM g GROUP BY user_id
    """,
    tags=("features", "ml", "W4"),
)
def q_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user features for the fraud/abuse classifiers: volume, value
    moments, type diversity, mean inter-event gap, error rate. The lag
    window and the aggregate share the user_id hash partitioning (one
    shuffle). Gaps stay in integer microseconds end-to-end (integer
    division for the mean) -- the cross-engine rule for time deltas."""
    events = read_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    g = events.select(
        "user_id", "value", "event_type", us.alias("us"),
        F.lag(us).over(w).alias("prev_us"),
    )
    agg = g.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
        # avg derived from the ROUNDED sum: a raw avg()'s last ulp depends
        # on summation order and can straddle a round(6) boundary
        F.round(F.round(F.sum("value"), 4) / F.count("*"), 6).alias("avg_value"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        F.sum(F.col("us") - F.col("prev_us")).alias("_gap_sum"),
        F.count("prev_us").alias("_n_gaps"),
        F.count_if(F.col("event_type") == "error").cast("bigint").alias("n_errors"),
    )
    # mean gap via true INTEGER division (`div`, == DuckDB `//` on
    # bigints): a float average can land exactly on a round(6)
    # half-boundary, where Spark (BigDecimal HALF_UP) and DuckDB (double
    # multiply+nearbyint) legitimately disagree; integer arithmetic has
    # no boundary at all
    return agg.select(
        "user_id", "n_events", "total_value", "avg_value", "n_types",
        F.expr("CAST(_gap_sum div nullif(_n_gaps, 0) AS BIGINT)").alias("avg_gap_us"),
        "n_errors",
    )


# ---------------------------------------------------------------------------
# Incremental aggregation replay: fold 3 batch slices of orders through
# the mergeable-partials operator; the result must equal a one-shot
# GROUP BY (the materialized-view maintenance invariant, proven under
# the driver's hash gate, not just pytest).
# ---------------------------------------------------------------------------
q_incremental_agg_replay = register_sql(
    "incremental_agg_replay",
    """
    SELECT o_custkey,
           CAST(count(o_totalprice) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total,
           round(round(sum(o_totalprice), 2) / count(o_totalprice), 6) AS avg_v,
           round(min(o_totalprice), 2) AS min_v,
           round(max(o_totalprice), 2) AS max_v
    FROM orders GROUP BY o_custkey
    """,
    tags=("incremental", "A1", "materialized-view"),
)
