"""Extension batch 39: diversity-constrained top-k, multiset set
operations, and a bidirectional nearest-in-time asof join.

Scale notes (the 100 TB story per query):
- diversified_topk is the search/reco result-diversity pattern: global
  top-20 parts by revenue holding AT MOST 2 per supplier. The
  per-supplier cap is a partitioned rank (scale-free); only the
  already-capped survivors reach the final ordered limit
  (TakeOrderedAndProject, never a global sort).
- set_ops_multiset covers the EXCEPT ALL / INTERSECT ALL multiset
  semantics (duplicates preserved by multiplicity) that the
  distinct-flavored set_ops queries don't: Spark's
  exceptAll/intersectAll against DuckDB's ALL variants, summarized to
  deterministic counts per key.
- asof_nearest_join generalizes the backward-only ASOF: for every
  error event, the NEAREST purchase of the same user within +-6h,
  looking both directions. One merged per-user ordered window (the
  union-window trick twice: last purchase at-or-before via a running
  max, next purchase after via the reversed order) -- both windows
  partitioned by user, no range self-join, no data-grain global
  anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


# ---------------------------------------------------------------------------
# Diversity-constrained global top-k.
# ---------------------------------------------------------------------------
q_diversified_topk = register_sql(
    "diversified_topk",
    """
    WITH rev AS (
      SELECT l_partkey AS part, l_suppkey AS supp,
             CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    capped AS (
      SELECT part, supp, cents,
             row_number() OVER (PARTITION BY supp
                                ORDER BY cents DESC, part) AS supp_rank
      FROM rev
    )
    SELECT part, supp, cents, CAST(supp_rank AS BIGINT) AS supp_rank
    FROM capped WHERE supp_rank <= 2
    ORDER BY cents DESC, part LIMIT 20
    """,
    tags=("topk", "diversity", "W2"),
)


# ---------------------------------------------------------------------------
# Multiset EXCEPT ALL / INTERSECT ALL.
# ---------------------------------------------------------------------------
@register(
    "set_ops_multiset",
    """
    WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 200000),
    b AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'),
    ex AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b),
    ix AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
    SELECT 'except_all' AS op, k, CAST(count(*) AS BIGINT) AS multiplicity
    FROM ex GROUP BY k
    UNION ALL
    SELECT 'intersect_all', k, CAST(count(*) AS BIGINT) FROM ix GROUP BY k
    """,
    tags=("setop", "multiset"),
)
def q_set_ops_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL keeps max(count_a - count_b, 0) copies, INTERSECT
    ALL keeps min(count_a, count_b): the multiset semantics the
    distinct set ops can't express. Spark's exceptAll/intersectAll vs
    DuckDB's ALL variants, summarized to per-key multiplicities for a
    deterministic compare."""
    o = read_table(spark, sf_dir, "orders")
    a = o.where(F.col("o_totalprice") > 200000).select(F.col("o_custkey").alias("k"))
    b = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    ex = (
        a.exceptAll(b)
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("multiplicity"))
        .select(F.lit("except_all").alias("op"), "k", "multiplicity")
    )
    ix = (
        a.intersectAll(b)
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("multiplicity"))
        .select(F.lit("intersect_all").alias("op"), "k", "multiplicity")
    )
    return ex.unionByName(ix)


# ---------------------------------------------------------------------------
# Bidirectional nearest-in-time asof join: error -> nearest purchase.
# ---------------------------------------------------------------------------
_TOL_US = 6 * 3600 * 1000000


@register(
    "asof_nearest_join",
    f"""
    WITH ev AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events
      WHERE event_type IN ('error', 'purchase')
    ),
    marked AS (
      SELECT user_id, event_id, event_type, t,
             max(CASE WHEN event_type = 'purchase' THEN t END)
               OVER (PARTITION BY user_id ORDER BY t, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_t,
             min(CASE WHEN event_type = 'purchase' THEN t END)
               OVER (PARTITION BY user_id ORDER BY t, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_t
      FROM ev
    )
    SELECT user_id, event_id AS error_event_id,
           CASE WHEN prev_t IS NULL AND next_t IS NULL THEN NULL
                WHEN next_t IS NULL THEN t - prev_t
                WHEN prev_t IS NULL THEN next_t - t
                WHEN t - prev_t <= next_t - t THEN t - prev_t
                ELSE next_t - t END AS nearest_dt_us,
           CASE WHEN prev_t IS NULL AND next_t IS NULL THEN NULL
                WHEN next_t IS NULL THEN 'before'
                WHEN prev_t IS NULL THEN 'after'
                WHEN t - prev_t <= next_t - t THEN 'before'
                ELSE 'after' END AS direction
    FROM marked
    WHERE event_type = 'error'
      AND (CASE WHEN prev_t IS NULL AND next_t IS NULL THEN NULL
                WHEN next_t IS NULL THEN t - prev_t
                WHEN prev_t IS NULL THEN next_t - t
                WHEN t - prev_t <= next_t - t THEN t - prev_t
                ELSE next_t - t END) <= {_TOL_US}
    """,
    tags=("asof", "join", "temporal"),
)
def q_asof_nearest_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest purchase (either direction) within 6h of each error
    event, per user: one merged per-user ordered window gives the last
    purchase strictly before (running max over the marked column) and
    the first strictly after (running min over the following frame) --
    the union-window trick in both directions, ties going to 'before'.
    No range self-join; everything shuffles once on user_id."""
    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("error", "purchase"))
        .select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("t"))
    )
    base = Window.partitionBy("user_id").orderBy("t", "event_id")
    prev_t = F.max(
        F.when(F.col("event_type") == "purchase", F.col("t"))
    ).over(base.rowsBetween(Window.unboundedPreceding, -1))
    next_t = F.min(
        F.when(F.col("event_type") == "purchase", F.col("t"))
    ).over(base.rowsBetween(1, Window.unboundedFollowing))
    marked = ev.select("user_id", "event_id", "event_type", "t",
                       prev_t.alias("prev_t"), next_t.alias("next_t"))
    dt = (
        F.when(F.col("prev_t").isNull() & F.col("next_t").isNull(), F.lit(None).cast("bigint"))
        .when(F.col("next_t").isNull(), F.col("t") - F.col("prev_t"))
        .when(F.col("prev_t").isNull(), F.col("next_t") - F.col("t"))
        .when(F.col("t") - F.col("prev_t") <= F.col("next_t") - F.col("t"), F.col("t") - F.col("prev_t"))
        .otherwise(F.col("next_t") - F.col("t"))
    )
    direction = (
        F.when(F.col("prev_t").isNull() & F.col("next_t").isNull(), F.lit(None).cast("string"))
        .when(F.col("next_t").isNull(), F.lit("before"))
        .when(F.col("prev_t").isNull(), F.lit("after"))
        .when(F.col("t") - F.col("prev_t") <= F.col("next_t") - F.col("t"), F.lit("before"))
        .otherwise(F.lit("after"))
    )
    return (
        marked.where(F.col("event_type") == "error")
        .select(
            "user_id",
            F.col("event_id").alias("error_event_id"),
            dt.alias("nearest_dt_us"),
            direction.alias("direction"),
        )
        .where(F.col("nearest_dt_us") <= _TOL_US)
    )
