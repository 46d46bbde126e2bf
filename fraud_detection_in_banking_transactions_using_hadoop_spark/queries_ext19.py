"""Extension batch 19: fraud-analytics and model-evaluation staples --
RFM customer segmentation, exact rank-based ROC AUC, a threshold-sweep
confusion table, transaction-velocity flags, and near-threshold
(structuring) screening.

Scale notes:
- Every global ranking in this batch (three RFM quintiles, the AUC
  rank spine) goes through operators/rank.with_global_rank -- the
  two-level bucketed plan -- so nothing funnels the dataset through a
  single-partition window (the plan-quality gate enforces it).
- ROC AUC is the Mann-Whitney identity: AUC = (R1 - n1(n1+1)/2) /
  (n1*n0) with AVERAGE ranks for score ties, computed on the
  distinct-score spine with DOUBLED integer ranks -- everything exact
  until one final double division (CLAUDE.md float-parity rule).
- The confusion sweep aggregates the fact table ONCE into a bounded
  (bucket, label) table, then the 10-row threshold grid joins against
  that summary -- O(rows) + O(10 * buckets), no per-threshold scans.
- Velocity is a per-card RANGE-frame window over integer epoch days --
  partitioned by the natural key, tie-order independent by
  construction (RANGE includes all same-day rows).

Reference parity: generalizes the reference's per-card UCL screening
(FDProcBatch.txt:239-254 -- avg+3*stddev over the last 10 txns) to the
velocity/structuring screens a fraud shop runs beside it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.rank import (
    ntile_from_rank,
    with_global_rank,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"


# ---------------------------------------------------------------------------
# RFM segmentation: recency / frequency / monetary quintiles per
# customer, counted per segment cell.
# ---------------------------------------------------------------------------
@register(
    "rfm_segmentation",
    """
    WITH base AS (
      SELECT o_custkey AS cust, max(CAST(o_orderdate AS DATE)) AS last_d,
             CAST(count(*) AS BIGINT) AS f,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS m
      FROM orders GROUP BY o_custkey),
    anch AS (SELECT max(CAST(o_orderdate AS DATE)) AS anchor FROM orders),
    rfm AS (
      SELECT cust, CAST(anchor - last_d AS BIGINT) AS r_days, f, m
      FROM base, anch),
    q AS (
      SELECT cust, m,
             ntile(5) OVER (ORDER BY r_days, cust) AS r_q,
             ntile(5) OVER (ORDER BY f, cust) AS f_q,
             ntile(5) OVER (ORDER BY m, cust) AS m_q
      FROM rfm)
    SELECT CAST(r_q AS INTEGER) AS r_q, CAST(f_q AS INTEGER) AS f_q,
           CAST(m_q AS INTEGER) AS m_q,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(m) AS BIGINT) AS total_cents
    FROM q GROUP BY r_q, f_q, m_q
    """,
    tags=("fraud", "rfm", "segmentation"),
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM: days-since-last-order, order count, and exact cent
    spend per customer, each cut into exact NTILE(5) quintiles (unique
    cust tiebreak) -- but the quintiles come from THREE independent
    distributed ranks (operators/rank) joined back on the customer key,
    not from single-partition windows. Output is the segment-cell
    summary (125 cells max)."""
    orders = read_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        F.count(F.lit(1)).cast("bigint").alias("f"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("m"),
    )
    anch = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("anchor"))
    rfm = base.crossJoin(F.broadcast(anch)).select(
        "cust",
        F.datediff("anchor", "last_d").cast("bigint").alias("r_days"),
        "f",
        "m",
    )
    n_row = base.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))

    def quintile(metric: str, out: str) -> DataFrame:
        gr = with_global_rank(
            rfm.select("cust", metric),
            metric,
            [F.col(metric).asc(), F.col("cust").asc()],
            rank_col="_rk",
        )
        return gr.crossJoin(F.broadcast(n_row)).select(
            "cust", ntile_from_rank(F.col("_rk"), F.col("_n"), 5).alias(out)
        )

    q = (
        rfm.select("cust", "m")
        .join(quintile("r_days", "r_q"), "cust")
        .join(quintile("f", "f_q"), "cust")
        .join(quintile("m", "m_q"), "cust")
    )
    return q.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("m").cast("bigint").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# Exact ROC AUC via the rank identity on the distinct-score spine.
# ---------------------------------------------------------------------------
@register(
    "roc_auc_score",
    """
    WITH arms AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             value AS v
      FROM events),
    spine AS (
      SELECT v, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(y) AS BIGINT) AS c1
      FROM arms GROUP BY v),
    ranked AS (
      SELECT c, c1,
             coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM spine),
    agg AS (
      SELECT CAST(sum(CAST(c1 AS HUGEINT) * (2 * below + c + 1)) AS HUGEINT)
               AS r1x2,
             CAST(sum(CAST(c1 AS HUGEINT)) AS HUGEINT) AS n1,
             CAST(sum(CAST(c - c1 AS HUGEINT)) AS HUGEINT) AS n0
      FROM ranked)
    SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
           round(CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE)
                 / CAST(2 * n1 * n0 AS DOUBLE), 6) AS auc
    FROM agg
    """,
    tags=("ml-eval", "auc", "exact-arith"),
)
def q_roc_auc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC("does value separate purchases from the rest") without a
    single sort of the fact table: grouped counts per distinct score
    form the spine, the spine's exact prefix counts come from the
    two-level distributed rank (prefix_sum), DOUBLED average ranks keep
    ties exact, and AUC closes over the Mann-Whitney identity
    (r1x2 - n1(n1+1)) / (2 n1 n0) -- one double division at the end."""
    ev = read_table(spark, sf_dir, "events")
    arms = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.col("value").alias("v"),
    )
    spine = arms.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("y").cast("bigint").alias("c1"),
    )
    gr = with_global_rank(
        spine,
        "v",
        [F.col("v").asc()],
        rank_col="_rk",
        prefix_sum={"_cum_c": "c"},
    )
    ranked = gr.select("c", "c1", (F.col("_cum_c") - F.col("c")).alias("below"))
    agg = ranked.agg(
        F.sum(
            F.col("c1").cast(_DEC)
            * (2 * F.col("below") + F.col("c") + 1).cast(_DEC)
        )
        .cast(_DEC)
        .alias("r1x2"),
        F.sum(F.col("c1").cast(_DEC)).cast(_DEC).alias("n1"),
        F.sum((F.col("c") - F.col("c1")).cast(_DEC)).cast(_DEC).alias("n0"),
    )
    return agg.select(
        F.col("n1").cast("bigint").alias("n_pos"),
        F.col("n0").cast("bigint").alias("n_neg"),
        F.round(
            (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)).cast("double")
            / (2 * F.col("n1") * F.col("n0")).cast("double"),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Threshold-sweep confusion table: TP/FP/FN/TN + precision/recall at a
# fixed grid of score cutoffs, from ONE aggregation of the fact table.
# ---------------------------------------------------------------------------
@register(
    "threshold_sweep_confusion",
    """
    WITH arms AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y, value AS v
      FROM events),
    cells AS (
      SELECT CAST(floor(v / 50.0) AS BIGINT) AS b, y,
             CAST(count(*) AS BIGINT) AS n
      FROM arms GROUP BY 1, 2),
    grid AS (SELECT unnest(range(0, 10)) * 50.0 AS t),
    conf AS (
      SELECT t,
             sum(CASE WHEN b * 50.0 >= t AND y = 1 THEN n ELSE 0 END) AS tp,
             sum(CASE WHEN b * 50.0 >= t AND y = 0 THEN n ELSE 0 END) AS fp,
             sum(CASE WHEN b * 50.0 < t AND y = 1 THEN n ELSE 0 END) AS fn,
             sum(CASE WHEN b * 50.0 < t AND y = 0 THEN n ELSE 0 END) AS tn
      FROM grid CROSS JOIN cells GROUP BY t)
    SELECT round(t, 1) AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           CASE WHEN tp + fp = 0 THEN NULL
                ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
           CASE WHEN tp + fn = 0 THEN NULL
                ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall
    FROM conf
    """,
    tags=("ml-eval", "confusion", "threshold"),
)
def q_threshold_sweep_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ten operating points of the value-vs-purchase classifier in one
    pass: the fact table collapses to (score-bucket, label) counts --
    the grid is aligned to the 50.0 bucket width, so bucket membership
    fully determines each side of every cutoff -- then the 10-row
    threshold grid cross-joins the bounded summary. Guarded divisions
    (ANSI mode) return NULL at degenerate cutoffs."""
    ev = read_table(spark, sf_dir, "events")
    arms = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.col("value").alias("v"),
    )
    cells = arms.groupBy(
        F.floor(F.col("v") / 50.0).cast("bigint").alias("b"), "y"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    grid = spark.range(0, 10).select((F.col("id") * 50.0).alias("t"))
    j = F.broadcast(grid).crossJoin(cells)
    above = F.col("b") * 50.0 >= F.col("t")
    conf = j.groupBy("t").agg(
        F.sum(F.when(above & (F.col("y") == 1), F.col("n")).otherwise(0)).alias("tp"),
        F.sum(F.when(above & (F.col("y") == 0), F.col("n")).otherwise(0)).alias("fp"),
        F.sum(F.when(~above & (F.col("y") == 1), F.col("n")).otherwise(0)).alias("fn"),
        F.sum(F.when(~above & (F.col("y") == 0), F.col("n")).otherwise(0)).alias("tn"),
    )
    prec = F.when(
        (F.col("tp") + F.col("fp")) == 0, F.lit(None).cast("double")
    ).otherwise(F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6))
    rec = F.when(
        (F.col("tp") + F.col("fn")) == 0, F.lit(None).cast("double")
    ).otherwise(F.round(F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 6))
    return conf.select(
        F.round("t", 1).alias("threshold"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.col("tn").cast("bigint").alias("tn"),
        prec.alias("precision"),
        rec.alias("recall"),
    )


# ---------------------------------------------------------------------------
# Transaction-velocity screen: max orders inside any trailing 30-day
# window per customer.
# ---------------------------------------------------------------------------
q_velocity_flags = register_sql(
    "velocity_flags",
    """
    WITH o AS (
      SELECT o_custkey AS cust,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS ed
      FROM orders),
    w AS (
      SELECT cust,
             count(*) OVER (PARTITION BY cust ORDER BY ed
               RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS c30
      FROM o)
    SELECT CAST(cust AS BIGINT) AS cust,
           CAST(max(c30) AS BIGINT) AS max_30d_txns,
           CAST(CASE WHEN max(c30) >= 3 THEN 1 ELSE 0 END AS INTEGER) AS flagged
    FROM w GROUP BY cust
    """,
    tags=("fraud", "velocity", "W4"),
)


# ---------------------------------------------------------------------------
# Structuring screen: order amounts just under the 10,000 reporting
# threshold, per customer.
# ---------------------------------------------------------------------------
q_structuring_near_threshold = register_sql(
    "structuring_near_threshold",
    """
    WITH s AS (
      SELECT o_custkey AS cust,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CASE WHEN o_totalprice > 9000 AND o_totalprice <= 10000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_near
      FROM orders GROUP BY o_custkey)
    SELECT CAST(cust AS BIGINT) AS cust, n_orders, n_near,
           round(CAST(n_near AS DOUBLE) / n_orders, 6) AS near_share,
           CAST(CASE WHEN n_near >= 2 THEN 1 ELSE 0 END AS INTEGER) AS flagged
    FROM s WHERE n_near >= 1
    """,
    tags=("fraud", "structuring", "A1"),
)
