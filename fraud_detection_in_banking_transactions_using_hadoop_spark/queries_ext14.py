"""Extension batch 14: inequality measures, information theory,
survival analysis, and embedding-space model evaluation.

Scale notes:
- The Gini coefficient uses the sorted-prefix identity
  G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over rank-ordered
  exact cents -- O(n log n) instead of the O(n^2) pairwise |x_i-x_j|
  definition (the pytest verifies the identity against the literal
  quadratic at test scale). All sums are DECIMAL(38,0)/HUGEINT.
- The Lorenz curve is one ntile + per-decile exact sums + a cumulative
  window over 10 rows.
- Mutual information shares the chi-square cell/margin machinery; each
  cell's p*ln term scales to an e12 integer before the (tiny) sum, so
  no double accumulation crosses engines.
- Kaplan-Meier runs entirely on the grouped event-time table: at-risk
  counts come from total-minus-prior-cumulative (one ordered window,
  no correlated subquery on the Spark side), and the product-limit
  survivor function is exp of a cumulative sum of e8-integer log
  terms -- the clamp/product analogue of the prefix-sum family.
- LOO kNN accuracy brute-forces 100 probes x all vectors through the
  same broadcast cross join as the ann_cosine baseline (whitelisted),
  then majority-votes with fully deterministic tie-breaks.
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
# Gini coefficient of order totals via the sorted-prefix identity.
# ---------------------------------------------------------------------------
@register(
    "gini_coefficient",
    """
    WITH s AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x,
             CAST(row_number() OVER (ORDER BY round(o_totalprice * 100, 0),
                                     o_orderkey) AS BIGINT) AS i
      FROM orders
    ),
    agg AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(i AS HUGEINT) * x) AS HUGEINT) AS six,
             CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(CAST(2 * six - (n + 1) * sx AS DOUBLE)
                 / CAST(n * sx AS DOUBLE), 6) AS gini
    FROM agg
    """,
    tags=("inequality", "gini", "exact-arith"),
)
def q_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue inequality in one DISTRIBUTED sort: for rank-ordered
    values the mean absolute pairwise difference collapses to the
    prefix identity G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)), so
    the O(n^2) definition becomes rank + two exact integer sums (the
    pytest checks the identity against the literal pairwise double
    loop). The rank comes from operators/rank.with_global_rank --
    bucketed two-level row_number, no single-partition window -- with
    the unique o_orderkey tiebreak; equal values contribute identically
    under either tie order, so the statistic is order-stable."""
    orders = read_table(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    base = orders.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("x"),
        "o_orderkey",
    )
    s = with_global_rank(
        base, "x", [F.col("x").asc(), F.col("o_orderkey").asc()], rank_col="i",
        bucket_bits=16,  # cent domain (r13)
    )
    agg = s.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("i").cast(dec) * F.col("x")).cast(dec).alias("six"),
        F.sum(F.col("x").cast(dec)).cast(dec).alias("sx"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(
            (2 * F.col("six") - (F.col("n") + 1) * F.col("sx")).cast("double")
            / (F.col("n") * F.col("sx")).cast("double"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Lorenz curve: cumulative revenue share by population decile.
# ---------------------------------------------------------------------------
@register(
    "lorenz_curve",
    """
    WITH s AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x,
             ntile(10) OVER (ORDER BY round(o_totalprice * 100, 0), o_orderkey)
               AS decile
      FROM orders
    ),
    per AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS cents
      FROM s GROUP BY decile
    )
    SELECT CAST(decile AS INTEGER) AS decile,
           round(decile / 10.0, 1) AS pop_share,
           round(CAST(sum(cents) OVER (ORDER BY decile) AS DOUBLE)
                 / sum(cents) OVER (), 6) AS cum_revenue_share,
           n
    FROM per
    """,
    tags=("inequality", "lorenz", "W2"),
)
def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve points: the poorest 10%..100% of orders versus
    their cumulative share of revenue (the curve whose gap to the
    diagonal IS the Gini). Decile assignment is the closed-form NTILE
    over the distributed global rank (operators/rank) -- no
    single-partition window; the 1-row total-count broadcast and the
    10-row cumulative window are the only non-distributed pieces."""
    orders = read_table(spark, sf_dir, "orders")
    base = orders.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("x"),
        "o_orderkey",
    )
    ranked = with_global_rank(
        base, "x", [F.col("x").asc(), F.col("o_orderkey").asc()], rank_col="i",
        bucket_bits=16,  # cent domain (r13)
    )
    n_row = base.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    s = ranked.crossJoin(F.broadcast(n_row)).select(
        "x", ntile_from_rank(F.col("i"), F.col("_n"), 10).alias("decile")
    )
    per = s.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("cents"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        F.col("decile").cast("integer").alias("decile"),
        F.round(F.col("decile") / 10.0, 1).alias("pop_share"),
        F.round(
            F.sum("cents").over(wc).cast("double") / F.sum("cents").over(Window.partitionBy()),
            6,
        ).alias("cum_revenue_share"),
        "n",
    )


# ---------------------------------------------------------------------------
# Mutual information between return flag and line status, with e12
# integer term accumulation.
# ---------------------------------------------------------------------------
q_mutual_information = register_sql(
    "mutual_information",
    """
    WITH cells AS (
      SELECT l_returnflag AS rf, l_linestatus AS ls,
             CAST(count(*) AS BIGINT) AS obs
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    ),
    margins AS (
      SELECT rf, ls, obs,
             sum(obs) OVER (PARTITION BY rf) AS row_n,
             sum(obs) OVER (PARTITION BY ls) AS col_n,
             sum(obs) OVER () AS n
      FROM cells
    ),
    terms AS (
      SELECT n,
             CAST(round((CAST(obs AS DOUBLE) / n)
                        * ln(CAST(obs AS DOUBLE) * n
                             / (CAST(row_n AS DOUBLE) * col_n)) * 1e12, 0)
                  AS BIGINT) AS term_e12
      FROM margins
    )
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(CAST(sum(term_e12) AS DOUBLE) / 1e12, 6) AS mi_nats
    FROM terms
    """,
    tags=("information", "mi", "exact-arith"),
)


# ---------------------------------------------------------------------------
# Kaplan-Meier survival: time to first purchase with right-censoring
# at each user's last observed event.
# ---------------------------------------------------------------------------
@register(
    "kaplan_meier_survival",
    """
    WITH per_user AS (
      SELECT user_id,
             min(CAST(ts AS DATE)) AS first_day,
             max(CAST(ts AS DATE)) AS last_day,
             min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END)
               AS p_day
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT CASE WHEN p_day IS NOT NULL
                  THEN date_diff('day', first_day, p_day)
                  ELSE date_diff('day', first_day, last_day) END AS t,
             CASE WHEN p_day IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per_user
    ),
    allt AS (
      SELECT t, CAST(count(*) AS BIGINT) AS ending,
             CAST(sum(ev) AS BIGINT) AS d
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, d,
             (SELECT CAST(count(*) AS BIGINT) FROM obs) -
             coalesce(sum(ending) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM allt
    ),
    steps AS (
      SELECT t, d, n_risk,
             CASE WHEN d < n_risk
                  THEN CAST(round(ln(1.0 - CAST(d AS DOUBLE) / n_risk) * 1e8, 0)
                            AS BIGINT)
                  ELSE NULL END AS le8,
             CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS died_out
      FROM risk WHERE d > 0
    )
    SELECT CAST(t AS BIGINT) AS t_days, d AS n_events,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           CASE WHEN max(died_out) OVER (ORDER BY t) = 1 THEN 0.0
                ELSE round(exp(CAST(sum(le8) OVER (ORDER BY t) AS DOUBLE) / 1e8), 6)
           END AS survival
    FROM steps
    """,
    tags=("survival", "kaplan-meier", "exact-arith"),
)
def q_kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-limit estimator for days-to-first-purchase, censoring
    non-converters at their last observed day. At-risk counts avoid
    the correlated subquery: total minus the prior cumulative of
    endings (one ordered window over |distinct times|). The survivor
    product becomes exp of a cumulative sum of e8-integer log terms --
    exact accumulation, one exp per row -- with an explicit zero once
    d == n_risk (everyone at risk exits). Rows only at event times,
    per KM convention."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day"),
        F.max(F.col("ts").cast("date")).alias("last_day"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts").cast("date"))
        ).alias("p_day"),
    )
    obs = per_user.select(
        F.when(
            F.col("p_day").isNotNull(), F.datediff("p_day", "first_day")
        )
        .otherwise(F.datediff("last_day", "first_day"))
        .alias("t"),
        F.when(F.col("p_day").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    allt = obs.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("ending"),
        F.sum("ev").cast("bigint").alias("d"),
    )
    wt = Window.orderBy("t")
    prior = F.coalesce(
        F.sum("ending").over(wt.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    total = F.sum("ending").over(Window.partitionBy())
    risk = allt.select("t", "d", (total - prior).cast("bigint").alias("n_risk"))
    steps = risk.where(F.col("d") > 0).select(
        "t",
        "d",
        "n_risk",
        F.when(
            F.col("d") < F.col("n_risk"),
            F.round(
                F.log(1.0 - F.col("d").cast("double") / F.col("n_risk")) * 1e8, 0
            ).cast("bigint"),
        ).alias("le8"),
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0).alias("died_out"),
    )
    return steps.select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("d").alias("n_events"),
        F.col("n_risk").cast("bigint").alias("n_at_risk"),
        F.when(F.max("died_out").over(wt.rowsBetween(Window.unboundedPreceding, 0)) == 1, 0.0)
        .otherwise(
            F.round(
                F.exp(
                    F.sum("le8")
                    .over(wt.rowsBetween(Window.unboundedPreceding, 0))
                    .cast("double")
                    / 1e8
                ),
                6,
            )
        )
        .alias("survival"),
    )


# ---------------------------------------------------------------------------
# Leave-one-out kNN classification accuracy on the embedding table
# (k=5, cosine, majority vote with deterministic tie-breaks).
# ---------------------------------------------------------------------------
@register(
    "knn_loo_accuracy",
    """
    WITH probes AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, label
      FROM embeddings WHERE vec_id < 100
    ),
    base AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    sims AS (
      SELECT p.vec_id AS pid, p.label AS true_label, b.vec_id AS nid,
             b.label AS n_label,
             round(list_dot_product(p.v, b.v) /
                   (sqrt(list_dot_product(p.v, p.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
      FROM probes p, base b WHERE p.vec_id <> b.vec_id
    ),
    top5 AS (
      SELECT * FROM (
        SELECT pid, true_label, n_label,
               row_number() OVER (PARTITION BY pid
                                  ORDER BY cosine DESC, nid) AS rk
        FROM sims) WHERE rk <= 5
    ),
    votes AS (
      SELECT pid, true_label, n_label, CAST(count(*) AS BIGINT) AS c
      FROM top5 GROUP BY pid, true_label, n_label
    ),
    pred AS (
      SELECT pid, true_label, n_label AS pred_label FROM (
        SELECT *, row_number() OVER (PARTITION BY pid
                                     ORDER BY c DESC, n_label) AS vr
        FROM votes) WHERE vr = 1
    )
    SELECT CAST(5 AS INTEGER) AS k, CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           round(CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS accuracy
    FROM pred
    """,
    tags=("ml-eval", "knn", "similarity"),
)
def q_knn_loo_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality metric: leave-one-out 5-NN cosine majority
    vote over 100 probe vectors. The probe side broadcasts through the
    same cross join as the ann_cosine baseline (whitelisted -- probes
    are a constant 100 rows); ranks and votes break ties
    deterministically (neighbor id, then smallest label). The output
    is the 1-row accuracy summary a model-eval pipeline tracks."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    probes = emb.where(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("pid"), F.col("v").alias("pv"), F.col("label").alias("true_label")
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, z: acc + z
        )

    sims = (
        emb.crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("pid"))
        .select(
            "pid",
            "true_label",
            F.col("vec_id").alias("nid"),
            F.col("label").alias("n_label"),
            F.round(
                dot(F.col("pv"), F.col("v"))
                / (F.sqrt(dot(F.col("pv"), F.col("pv"))) * F.sqrt(dot(F.col("v"), F.col("v")))),
                6,
            ).alias("cosine"),
        )
    )
    wr = Window.partitionBy("pid").orderBy(F.desc("cosine"), "nid")
    top5 = sims.withColumn("rk", F.row_number().over(wr)).where(F.col("rk") <= 5)
    votes = top5.groupBy("pid", "true_label", "n_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wv = Window.partitionBy("pid").orderBy(F.desc("c"), "n_label")
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .where(F.col("vr") == 1)
        .select("pid", "true_label", F.col("n_label").alias("pred_label"))
    )
    correct = F.sum(
        F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    )
    return pred.agg(
        F.lit(5).cast("integer").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        correct.cast("bigint").alias("n_correct"),
        F.round(correct.cast("double") / F.count(F.lit(1)), 6).alias("accuracy"),
    )
