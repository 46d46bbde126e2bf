"""Extension batch 47: negative-binomial method-of-moments fit and the
exact trimmed mean.

Scale notes (the 100 TB story per query):
- negbin_fit_mom fits the overdispersed count model every
  events-per-user distribution actually follows: mean and variance
  from exact integer sums (one groupBy + one aggregate), then the
  method-of-moments r = m^2/(v - m) and p = m/v close in deterministic
  doubles. The Fano/dispersion screen says "overdispersed"; this
  query says BY HOW MUCH in model parameters.
- trimmed_mean is the robust location estimator done exactly on the
  distinct-value spine: the 10% rank bounds come from n alone, full
  spine rows inside the bounds contribute c*v, and the two BOUNDARY
  values contribute exactly the clipped multiplicities -- so the
  result equals the sorted-array definition bit-for-bit with no
  per-row ranks and no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.rank import with_global_rank
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_CENTS = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"


# ---------------------------------------------------------------------------
# Negative-binomial MoM fit of per-user event counts.
# ---------------------------------------------------------------------------
q_negbin_fit_mom = register_sql(
    "negbin_fit_mom",
    """
    WITH per AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS k FROM events
      GROUP BY user_id
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS s1,
             CAST(sum(k * k) AS BIGINT) AS s2
      FROM per
    )
    SELECT n, s1 AS total_events,
           round(CAST(s1 AS DOUBLE) / n, 6) AS mean_k,
           round(CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 6)
             AS var_k,
           CASE WHEN CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                     <= CAST(s1 AS DOUBLE) / n THEN NULL
                ELSE round((CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                  / (CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                     - CAST(s1 AS DOUBLE) / n), 6)
           END AS r_hat,
           CASE WHEN CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                     <= CAST(s1 AS DOUBLE) / n THEN NULL
                ELSE round((CAST(s1 AS DOUBLE) / n)
                  / (CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)), 6)
           END AS p_hat
    FROM s
    """,
    tags=("stats", "count-model", "overdispersion"),
)


# ---------------------------------------------------------------------------
# Exact 10% trimmed mean on the distinct-value spine.
# ---------------------------------------------------------------------------
@register(
    "trimmed_mean",
    f"""
    WITH vals AS (SELECT {_CENTS} AS v FROM orders),
    spine AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY v),
    cum AS (
      SELECT v, c,
             sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
             coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo
      FROM spine
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c) // 10 AS BIGINT) AS cut
      FROM spine
    ),
    kept AS (
      -- clipped multiplicity of each spine value inside ranks
      -- (cut, n - cut]
      SELECT cum.v,
             greatest(least(cum.hi, t.n - t.cut) - greatest(cum.lo, t.cut), 0)
               AS kc,
             t.n, t.cut
      FROM cum CROSS JOIN tot t
    )
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(max(cut) AS BIGINT) AS trimmed_each_side,
           CAST(sum(kc) AS BIGINT) AS n_kept,
           CAST(sum(kc * v) AS BIGINT) AS kept_sum_cents,
           CAST(sum(kc * v) // sum(kc) AS BIGINT) AS trimmed_mean_cents
    FROM kept WHERE kc > 0
    """,
    tags=("stats", "robust", "order-statistics"),
)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided trimmed mean computed EXACTLY on the spine: each
    distinct value keeps the clipped part of its multiplicity inside
    ranks (n/10, n - n/10], so the result equals the sorted-array
    definition with no per-row ranks. All integer arithmetic; the
    mean is a floor division of exact cents."""
    orders = read_table(spark, sf_dir, "orders")
    spine = orders.select(F.expr(_CENTS).alias("v")).groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # o_totalprice's distinct-cent spine is ~O(rows): inclusive running
    # count hi via the two-level rank plan; lo = hi - c (exclusive)
    cum = with_global_rank(
        spine, "v", [F.col("v")], prefix_sum={"hi": "c"}
    ).select("v", "c", "hi", (F.col("hi") - F.col("c")).alias("lo"))
    tot = spine.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.expr("CAST(sum(c) DIV 10 AS BIGINT)").alias("cut"),
    )
    kept = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        F.greatest(
            F.least(F.col("hi"), F.col("n") - F.col("cut"))
            - F.greatest(F.col("lo"), F.col("cut")),
            F.lit(0),
        ).alias("kc"),
        "n",
        "cut",
    )
    return (
        kept.where(F.col("kc") > 0)
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.max("cut").cast("bigint").alias("trimmed_each_side"),
            F.sum("kc").cast("bigint").alias("n_kept"),
            F.sum(F.col("kc") * F.col("v")).cast("bigint").alias("kept_sum_cents"),
            F.expr("CAST(sum(kc * v) DIV sum(kc) AS BIGINT)").alias(
                "trimmed_mean_cents"
            ),
        )
    )
