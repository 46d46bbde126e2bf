"""Extension batch 32: Cramér–von Mises two-sample test, G-test of
independence, and a training learning curve.

Scale notes (the 100 TB story per query):
- cramer_von_mises completes the two-sample toolkit (KS catches the
  largest EDF gap, CvM integrates ALL of it): on the distinct-value
  spine (the mann_whitney machinery) the tie-aware EDF form is
  T = (1/(N^2 n m)) * sum_v c_v * (A_v m - B_v n)^2 with cumulative
  counts A, B -- every term an exact integer accumulated in
  DECIMAL(38,0)/HUGEINT, one closing double division. Ties ARE the
  spine; no per-row ranks materialize.
- g_test_independence is the log-likelihood-ratio companion to the
  chi-square screen: G = 2 * sum O * ln(O/E) over the 9-cell
  returnflag x linestatus table, each term an e9 integer before the
  sum (order-free), zero cells dropping out exactly (0*ln0 = 0).
- learning_curve answers "does more data still help": item-bias models
  fitted on nested 25/50/75/100% hash-fractions of training users,
  each evaluated on the SAME held-out user bucket. Every fit is two
  groupBys (the bias-model shape); fractions nest deterministically
  (md5 bucket < k), so the curve is reproducible anywhere. e6
  fixed-point throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.rank import with_global_rank
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"


# ---------------------------------------------------------------------------
# Two-sample Cramér–von Mises on the distinct-value spine.
# ---------------------------------------------------------------------------
@register(
    "cramer_von_mises",
    """
    WITH arms AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS arm,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    spine AS (
      SELECT v, CAST(count(*) AS HUGEINT) AS c,
             CAST(sum(arm) AS HUGEINT) AS cx
      FROM arms GROUP BY v
    ),
    cum AS (
      SELECT c, cx,
             sum(cx) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a,
             sum(c - cx) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b
      FROM spine
    ),
    tot AS (
      SELECT CAST(sum(cx) AS HUGEINT) AS n, CAST(sum(c - cx) AS HUGEINT) AS m
      FROM spine
    ),
    s AS (
      SELECT CAST(sum(c * (a * t.m - b * t.n) * (a * t.m - b * t.n))
                  AS HUGEINT) AS num
      FROM cum CROSS JOIN tot t
    )
    SELECT CAST(t.n AS BIGINT) AS n_urgent,
           CAST(t.m AS BIGINT) AS n_low,
           round(CAST(s.num AS DOUBLE)
                 / (CAST((t.n + t.m) * (t.n + t.m) AS DOUBLE)
                    * CAST(t.n AS DOUBLE) * CAST(t.m AS DOUBLE)), 6)
             AS cvm_t
    FROM s CROSS JOIN tot t
    """,
    tags=("stats", "nonparametric", "two-sample"),
)
def q_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware EDF form on the distinct cent-value spine: cumulative
    arm counts A, B per value, T = sum(c*(Am-Bn)^2) / (N^2 n m). All
    sums in exact decimal; one closing double division (round 6)."""
    orders = read_table(spark, sf_dir, "orders")
    arms = orders.where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("arm"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("v"),
    )
    spine = arms.groupBy("v").agg(
        F.count(F.lit(1)).cast(_DEC).alias("c"),
        F.sum("arm").cast(_DEC).alias("cx"),
    ).withColumn("cy", F.col("c") - F.col("cx"))
    # the distinct-cent spine of o_totalprice is ~O(rows): inclusive
    # cumulative arm counts via the two-level rank plan, not a
    # single-task global window
    cum = with_global_rank(
        spine, "v", [F.col("v")], prefix_sum={"a": "cx", "b": "cy"}
    ).select("c", "cx", F.col("a").cast(_DEC).alias("a"), F.col("b").cast(_DEC).alias("b"))
    tot = spine.agg(
        F.sum("cx").cast(_DEC).alias("n"),
        F.sum(F.col("c") - F.col("cx")).cast(_DEC).alias("m"),
    )
    s = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("c")
            * (F.col("a") * F.col("m") - F.col("b") * F.col("n"))
            * (F.col("a") * F.col("m") - F.col("b") * F.col("n"))
        )
        .cast(_DEC)
        .alias("num"),
        F.max("n").alias("n"),
        F.max("m").alias("m"),
    )
    nd, md = F.col("n").cast("double"), F.col("m").cast("double")
    return s.select(
        F.col("n").cast("bigint").alias("n_urgent"),
        F.col("m").cast("bigint").alias("n_low"),
        F.round(
            F.col("num").cast("double") / ((nd + md) * (nd + md) * nd * md), 6
        ).alias("cvm_t"),
    )


# ---------------------------------------------------------------------------
# G-test (log-likelihood ratio) of independence.
# ---------------------------------------------------------------------------
q_g_test_independence = register_sql(
    "g_test_independence",
    """
    WITH obs AS (
      SELECT l_returnflag AS r, l_linestatus AS s,
             CAST(count(*) AS BIGINT) AS o
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    ),
    marg AS (
      SELECT o.r, o.s, o.o,
             sum(o.o) OVER (PARTITION BY o.r) AS row_t,
             sum(o.o) OVER (PARTITION BY o.s) AS col_t,
             sum(o.o) OVER () AS n
      FROM obs o
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST((count(DISTINCT r) - 1) * (count(DISTINCT s) - 1) AS BIGINT)
             AS dof,
           CAST(sum(CAST(round(2000000000.0 * o
                 * ln(CAST(o AS DOUBLE) * n
                      / (CAST(row_t AS DOUBLE) * col_t)), 0) AS BIGINT))
                AS BIGINT) AS g_e9
    FROM marg
    """,
    tags=("stats", "independence", "A1"),
)


# ---------------------------------------------------------------------------
# Learning curve: nested train fractions, fixed holdout.
# ---------------------------------------------------------------------------
_EVAL_BUCKET = 15  # md5(user) % 16 == 15 -> holdout
_FRACTIONS = (4, 8, 12, 15)  # train buckets < k of the 15 non-eval buckets


def _bucket_sql(col: str) -> str:
    return f"(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8))::BIGINT % 16)"


def _curve_cte(k: int) -> str:
    return f"""
    SELECT CAST({k} AS INTEGER) AS train_buckets,
           (SELECT CAST(count(*) AS BIGINT) FROM r
            WHERE bkt < {k}) AS n_train_rows,
           CAST(sum(abs(1000000 * e.q
                 - (sel{k}.mu_e6 + coalesce(bi{k}.bi_e6, 0)))) // count(*)
                AS BIGINT) AS mae_e6
    FROM ev e
    CROSS JOIN (SELECT (1000000 * CAST(sum(q) AS BIGINT)) // count(*) AS mu_e6
                FROM r WHERE bkt < {k}) sel{k}
    LEFT JOIN (SELECT i, CAST(sum(1000000 * q
                    - (SELECT (1000000 * CAST(sum(q) AS BIGINT)) // count(*)
                       FROM r WHERE bkt < {k}))
                    // count(*) AS BIGINT) AS bi_e6
               FROM r WHERE bkt < {k} GROUP BY i) bi{k} ON e.i = bi{k}.i
    """


_CURVE_SQL = "\nUNION ALL\n".join(_curve_cte(k) for k in _FRACTIONS)


@register(
    "learning_curve",
    f"""
    WITH base AS (
      SELECT o.o_custkey AS u, l.l_partkey AS i,
             CAST(l.l_quantity AS BIGINT) AS q,
             {_bucket_sql("o.o_custkey")} AS bkt
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    r AS (SELECT * FROM base WHERE bkt < {_EVAL_BUCKET}),
    ev AS (SELECT * FROM base WHERE bkt = {_EVAL_BUCKET})
    {_CURVE_SQL}
    ORDER BY train_buckets
    """,
    tags=("ml", "eval", "learning-curve"),
)
def q_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mu + b_item fitted on nested md5-bucket user fractions (4/8/12/
    15 of 15 train buckets), each scored on the same held-out bucket
    (unseen items fall back to mu). e6 fixed-point exact; the curve
    shows whether item coverage still improves with more users."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    bkt = (
        F.conv(F.substring(F.md5(F.col("u").cast("string")), 1, 8), 16, 10).cast("bigint")
        % 16
    )
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("u"),
            F.col("l_partkey").alias("i"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .withColumn("bkt", bkt)
    )
    r = base.where(F.col("bkt") < _EVAL_BUCKET)
    ev = base.where(F.col("bkt") == _EVAL_BUCKET)
    outs = []
    for k in _FRACTIONS:
        tr = r.where(F.col("bkt") < k)
        mu = tr.agg(
            F.expr("(1000000 * CAST(sum(q) AS BIGINT)) DIV count(*)").alias("mu_e6"),
            F.count(F.lit(1)).cast("bigint").alias("n_train_rows"),
        )
        bi = (
            tr.crossJoin(F.broadcast(mu.select("mu_e6")))
            .groupBy("i")
            .agg(
                F.expr("CAST(sum(1000000 * q - mu_e6) DIV count(*) AS BIGINT)").alias(
                    "bi_e6"
                )
            )
        )
        scored = (
            ev.crossJoin(F.broadcast(mu))
            .join(bi, "i", "left")
            .select(
                "q",
                "mu_e6",
                "n_train_rows",
                (F.col("mu_e6") + F.coalesce(F.col("bi_e6"), F.lit(0))).alias("pred_e6"),
            )
        )
        outs.append(
            scored.groupBy("n_train_rows").agg(
                F.lit(k).cast("integer").alias("train_buckets"),
                F.expr(
                    "CAST(sum(abs(1000000 * q - pred_e6)) DIV count(*) AS BIGINT)"
                ).alias("mae_e6"),
            ).select("train_buckets", "n_train_rows", "mae_e6")
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out.orderBy("train_buckets")
