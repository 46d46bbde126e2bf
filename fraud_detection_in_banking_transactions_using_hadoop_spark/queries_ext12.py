"""Extension batch 12: recommender similarity, drift detection, FIFO
lot matching as interval algebra, distribution comparison, and a
diff-in-diff estimate.

Scale notes:
- Item-item CF builds co-occurrence counts with the bounded
  within-order self-join (work ~ sum of order-size^2, never |parts|^2)
  and broadcasts the per-item counts back; cosine is one sqrt over
  exact integers.
- CUSUM reuses the clamp closed form (max(0, s+dev) == prefix -
  running-min of prefix) proven in clamped_running_balance -- the
  "inherently sequential" drift statistic runs as two stacked windows
  on integer cents.
- FIFO lot matching is the no-sequential-scan formulation: supply lots
  and demands become half-open intervals on the CUMULATIVE-quantity
  axis ([cum-qty, cum)); a lot feeds a demand iff their cumulative
  intervals overlap, and the matched quantity is the overlap length.
  The pairing is an equi-join on part + two range predicates -- no
  per-row state machine, provably identical to sequential FIFO (the
  pytest replays the literal queue algorithm).
- QQ deciles compare two distributions via each side's interpolated
  quantile vector (one aggregate per side, 9-row join on decile).
- Diff-in-diff is ONE conditional-aggregation pass over the joined
  fact (4 cell sums + counts), means derived from rounded exact sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


# ---------------------------------------------------------------------------
# Item-item collaborative-filtering similarity: cosine over order
# co-occurrence vectors, top 50 pairs.
# ---------------------------------------------------------------------------
q_item_cf_similarity = register_sql(
    "item_cf_similarity",
    """
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    pair AS (
      SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS c_ab
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p HAVING count(*) >= 3
    ),
    item AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM op GROUP BY p)
    SELECT CAST(pa AS BIGINT) AS part_a, CAST(pb AS BIGINT) AS part_b, c_ab,
           ia.c AS n_a, ib.c AS n_b,
           round(CAST(c_ab AS DOUBLE) / sqrt(CAST(ia.c AS DOUBLE) * ib.c), 6)
             AS cosine
    FROM pair JOIN item ia ON ia.p = pair.pa
              JOIN item ib ON ib.p = pair.pb
    ORDER BY cosine DESC, part_a, part_b
    LIMIT 50
    """,
    tags=("recsys", "similarity", "J1"),
)


# ---------------------------------------------------------------------------
# CUSUM drift detection on daily revenue: the one-sided cumulative-sum
# statistic via the prefix-minus-running-min clamp rewrite.
# ---------------------------------------------------------------------------
@register(
    "cusum_drift_detection",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS x
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    ranked AS (
      SELECT d, x, row_number() OVER (ORDER BY d) AS rn FROM daily
    ),
    ref AS (
      SELECT d, x,
             sum(CASE WHEN rn <= 90 THEN x ELSE 0 END) OVER () // 90 AS mu
      FROM ranked
    ),
    pre AS (
      SELECT d, x, mu,
             sum(x - mu) OVER (ORDER BY d) AS p
      FROM ref
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(p - least(0, min(p) OVER (ORDER BY d)) AS BIGINT) AS cusum_cents
    FROM pre
    QUALIFY p - least(0, min(p) OVER (ORDER BY d)) > 50 * mu
    """,
    tags=("drift", "cusum", "prefix-sum-rewrite"),
)
def q_cusum_drift_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM: s_t = max(0, s_{t-1} + (x_t - mu)) with mu the
    integer-div mean of the first 90 observed days. The recurrence runs
    as prefix-sum minus running-min (the clamp closed form), so the
    whole drift detector is two stacked global-order windows over
    |days| rows of exact cents. Emits only days where the accumulated
    excess tops 50 reference-days of revenue -- a sustained upward
    shift."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias("x")
    )
    wd = Window.orderBy("d")
    ranked = daily.select("d", "x", F.row_number().over(wd).alias("rn"))
    # integer div, not floor(double /): the quotient must be exact
    ref = ranked.select(
        "d",
        "x",
        F.sum(F.when(F.col("rn") <= 90, F.col("x")).otherwise(0))
        .over(Window.partitionBy())
        .alias("s90"),
    ).selectExpr("d", "x", "CAST(s90 div 90 AS BIGINT) AS mu")
    pre = ref.select(
        "d", "mu", F.sum(F.col("x") - F.col("mu")).over(wd).alias("p")
    )
    s = F.col("p") - F.least(F.lit(0).cast("long"), F.min("p").over(wd))
    return (
        pre.select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            s.cast("bigint").alias("cusum_cents"),
            "mu",
        )
        .where(F.col("cusum_cents") > 50 * F.col("mu"))
        .drop("mu")
    )


# ---------------------------------------------------------------------------
# FIFO lot matching: supply lots feed demands in ship-date order; the
# sequential queue algorithm becomes an interval join on the
# cumulative-quantity axis.
# ---------------------------------------------------------------------------
q_fifo_lot_matching = register_sql(
    "fifo_lot_matching",
    """
    WITH supply AS (
      SELECT l_partkey AS part, CAST(l_quantity AS BIGINT) AS qty,
             row_number() OVER (PARTITION BY l_partkey
                                ORDER BY l_shipdate, l_quantity,
                                         l_orderkey * 100 + l_linenumber) AS rn,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_quantity, l_orderkey * 100 + l_linenumber)
               AS cum
      FROM lineitem WHERE l_returnflag = 'N'
    ),
    demand AS (
      SELECT l_partkey AS part, CAST(l_quantity AS BIGINT) AS qty,
             row_number() OVER (PARTITION BY l_partkey
                                ORDER BY l_shipdate, l_quantity,
                                         l_orderkey * 100 + l_linenumber) AS rn,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_quantity, l_orderkey * 100 + l_linenumber)
               AS cum
      FROM lineitem WHERE l_returnflag = 'R'
    )
    SELECT CAST(s.part AS BIGINT) AS part,
           CAST(s.rn AS BIGINT) AS supply_lot, CAST(d.rn AS BIGINT) AS demand_seq,
           CAST(least(s.cum, d.cum) - greatest(s.cum - s.qty, d.cum - d.qty)
                AS BIGINT) AS matched_qty
    FROM supply s JOIN demand d
      ON s.part = d.part
     AND s.cum - s.qty < d.cum
     AND d.cum - d.qty < s.cum
    """,
    tags=("fifo", "interval-join", "inventory"),
)


# ---------------------------------------------------------------------------
# QQ decile comparison of order totals: fulfilled ('F') vs open ('O')
# order-status distributions.
# ---------------------------------------------------------------------------
@register(
    "qq_quantiles",
    """
    WITH fv AS (
      SELECT [quantile_cont(o_totalprice, 0.1), quantile_cont(o_totalprice, 0.2),
              quantile_cont(o_totalprice, 0.3), quantile_cont(o_totalprice, 0.4),
              quantile_cont(o_totalprice, 0.5), quantile_cont(o_totalprice, 0.6),
              quantile_cont(o_totalprice, 0.7), quantile_cont(o_totalprice, 0.8),
              quantile_cont(o_totalprice, 0.9)] AS qs
      FROM orders WHERE o_orderstatus = 'F'
    ),
    ov AS (
      SELECT [quantile_cont(o_totalprice, 0.1), quantile_cont(o_totalprice, 0.2),
              quantile_cont(o_totalprice, 0.3), quantile_cont(o_totalprice, 0.4),
              quantile_cont(o_totalprice, 0.5), quantile_cont(o_totalprice, 0.6),
              quantile_cont(o_totalprice, 0.7), quantile_cont(o_totalprice, 0.8),
              quantile_cont(o_totalprice, 0.9)] AS qs
      FROM orders WHERE o_orderstatus = 'O'
    ),
    fq AS (
      SELECT i.i AS decile, qs[i.i] AS q
      FROM fv, (SELECT unnest(range(1, 10)) AS i) i
    ),
    oq AS (
      SELECT i.i AS decile, qs[i.i] AS q
      FROM ov, (SELECT unnest(range(1, 10)) AS i) i
    )
    SELECT CAST(fq.decile AS INTEGER) AS decile,
           round(fq.q, 4) AS q_fulfilled, round(oq.q, 4) AS q_open,
           round(fq.q / oq.q, 6) AS qq_ratio
    FROM fq JOIN oq USING (decile)
    """,
    tags=("stats", "quantile", "qq"),
)
def q_qq_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QQ comparison: the nine interpolated deciles of each
    order-status population, joined on decile index with the ratio --
    near-1 ratios mean the distributions differ only in mass, not
    shape. One aggregate per side (the quantile vector), exploded to 9
    rows; rides the established interpolated-quantile parity."""
    orders = read_table(spark, sf_dir, "orders")
    qexpr = "percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"

    def side(status, alias):
        return (
            orders.where(F.col("o_orderstatus") == status)
            .agg(F.expr(qexpr).alias("qs"))
            .select(F.posexplode("qs").alias("i", alias))
            .select((F.col("i") + 1).alias("decile"), alias)
        )

    fq = side("F", "q_f")
    oq = side("O", "q_o")
    return fq.join(oq, "decile").select(
        F.col("decile").cast("integer").alias("decile"),
        F.round("q_f", 4).alias("q_fulfilled"),
        F.round("q_o", 4).alias("q_open"),
        F.round(F.col("q_f") / F.col("q_o"), 6).alias("qq_ratio"),
    )


# ---------------------------------------------------------------------------
# Diff-in-diff: PROMO vs non-PROMO average line revenue, before vs
# after 1996-01-01, in one conditional-aggregation pass.
# ---------------------------------------------------------------------------
@register(
    "diff_in_diff_promo",
    """
    WITH joined AS (
      SELECT CASE WHEN p.p_type = 'PROMO' THEN 1 ELSE 0 END AS treat,
             CASE WHEN CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
                  THEN 1 ELSE 0 END AS post,
             CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    cells AS (
      SELECT treat, post, CAST(count(*) AS BIGINT) AS n,
             round(round(sum(cents) / 100.0, 4) / count(*), 6) AS mean_price
      FROM joined GROUP BY treat, post
    ),
    wide AS (
      SELECT max(CASE WHEN treat = 1 AND post = 1 THEN mean_price END) AS t_post,
             max(CASE WHEN treat = 1 AND post = 0 THEN mean_price END) AS t_pre,
             max(CASE WHEN treat = 0 AND post = 1 THEN mean_price END) AS c_post,
             max(CASE WHEN treat = 0 AND post = 0 THEN mean_price END) AS c_pre,
             max(CASE WHEN treat = 1 AND post = 1 THEN n END) AS n_t_post,
             max(CASE WHEN treat = 1 AND post = 0 THEN n END) AS n_t_pre,
             max(CASE WHEN treat = 0 AND post = 1 THEN n END) AS n_c_post,
             max(CASE WHEN treat = 0 AND post = 0 THEN n END) AS n_c_pre
      FROM cells
    )
    SELECT t_pre, t_post, c_pre, c_post,
           n_t_pre, n_t_post, n_c_pre, n_c_post,
           round((t_post - t_pre) - (c_post - c_pre), 6) AS did_estimate
    FROM wide
    """,
    tags=("causal", "did", "A1"),
)
def q_diff_in_diff_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences for PROMO parts around 1996: the 2x2
    cell means come from ONE pass of conditional aggregation over the
    broadcast-joined fact (means via the rounded-exact-sum rule), the
    pivot is four conditional maxes over 4 rows, and the DiD estimate
    subtracts already-rounded means -- deterministic in both engines."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        F.when(F.col("p_type") == "PROMO", 1).otherwise(0).alias("treat"),
        F.when(
            F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"), 1
        )
        .otherwise(0)
        .alias("post"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("cents"),
    )
    cells = joined.groupBy("treat", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.round(F.sum("cents") / 100.0, 4) / F.count(F.lit(1)), 6).alias(
            "mean_price"
        ),
    )

    def cell(t, p, col):
        return F.max(F.when((F.col("treat") == t) & (F.col("post") == p), F.col(col)))

    wide = cells.agg(
        cell(1, 1, "mean_price").alias("t_post"),
        cell(1, 0, "mean_price").alias("t_pre"),
        cell(0, 1, "mean_price").alias("c_post"),
        cell(0, 0, "mean_price").alias("c_pre"),
        cell(1, 1, "n").alias("n_t_post"),
        cell(1, 0, "n").alias("n_t_pre"),
        cell(0, 1, "n").alias("n_c_post"),
        cell(0, 0, "n").alias("n_c_pre"),
    )
    return wide.select(
        "t_pre",
        "t_post",
        "c_pre",
        "c_post",
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        F.round(
            (F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre")), 6
        ).alias("did_estimate"),
    )
