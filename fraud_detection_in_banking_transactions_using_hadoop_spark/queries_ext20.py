"""Extension batch 20: finance/series + product-analytics + graph
statistics -- max drawdown, exact max-CUSUM changepoint, multi-touch
attribution, price-volume-mix revenue bridge, degree assortativity,
and Jensen-Shannon source divergence.

Scale notes (the 100 TB story per query):
- max_drawdown / changepoint_max_cusum run their global-order windows
  over the DAILY revenue series -- calendar-bounded (|distinct days|,
  ~2.5k for this corpus regardless of sf), the same justification as
  cusum_drift_detection / runs_test_randomness.
- attribution_models joins touches to purchases with an EQUI key
  (user_id) plus range residuals -- shuffle-hash/sort-merge on user,
  never a cross product; per-purchase credit windows partition by the
  purchase id.
- revenue_bridge_pvm is plain grouped aggregation + a 25-row pivot.
- degree_assortativity computes endpoint degrees with two PARTITIONED
  windows over the edge list itself (deg(v) = #edges with x=v = #edges
  with y=v in the symmetric co-purchase graph), so there is no
  deg-table self-join and the edge lineage is computed once.
- jsd_source_divergence is one (token, side) count shuffle; the two
  1-row corpus totals broadcast onto the per-token join.

Cross-engine parity: money in integer cents; per-term e12/e8 integer
scaling before any float sum (mutual_information pattern); timestamps
compared in integer microseconds (epoch_us / unix_micros).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue in exact integer cents (runs_test convention)."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )


_DAILY_SQL = """
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS x
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
"""


# ---------------------------------------------------------------------------
# Maximum drawdown of the cumulative daily-revenue curve: the largest
# peak-to-trough drop, the classic risk statistic (here: worst losing
# streak of the revenue book against its own running high).
# ---------------------------------------------------------------------------
@register(
    "max_drawdown",
    f"""
    WITH daily AS ({_DAILY_SQL}),
    curve AS (
      SELECT d,
             sum(x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum
      FROM daily
    ),
    dd AS (
      SELECT d, cum,
             max(cum) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS peak,
             max(cum) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) - cum AS draw
      FROM curve
    )
    SELECT strftime(d, '%Y-%m-%d') AS trough_d,
           CAST(peak AS BIGINT) AS peak_cents,
           CAST(cum AS BIGINT) AS trough_cents,
           CAST(draw AS BIGINT) AS max_drawdown_cents
    FROM (SELECT *, row_number() OVER (ORDER BY draw DESC, d ASC) AS rn FROM dd)
    WHERE rn = 1
    """,
    tags=("finance", "timeseries", "drawdown"),
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max drawdown = max over days of (running-max of cumulative
    revenue - cumulative revenue), with the earliest trough day on
    ties. Three global-order windows, all over the calendar-bounded
    daily series; every value is an exact bigint of cents."""
    daily = _daily_cents(spark, sf_dir)
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    curve = daily.select("d", F.sum("x").over(w).alias("cum"))
    dd = curve.select(
        "d",
        "cum",
        F.max("cum").over(w).alias("peak"),
    ).withColumn("draw", F.col("peak") - F.col("cum"))
    pick = Window.orderBy(F.col("draw").desc(), F.col("d").asc())
    return (
        dd.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("trough_d"),
            F.col("peak").cast("bigint").alias("peak_cents"),
            F.col("cum").cast("bigint").alias("trough_cents"),
            F.col("draw").cast("bigint").alias("max_drawdown_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Single changepoint by the max-CUSUM estimator: the split day k that
# maximizes |n*S_l(k) - k*S| -- the (scaled) classic CUSUM statistic
# for a mean shift, exactly the least-squares single-changepoint
# argmax for a fixed-variance series, and computable in EXACT integer
# arithmetic (no double drift, unlike the SSE form whose S^2/k ratios
# cannot be ordered exactly).
# ---------------------------------------------------------------------------
@register(
    "changepoint_max_cusum",
    f"""
    WITH daily AS ({_DAILY_SQL}),
    pre AS (
      SELECT d,
             row_number() OVER (ORDER BY d) AS k,
             sum(x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS s_l,
             count(*) OVER () AS n,
             sum(x) OVER () AS s
      FROM daily
    ),
    stat AS (
      SELECT d, k, n, s_l, s, abs(n * s_l - k * s) AS cusum
      FROM pre WHERE k < n
    )
    SELECT strftime(d, '%Y-%m-%d') AS split_d,
           CAST(k AS BIGINT) AS k,
           CAST(n AS BIGINT) AS n_days,
           CAST(cusum AS BIGINT) AS cusum_stat,
           CAST(s_l // k AS BIGINT) AS mean_left_cents,
           CAST((s - s_l) // (n - k) AS BIGINT) AS mean_right_cents
    FROM (SELECT *, row_number() OVER (ORDER BY cusum DESC, d ASC) AS rn FROM stat)
    WHERE rn = 1
    """,
    tags=("stats", "changepoint", "exact-arith"),
)
def q_changepoint_max_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax_k |n*prefix(k) - k*total| over the daily series (k < n,
    earliest day on ties); segment means via integer floor division.
    |n*S_l| stays < 2^63 up to ~sf100 daily-cent totals (n ~2.5e3,
    S ~2e15 cents) -- documented bound, bigint throughout."""
    daily = _daily_cents(spark, sf_dir)
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    pre = daily.select(
        "d",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("k"),
        F.sum("x").over(wcum).alias("s_l"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        F.sum("x").over(wall).alias("s"),
    )
    stat = pre.where(F.col("k") < F.col("n")).withColumn(
        "cusum", F.abs(F.col("n") * F.col("s_l") - F.col("k") * F.col("s"))
    )
    pick = Window.orderBy(F.col("cusum").desc(), F.col("d").asc())
    return (
        stat.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("split_d"),
            F.col("k").cast("bigint").alias("k"),
            F.col("n").cast("bigint").alias("n_days"),
            F.col("cusum").cast("bigint").alias("cusum_stat"),
            F.expr("s_l div k").cast("bigint").alias("mean_left_cents"),
            F.expr("(s - s_l) div (n - k)").cast("bigint").alias("mean_right_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-touch attribution: credit view/click/signup touches within the
# 7 days before each purchase under three standard models at once
# (first-touch, last-touch, linear).
# ---------------------------------------------------------------------------
@register(
    "attribution_models",
    """
    WITH p AS (
      SELECT event_id AS pid, user_id, epoch_us(ts) AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, event_type AS channel, epoch_us(ts) AS tts,
             event_id AS tid
      FROM events WHERE event_type IN ('view', 'click', 'signup')
    ),
    touch AS (
      SELECT p.pid, t.channel, t.tts, t.tid
      FROM t JOIN p ON t.user_id = p.user_id
       AND t.tts <= p.pts AND t.tts >= p.pts - 604800000000
    ),
    credit AS (
      SELECT channel,
             row_number() OVER (PARTITION BY pid ORDER BY tts ASC, tid ASC) AS rf,
             row_number() OVER (PARTITION BY pid ORDER BY tts DESC, tid DESC) AS rl,
             count(*) OVER (PARTITION BY pid) AS cnt
      FROM touch
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch,
           CAST(sum(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch,
           round(sum(CAST(round(1e8 / cnt, 0) AS BIGINT)) / 1e8, 6) AS linear_credit
    FROM credit GROUP BY channel
    """,
    tags=("product", "attribution"),
)
def q_attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last/linear attribution per channel over the touches in
    the 7 days up to each purchase. The touch join carries the user_id
    EQUI key (range residuals filter after the shuffle); linear credit
    sums e8-scaled integers so the fraction sum cannot drift between
    engines. Ties inside a purchase break on event_id."""
    ev = read_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("pts"),
    )
    t = ev.where(F.col("event_type").isin("view", "click", "signup")).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.unix_micros("ts").alias("tts"),
        F.col("event_id").alias("tid"),
    )
    touch = t.join(
        p,
        (t.user_id == p.p_user)
        & (F.col("tts") <= F.col("pts"))
        & (F.col("tts") >= F.col("pts") - F.lit(604800000000)),
    ).select("pid", "channel", "tts", "tid")
    wp = Window.partitionBy("pid")
    credit = touch.select(
        "channel",
        F.row_number()
        .over(wp.orderBy(F.col("tts").asc(), F.col("tid").asc()))
        .alias("rf"),
        F.row_number()
        .over(wp.orderBy(F.col("tts").desc(), F.col("tid").desc()))
        .alias("rl"),
        F.count(F.lit(1)).over(wp).alias("cnt"),
    )
    return credit.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum(F.when(F.col("rf") == 1, 1).otherwise(0)).cast("bigint").alias("first_touch"),
        F.sum(F.when(F.col("rl") == 1, 1).otherwise(0)).cast("bigint").alias("last_touch"),
        F.round(
            F.sum(F.round(F.lit(1e8) / F.col("cnt"), 0).cast("bigint")) / 1e8, 6
        ).alias("linear_credit"),
    )


# ---------------------------------------------------------------------------
# Price-volume-mix revenue bridge: decompose each nation's 1996->1997
# revenue change into volume effect (dq * p0), price effect (dp * q0),
# and the interaction term -- the standard FP&A waterfall.
# ---------------------------------------------------------------------------
q_revenue_bridge_pvm = register_sql(
    "revenue_bridge_pvm",
    """
    WITH base AS (
      SELECT n.n_name AS nation,
             CAST(year(o.o_orderdate) AS INTEGER) AS yr,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
             CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                           AS BIGINT)) AS BIGINT) AS rev
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE year(o.o_orderdate) IN (1996, 1997)
      GROUP BY n.n_name, year(o.o_orderdate)
    ),
    piv AS (
      SELECT nation,
             max(CASE WHEN yr = 1996 THEN qty END) AS q0,
             max(CASE WHEN yr = 1996 THEN rev END) AS r0,
             max(CASE WHEN yr = 1997 THEN qty END) AS q1,
             max(CASE WHEN yr = 1997 THEN rev END) AS r1
      FROM base GROUP BY nation
    )
    SELECT nation,
           CAST(q0 AS BIGINT) AS q0, CAST(q1 AS BIGINT) AS q1,
           CAST(r0 AS BIGINT) AS r0_cents, CAST(r1 AS BIGINT) AS r1_cents,
           CAST(r1 - r0 AS BIGINT) AS delta_cents,
           CAST(round((q1 - q0) * (CAST(r0 AS DOUBLE) / q0), 0) AS BIGINT)
             AS volume_effect_cents,
           CAST(round((CAST(r1 AS DOUBLE) / q1 - CAST(r0 AS DOUBLE) / q0) * q0, 0)
             AS BIGINT) AS price_effect_cents,
           CAST(round((q1 - q0) * (CAST(r1 AS DOUBLE) / q1 - CAST(r0 AS DOUBLE) / q0), 0)
             AS BIGINT) AS mix_effect_cents
    FROM piv WHERE q0 IS NOT NULL AND q1 IS NOT NULL
    """,
    tags=("finance", "bridge", "pivot"),
)


# ---------------------------------------------------------------------------
# Degree assortativity of the co-purchase graph: Pearson correlation of
# endpoint degrees over the (symmetric) edge list. Positive => hubs
# link to hubs; the single most-cited mixing statistic (Newman 2002).
# ---------------------------------------------------------------------------
q_degree_assortativity = register_sql(
    "degree_assortativity",
    """
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT DISTINCT a.p AS x, b.p AS y
          FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
    deg AS (
      SELECT x, y,
             count(*) OVER (PARTITION BY x) AS dx,
             count(*) OVER (PARTITION BY y) AS dy
      FROM e
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(count(DISTINCT x) AS BIGINT) AS n_nodes,
             CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
             CAST(sum(dx * dy) AS BIGINT) AS sxy,
             CAST(sum(dx * dx) AS BIGINT) AS sxx,
             CAST(sum(dy * dy) AS BIGINT) AS syy
      FROM deg
    )
    SELECT m AS n_edges,
           n_nodes,
           CASE WHEN (CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                     (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) <= 0
                THEN NULL
                ELSE round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / sqrt((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                          * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
           END AS assortativity
    FROM s
    """,
    tags=("graph", "assortativity"),
)


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between the token distributions of the
# even- and odd-numbered document sources: the bounded, symmetric
# corpus-drift measure LLM pipelines use to compare mixtures.
# ---------------------------------------------------------------------------
@register(
    "jsd_source_divergence",
    """
    WITH tok AS (
      SELECT CAST(substr(source, 4) AS INTEGER) % 2 AS side,
             unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    cnt AS (SELECT w, side, CAST(count(*) AS BIGINT) AS c
            FROM tok WHERE w <> '' GROUP BY w, side),
    tot AS (
      SELECT CAST(sum(CASE WHEN side = 0 THEN c ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN side = 1 THEN c ELSE 0 END) AS BIGINT) AS nb
      FROM cnt
    ),
    piv AS (
      SELECT w,
             CAST(sum(CASE WHEN side = 0 THEN c ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN side = 1 THEN c ELSE 0 END) AS BIGINT) AS cb
      FROM cnt GROUP BY w
    ),
    terms AS (
      SELECT CAST(round((
               CASE WHEN ca > 0 THEN 0.5 * (CAST(ca AS DOUBLE) / na)
                 * ln((CAST(ca AS DOUBLE) / na)
                      / (0.5 * CAST(ca AS DOUBLE) / na + 0.5 * CAST(cb AS DOUBLE) / nb))
                 ELSE 0 END
             + CASE WHEN cb > 0 THEN 0.5 * (CAST(cb AS DOUBLE) / nb)
                 * ln((CAST(cb AS DOUBLE) / nb)
                      / (0.5 * CAST(ca AS DOUBLE) / na + 0.5 * CAST(cb AS DOUBLE) / nb))
                 ELSE 0 END) * 1e12, 0) AS BIGINT) AS t_e12
      FROM piv, tot
    )
    SELECT (SELECT na FROM tot) AS n_tokens_even,
           (SELECT nb FROM tot) AS n_tokens_odd,
           CAST(count(*) AS BIGINT) AS vocab,
           round(sum(t_e12) / 1e12, 6) AS jsd_nats
    FROM terms
    """,
    tags=("llm", "information", "jsd"),
)
def q_jsd_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSD(P||Q) = 0.5 KL(P||M) + 0.5 KL(Q||M), M the midpoint, over
    space-split tokens of even- vs odd-numbered sources. One
    (token, side) count shuffle, a per-token pivot, and the 1-row
    totals broadcast; each vocab term rounds to an e12 integer before
    the sum (mutual_information discipline)."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        (F.substring("source", 4, 10).cast("int") % 2).alias("side"),
        F.explode(F.split("text", " ")).alias("w"),
    ).where(F.col("w") != "")
    cnt = tok.groupBy("w", "side").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = cnt.agg(
        F.sum(F.when(F.col("side") == 0, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("side") == 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("nb"),
    )
    piv = cnt.groupBy("w").agg(
        F.sum(F.when(F.col("side") == 0, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("side") == 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    pa = F.col("ca").cast("double") / F.col("na")
    pb = F.col("cb").cast("double") / F.col("nb")
    m = 0.5 * pa + 0.5 * pb
    term = F.round(
        (
            F.when(F.col("ca") > 0, 0.5 * pa * F.log(pa / m)).otherwise(0.0)
            + F.when(F.col("cb") > 0, 0.5 * pb * F.log(pb / m)).otherwise(0.0)
        )
        * 1e12,
        0,
    ).cast("bigint")
    terms = piv.crossJoin(F.broadcast(tot)).select(
        "na", "nb", term.alias("t_e12")
    )
    return terms.agg(
        F.max("na").cast("bigint").alias("n_tokens_even"),
        F.max("nb").cast("bigint").alias("n_tokens_odd"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.round(F.sum("t_e12").cast("double") / 1e12, 6).alias("jsd_nats"),
    )
