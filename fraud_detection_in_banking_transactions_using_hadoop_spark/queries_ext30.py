"""Extension batch 30: split-conformal prediction intervals, exact
Shapley channel attribution, and group-sequential A/B monitoring.

Scale notes (the 100 TB story per query):
- conformal_interval is split-conformal calibration for a forecast:
  OLS on the train window from EXACT decimal sufficient statistics
  (the grouped_ols pattern -- map-side moment sums, one closing
  expression), then the calibration-score quantile is an order
  statistic on the bounded daily spine and coverage is one filtered
  count on the test window. Distribution-free intervals with a
  finite-sample guarantee, fitted in two aggregates.
- shapley_attribution computes EXACT Shapley values over the 4
  exposure channels: users collapse to a 16-row exact-exposure-set
  table (one groupBy), and the 4 x 8 subset enumeration is a constant
  32-row mapping joined against it -- marginal contributions never
  touch the fact table. Each weighted term is rounded to an e9
  integer so the channel sums are exact; the efficiency identity
  (sum of phi = v(full) - v(empty)) is pytest-pinned.
- sequential_ab_looks is group-sequential testing done right on a
  fact stream: event_id (ts-monotone) splits history into 4
  information looks; per-user first-exposure and first-conversion
  looks reduce the stream once, and the cumulative per-look arm
  counts come from a bounded 4-row grid join. One z per look against
  O'Brien-Fleming-style boundaries -- the peeking-safe A/B monitor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_CENTS = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"
_DEC = "decimal(38,0)"


# ---------------------------------------------------------------------------
# Split-conformal interval for the daily-revenue trend forecast.
# ---------------------------------------------------------------------------
_TRAIN_END = "1999-01-01"
_CAL_END = "2000-01-01"
_ALPHA_NUM, _ALPHA_DEN = 9, 10  # 90% target coverage


@register(
    "conformal_interval",
    f"""
    WITH days AS (
      SELECT o_orderdate AS d,
             CAST(date_diff('day', DATE '1995-01-01',
                            CAST(o_orderdate AS DATE)) AS HUGEINT) AS x,
             CAST(sum({_CENTS}) AS HUGEINT) AS y
      FROM orders GROUP BY o_orderdate
    ),
    tr AS (SELECT * FROM days WHERE d < DATE '{_TRAIN_END}'),
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM tr
    ),
    fit AS (
      SELECT CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
             (CAST(sy AS DOUBLE)
              - CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a
      FROM s
    ),
    cal AS (
      SELECT abs(CAST(y AS DOUBLE) - (f.a + f.b * CAST(x AS DOUBLE))) AS r,
             d
      FROM days CROSS JOIN fit f
      WHERE d >= DATE '{_TRAIN_END}' AND d < DATE '{_CAL_END}'
    ),
    ranked AS (
      SELECT r, row_number() OVER (ORDER BY r, d) AS rn,
             count(*) OVER () AS nc
      FROM cal
    ),
    q AS (
      SELECT r AS q_hat, CAST(nc AS BIGINT) AS n_cal FROM ranked
      WHERE rn = CAST(ceil({_ALPHA_NUM} * (nc + 1) / {_ALPHA_DEN}.0) AS BIGINT)
    ),
    test AS (
      SELECT abs(CAST(y AS DOUBLE) - (f.a + f.b * CAST(x AS DOUBLE))) AS r
      FROM days CROSS JOIN fit f
      WHERE d >= DATE '{_CAL_END}'
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_train,
           (SELECT n_cal FROM q) AS n_cal,
           CAST(count(*) AS BIGINT) AS n_test,
           round((SELECT q_hat FROM q), 6) AS q_hat,
           CAST((1000000 * sum(CASE WHEN r <= (SELECT q_hat FROM q)
                               THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
             AS coverage_ppm
    FROM test
    """,
    tags=("ml", "conformal", "uncertainty"),
)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal: OLS trend on 1995-98 (exact decimal moments ->
    one double (a, b)), nonconformity = |residual|, q_hat = the
    ceil(0.9*(n+1))-th smallest calibration score ((r, d) tiebreak),
    coverage = share of 2000+ test days inside +-q_hat. All residuals
    are identical doubles in both engines (exact ints -> one
    deterministic expression); the only windows run on the bounded
    daily spine."""
    orders = read_table(spark, sf_dir, "orders")
    days = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.expr(_CENTS)).cast(_DEC).alias("y")
    ).withColumn(
        "x",
        F.datediff(F.col("d").cast("date"), F.lit("1995-01-01").cast("date")).cast(_DEC),
    )
    tr = days.where(F.col("d") < F.lit(_TRAIN_END).cast("date"))
    s = tr.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("x").cast(_DEC).alias("sx"),
        F.sum("y").cast(_DEC).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(_DEC).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(_DEC).alias("sxx"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    a = (F.col("sy").cast("double") - b * F.col("sx").cast("double")) / F.col("n").cast(
        "double"
    )
    fit = s.select(b.alias("b"), a.alias("a"))
    resid = F.abs(
        F.col("y").cast("double") - (F.col("a") + F.col("b") * F.col("x").cast("double"))
    )
    cal = (
        days.where(
            (F.col("d") >= F.lit(_TRAIN_END).cast("date"))
            & (F.col("d") < F.lit(_CAL_END).cast("date"))
        )
        .crossJoin(F.broadcast(fit))
        .select(resid.alias("r"), "d")
    )
    ranked = cal.select(
        "r",
        F.row_number().over(Window.orderBy("r", "d")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nc"),
    )
    q = ranked.where(
        F.col("rn")
        == F.ceil(_ALPHA_NUM * (F.col("nc") + 1) / float(_ALPHA_DEN)).cast("bigint")
    ).select(F.col("r").alias("q_hat"), F.col("nc").cast("bigint").alias("n_cal"))
    test = (
        days.where(F.col("d") >= F.lit(_CAL_END).cast("date"))
        .crossJoin(F.broadcast(fit))
        .select(resid.alias("r"))
    )
    n_train = tr.agg(F.count(F.lit(1)).cast("bigint").alias("n_train"))
    agg = test.crossJoin(F.broadcast(q)).agg(
        F.max("n_cal").alias("n_cal"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.round(F.max("q_hat"), 6).alias("q_hat"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN r <= q_hat THEN 1 ELSE 0 END))"
            " DIV count(*) AS BIGINT)"
        ).alias("coverage_ppm"),
    )
    return n_train.crossJoin(F.broadcast(agg)).select(
        "n_train", "n_cal", "n_test", "q_hat", "coverage_ppm"
    )


# ---------------------------------------------------------------------------
# Exact Shapley attribution over 4 exposure channels.
# ---------------------------------------------------------------------------
_CHANNELS = ("view", "click", "signup", "error")
_FACT = {0: 6, 1: 2, 2: 2, 3: 6}  # |S|! * (3-|S|)!  (denominator 24)


def _shapley_map() -> list[tuple[str, int, int, int]]:
    rows = []
    for i, ch in enumerate(_CHANNELS):
        others = [j for j in range(4) if j != i]
        for bits in range(8):
            s_mask = sum(1 << others[k] for k in range(3) if bits >> k & 1)
            size = bin(s_mask).count("1")
            rows.append((ch, s_mask, s_mask | (1 << i), _FACT[size]))
    return rows


_MAP_SQL = ", ".join(f"('{c}', {s}, {si}, {w})" for c, s, si, w in _shapley_map())


q_shapley_attribution = register_sql(
    "shapley_attribution",
    f"""
    WITH u AS (
      SELECT user_id,
             CAST(sum(DISTINCT CASE event_type
                   WHEN 'view' THEN 1 WHEN 'click' THEN 2
                   WHEN 'signup' THEN 4 WHEN 'error' THEN 8
                   ELSE 0 END) AS BIGINT) AS mask,
             max(CASE WHEN event_type = 'purchase' AND value > 150
                 THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    sets AS (
      SELECT mask, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS k
      FROM u GROUP BY mask
    ),
    m AS (SELECT * FROM (VALUES {_MAP_SQL}) AS t(ch, s_mask, si_mask, wnum)),
    terms AS (
      SELECT m.ch,
             CAST(round(1000000000.0 * m.wnum
               * (coalesce(CAST(vi.k AS DOUBLE) / vi.n, 0)
                  - coalesce(CAST(vs.k AS DOUBLE) / vs.n, 0)) / 24, 0)
               AS BIGINT) AS t_e9
      FROM m
      LEFT JOIN sets vs ON vs.mask = m.s_mask
      LEFT JOIN sets vi ON vi.mask = m.si_mask
    )
    SELECT ch AS channel, CAST(sum(t_e9) AS BIGINT) AS phi_e9
    FROM terms GROUP BY ch
    """,
    tags=("attribution", "shapley", "causal"),
)


# ---------------------------------------------------------------------------
# Group-sequential A/B monitoring: 4 information looks, OBF-style
# boundaries.
# ---------------------------------------------------------------------------
_BOUNDS = (4.049, 2.863, 2.337, 2.024)
_BOUNDS_SQL = ", ".join(f"({i}, {b})" for i, b in enumerate(_BOUNDS))


@register(
    "sequential_ab_looks",
    f"""
    WITH mx AS (SELECT CAST(max(event_id) AS BIGINT) AS m FROM events),
    ev AS (
      SELECT user_id, event_type, value,
             least(3, (event_id * 4) // (mx.m + 1)) AS look
      FROM events CROSS JOIN mx
    ),
    u AS (
      SELECT user_id, CAST(user_id % 2 AS INTEGER) AS variant,
             CAST(min(look) AS BIGINT) AS first_look,
             min(CASE WHEN event_type = 'purchase' AND value > 150
                 THEN look END) AS conv_look
      FROM ev GROUP BY user_id
    ),
    looks AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(look)),
    cum AS (
      SELECT l.look,
             CAST(sum(CASE WHEN u.variant = 0 AND u.first_look <= l.look
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN u.variant = 0 AND u.conv_look <= l.look
                      THEN 1 ELSE 0 END) AS BIGINT) AS x_a,
             CAST(sum(CASE WHEN u.variant = 1 AND u.first_look <= l.look
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN u.variant = 1 AND u.conv_look <= l.look
                      THEN 1 ELSE 0 END) AS BIGINT) AS x_b
      FROM looks l CROSS JOIN u
      GROUP BY l.look
    ),
    bounds AS (SELECT * FROM (VALUES {_BOUNDS_SQL}) AS t(look, bound))
    SELECT c.look, c.n_a, c.x_a, c.n_b, c.x_b,
           CASE WHEN c.x_a + c.x_b = 0 OR c.x_a + c.x_b = c.n_a + c.n_b
                     OR c.n_a = 0 OR c.n_b = 0 THEN NULL
                ELSE round((CAST(c.x_a AS DOUBLE) / c.n_a
                            - CAST(c.x_b AS DOUBLE) / c.n_b)
                  / sqrt((CAST(c.x_a + c.x_b AS DOUBLE) / (c.n_a + c.n_b))
                         * (1 - CAST(c.x_a + c.x_b AS DOUBLE) / (c.n_a + c.n_b))
                         * (1.0 / c.n_a + 1.0 / c.n_b)), 6)
           END AS z_score,
           b.bound AS boundary,
           CAST(CASE WHEN c.x_a + c.x_b = 0 OR c.x_a + c.x_b = c.n_a + c.n_b
                          OR c.n_a = 0 OR c.n_b = 0 THEN 0
                WHEN abs(
                  (CAST(c.x_a AS DOUBLE) / c.n_a - CAST(c.x_b AS DOUBLE) / c.n_b)
                  / sqrt((CAST(c.x_a + c.x_b AS DOUBLE) / (c.n_a + c.n_b))
                         * (1 - CAST(c.x_a + c.x_b AS DOUBLE) / (c.n_a + c.n_b))
                         * (1.0 / c.n_a + 1.0 / c.n_b))) > b.bound
                THEN 1 ELSE 0 END AS INTEGER) AS crossed
    FROM cum c JOIN bounds b ON c.look = b.look
    """,
    tags=("stats", "ab-test", "sequential"),
)
def q_sequential_ab_looks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peeking-safe A/B monitoring: event_id (ts-monotone) divides
    history into 4 information fractions; per-user first-exposure and
    first-conversion looks come from ONE reduction of the stream, and
    the cumulative arm counts per look are a bounded 4-row grid join.
    Pooled z per look vs O'Brien-Fleming-style boundaries. The max
    event_id scalar and the 4-row grids broadcast (whitelisted)."""
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    mx = ev.agg(F.max("event_id").cast("bigint").alias("m"))
    ev2 = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        "event_type",
        "value",
        F.least(F.lit(3).cast("bigint"), F.expr("(event_id * 4) DIV (m + 1)")).alias("look"),
    )
    u = ev2.groupBy("user_id").agg(
        F.min("look").cast("bigint").alias("first_look"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150), F.col("look")
            )
        ).alias("conv_look"),
    ).withColumn("variant", (F.col("user_id") % 2).cast("integer"))
    looks = spark.createDataFrame([(i,) for i in range(4)], "look long")
    cum = (
        F.broadcast(looks)
        .crossJoin(u)
        .groupBy("look")
        .agg(
            F.sum(
                F.when((F.col("variant") == 0) & (F.col("first_look") <= F.col("look")), 1).otherwise(0)
            ).cast("bigint").alias("n_a"),
            F.sum(
                F.when((F.col("variant") == 0) & (F.col("conv_look") <= F.col("look")), 1).otherwise(0)
            ).cast("bigint").alias("x_a"),
            F.sum(
                F.when((F.col("variant") == 1) & (F.col("first_look") <= F.col("look")), 1).otherwise(0)
            ).cast("bigint").alias("n_b"),
            F.sum(
                F.when((F.col("variant") == 1) & (F.col("conv_look") <= F.col("look")), 1).otherwise(0)
            ).cast("bigint").alias("x_b"),
        )
    )
    bounds = spark.createDataFrame(
        [(i, b) for i, b in enumerate(_BOUNDS)], "look long, bound double"
    )
    p_a = F.col("x_a").cast("double") / F.col("n_a")
    p_b = F.col("x_b").cast("double") / F.col("n_b")
    pool = (F.col("x_a") + F.col("x_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    z = (p_a - p_b) / F.sqrt(pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    degenerate = (
        ((F.col("x_a") + F.col("x_b")) == 0)
        | ((F.col("x_a") + F.col("x_b")) == (F.col("n_a") + F.col("n_b")))
        | (F.col("n_a") == 0)
        | (F.col("n_b") == 0)
    )
    return cum.join(F.broadcast(bounds), "look").select(
        "look",
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.when(degenerate, F.lit(None).cast("double")).otherwise(F.round(z, 6)).alias("z_score"),
        F.col("bound").alias("boundary"),
        F.when(degenerate, 0)
        .when(F.abs(z) > F.col("bound"), 1)
        .otherwise(0)
        .cast("integer")
        .alias("crossed"),
    )
