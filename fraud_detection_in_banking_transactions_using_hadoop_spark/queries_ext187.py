"""Extension batch 187 (round 7): the sequential-inference tier --
exact classical online algorithms as aligned cross-engine folds, plus
the queueing and spectral capstones they pair with.

- kalman_local_level: the 1-D Kalman filter (local-level model) fitted
  over the last 180 days of daily revenue as an ALIGNED SEQUENTIAL FOLD
  (Spark `aggregate` lambda == DuckDB recursive CTE, the holt_linear
  discipline): gain/covariance recursion and innovation RMSE, all
  +-*/ IEEE arithmetic so the double stream is bit-identical.
- viterbi_regime_decode: 2-state bull/bear HMM Viterbi decode over the
  last 365 daily up/down signs -- the first MAX-PLUS coupled-state DP
  fold (delta0, delta1 carried together, running MAP flips counted).
  All log-probabilities are PRECOMPUTED PYTHON LITERALS shared by both
  engines (no libm ln at query time).
- lindley_queue_waits: exact G/G/1 waiting times of each day's event
  stream via Lindley's recursion solved in CLOSED FORM -- W_i = C_{i-1}
  - min(0, min prefix C) on per-day PARTITIONED windows (the Kadane /
  reset-at-zero identity, so no sequential fold and no global window at
  all). Service times are value-cents scaled by one exact integer
  factor chosen for rho ~ 5/6; everything stays integer micros.
- fisher_g_bandlimited: Fisher's g test for a hidden periodicity over
  the integer-period band 2..60 days: per-row cos/sin projections
  quantize to integers before summation (the goertzel recipe), g =
  max ordinate / total is a ratio of exact integers, and the
  alternating p-value series is ONE shared left-to-right expression
  chain (capped at 8 terms, error bounded by the first omitted term).

Cross-engine discipline: every fold literal is double-typed; the only
libm calls are cos/sin under integer quantization and power() inside
the final rounded p-value; sums of doubles never cross engines in
different orders (single expression chains or exact integers).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import _PI
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext177 import _DAILY_SQL
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

# --- Kalman local-level model literals (dollars^2 units) ---
_KQ = 1.0e4   # state-noise variance per day
_KR = 1.0e6   # observation-noise variance
_K_DAYS = 180

# --- Viterbi HMM literals: ln-probs precomputed in Python, shared ---
_V_DAYS = 365
# every literal is CAST AS DOUBLE in the shared text: Spark parses bare
# decimal literals in SQL text as DECIMAL (the CLAUDE.md shared-text
# trap), which silently turns the whole fold into DECIMAL arithmetic
_LT_STAY = f"CAST({math.log(0.9)!r} AS DOUBLE)"     # ln P(state stays)
_LT_SWITCH = f"CAST({math.log(0.1)!r} AS DOUBLE)"   # ln P(state switches)
_LE0_UP = f"CAST({math.log(0.35)!r} AS DOUBLE)"    # bear: P(up day)
_LE0_DN = f"CAST({math.log(0.65)!r} AS DOUBLE)"
_LE1_UP = f"CAST({math.log(0.65)!r} AS DOUBLE)"    # bull: P(up day)
_LE1_DN = f"CAST({math.log(0.35)!r} AS DOUBLE)"
_LP0 = f"CAST({math.log(0.5)!r} AS DOUBLE)"        # uniform initial


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )


@register(
    "kalman_local_level",
    f"""
    WITH RECURSIVE {_DAILY_SQL},
    win AS (
      SELECT d, CAST(cents AS DOUBLE) / 100.0 AS y FROM daily
      WHERE d > (SELECT max(d) - INTERVAL {_K_DAYS} DAY FROM daily)),
    arr AS MATERIALIZED (
      SELECT list(y ORDER BY d) AS ys, CAST(count(*) AS BIGINT) AS n
      FROM win),
    rec AS (
      SELECT 1 AS i, ys[1] AS x, CAST({_KR!r} AS DOUBLE) AS p,
             CAST(0.0 AS DOUBLE) AS k, CAST(0.0 AS DOUBLE) AS sse
      FROM arr
      UNION ALL
      SELECT r.i + 1,
             r.x + ((r.p + {_KQ!r}) / (r.p + {_KQ!r} + {_KR!r}))
                   * (a.ys[r.i + 1] - r.x),
             (1.0 - (r.p + {_KQ!r}) / (r.p + {_KQ!r} + {_KR!r}))
               * (r.p + {_KQ!r}),
             (r.p + {_KQ!r}) / (r.p + {_KQ!r} + {_KR!r}),
             r.sse + (a.ys[r.i + 1] - r.x) * (a.ys[r.i + 1] - r.x)
      FROM rec r, arr a WHERE r.i < a.n),
    folded AS (
      SELECT a.n, r.x, r.p, r.k, r.sse
      FROM rec r CROSS JOIN arr a WHERE r.i = a.n)
    SELECT n AS n_fit_days,
           round(x, 2) AS level_dollars,
           round(k, 6) AS kalman_gain_final,
           round(p, 2) AS p_posterior_final,
           round(sqrt(sse / (n - 1)), 2) AS innovation_rmse_dollars
    FROM folded
    """,
    tags=("timeseries", "filter", "fold"),
)
def q_kalman_local_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter, local-level model (Q=1e4, R=1e6 dollars^2),
    over the last 180 days of daily revenue: predict P+Q, gain
    K = Pp/(Pp+R), update x += K*(y - x), P = (1-K)*Pp, seeded
    x1 = y1, P1 = R. Both engines run the identical left fold (Spark
    `aggregate`, DuckDB recursive CTE -- the holt_linear_forecast
    discipline), so the double stream is bit-identical: gain and
    posterior variance converge to the steady state of the Riccati
    recursion, and the innovation RMSE prices the one-step
    predictability of revenue."""
    daily = _daily(spark, sf_dir)
    maxd = daily.agg(F.max("d").alias("mx"))
    win = (
        daily.crossJoin(F.broadcast(maxd))
        .where(F.col("d") > F.expr(f"mx - INTERVAL {_K_DAYS} DAY"))
        .select("d", (F.col("cents").cast("double") / 100.0).alias("y"))
    )
    arr = win.agg(
        F.expr("transform(array_sort(collect_list(struct(d, y))), q -> q.y)")
        .alias("ys"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    q, r = repr(_KQ), repr(_KR)
    gain = f"(acc.p + {q}) / (acc.p + {q} + {r})"
    fold = (
        "aggregate("
        "  slice(transform(ys, y -> named_struct("
        "    'x', y, 'p', CAST(0.0 AS DOUBLE), 'k', CAST(0.0 AS DOUBLE),"
        "    'sse', CAST(0.0 AS DOUBLE))), 2, size(ys) - 1),"
        f" named_struct('x', ys[0], 'p', CAST({r} AS DOUBLE),"
        "               'k', CAST(0.0 AS DOUBLE),"
        "               'sse', CAST(0.0 AS DOUBLE)),"
        f" (acc, e) -> named_struct("
        f"   'x', acc.x + ({gain}) * (e.x - acc.x),"
        f"   'p', (1.0 - {gain}) * (acc.p + {q}),"
        f"   'k', {gain},"
        "    'sse', acc.sse + (e.x - acc.x) * (e.x - acc.x)))"
    )
    folded = arr.select("n", F.expr(fold).alias("st"))
    return folded.select(
        F.col("n").alias("n_fit_days"),
        F.round(F.col("st.x"), 2).alias("level_dollars"),
        F.round(F.col("st.k"), 6).alias("kalman_gain_final"),
        F.round(F.col("st.p"), 2).alias("p_posterior_final"),
        F.round(
            F.sqrt(F.col("st.sse") / (F.col("n") - 1).cast("double")), 2
        ).alias("innovation_rmse_dollars"),
    )


@register(
    "viterbi_regime_decode",
    f"""
    WITH RECURSIVE {_DAILY_SQL},
    win AS (
      SELECT d, cents FROM daily
      WHERE d > (SELECT max(d) - INTERVAL {_V_DAYS} DAY FROM daily)),
    sgn AS (
      SELECT d,
             CASE WHEN cents > lag(cents) OVER (ORDER BY d)
                  THEN 1 ELSE 0 END AS s,
             lag(cents) OVER (ORDER BY d) IS NOT NULL AS ok
      FROM win),
    arr AS MATERIALIZED (
      SELECT list(s ORDER BY d) AS ss, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(s) AS BIGINT) AS n_up
      FROM sgn WHERE ok),
    rec AS (
      SELECT 1 AS i,
             {_LP0} + CASE WHEN ss[1] = 1 THEN {_LE0_UP}
                           ELSE {_LE0_DN} END AS d0,
             {_LP0} + CASE WHEN ss[1] = 1 THEN {_LE1_UP}
                           ELSE {_LE1_DN} END AS d1,
             CAST(0 AS BIGINT) AS flips,
             CASE WHEN ({_LP0} + CASE WHEN ss[1] = 1 THEN {_LE1_UP}
                                      ELSE {_LE1_DN} END)
                     > ({_LP0} + CASE WHEN ss[1] = 1 THEN {_LE0_UP}
                                      ELSE {_LE0_DN} END)
                  THEN 1 ELSE 0 END AS cur
      FROM arr
      UNION ALL
      SELECT r.i + 1,
             greatest(r.d0 + {_LT_STAY}, r.d1 + {_LT_SWITCH})
               + CASE WHEN a.ss[r.i + 1] = 1 THEN {_LE0_UP}
                      ELSE {_LE0_DN} END,
             greatest(r.d0 + {_LT_SWITCH}, r.d1 + {_LT_STAY})
               + CASE WHEN a.ss[r.i + 1] = 1 THEN {_LE1_UP}
                      ELSE {_LE1_DN} END,
             r.flips + CASE WHEN
               (CASE WHEN
                  (greatest(r.d0 + {_LT_SWITCH}, r.d1 + {_LT_STAY})
                    + CASE WHEN a.ss[r.i + 1] = 1 THEN {_LE1_UP}
                           ELSE {_LE1_DN} END)
                  > (greatest(r.d0 + {_LT_STAY}, r.d1 + {_LT_SWITCH})
                    + CASE WHEN a.ss[r.i + 1] = 1 THEN {_LE0_UP}
                           ELSE {_LE0_DN} END)
                 THEN 1 ELSE 0 END) <> r.cur THEN 1 ELSE 0 END,
             CASE WHEN
               (greatest(r.d0 + {_LT_SWITCH}, r.d1 + {_LT_STAY})
                 + CASE WHEN a.ss[r.i + 1] = 1 THEN {_LE1_UP}
                        ELSE {_LE1_DN} END)
               > (greatest(r.d0 + {_LT_STAY}, r.d1 + {_LT_SWITCH})
                 + CASE WHEN a.ss[r.i + 1] = 1 THEN {_LE0_UP}
                        ELSE {_LE0_DN} END)
               THEN 1 ELSE 0 END
      FROM rec r, arr a WHERE r.i < a.n),
    folded AS (
      SELECT a.n, a.n_up, r.d0, r.d1, r.flips, r.cur
      FROM rec r CROSS JOIN arr a WHERE r.i = a.n)
    SELECT n AS n_obs, n_up AS n_up_days,
           round(d0, 4) AS delta_bear,
           round(d1, 4) AS delta_bull,
           CAST(cur AS INTEGER) AS map_final_state,
           flips AS n_running_map_flips
    FROM folded
    """,
    tags=("timeseries", "hmm", "fold", "max-plus"),
)
def q_viterbi_regime_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi decode of a 2-state bull/bear HMM over the last 365 daily
    up/down revenue signs (stay 0.9 / switch 0.1; bear emits up with
    0.35, bull with 0.65; uniform start). The coupled (delta_bear,
    delta_bull) max-plus recursion folds identically in both engines
    (Spark `aggregate`, DuckDB recursive CTE) with every log-prob a
    PRECOMPUTED Python literal, so no libm ln runs at query time and
    the double streams match bit-for-bit. Emits the terminal Viterbi
    scores, the MAP final state, and how often the RUNNING MAP state
    flipped -- a regime-stability diagnostic."""
    daily = _daily(spark, sf_dir)
    maxd = daily.agg(F.max("d").alias("mx"))
    win = (
        daily.crossJoin(F.broadcast(maxd))
        .where(F.col("d") > F.expr(f"mx - INTERVAL {_V_DAYS} DAY"))
        .select("d", "cents")
    )
    wd = Window.orderBy("d")
    sgn = win.select(
        "d",
        F.when(F.col("cents") > F.lag("cents").over(wd), 1)
        .otherwise(0)
        .alias("s"),
        F.lag("cents").over(wd).isNotNull().alias("ok"),
    )
    arr = sgn.where("ok").agg(
        F.expr("transform(array_sort(collect_list(struct(d, s))), q -> q.s)")
        .alias("ss"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("n_up"),
    )
    e0 = f"CASE WHEN e.s = 1 THEN {_LE0_UP} ELSE {_LE0_DN} END"
    e1 = f"CASE WHEN e.s = 1 THEN {_LE1_UP} ELSE {_LE1_DN} END"
    nd0 = f"greatest(acc.d0 + {_LT_STAY}, acc.d1 + {_LT_SWITCH}) + {e0}"
    nd1 = f"greatest(acc.d0 + {_LT_SWITCH}, acc.d1 + {_LT_STAY}) + {e1}"
    seed0 = f"{_LP0} + CASE WHEN ss[0] = 1 THEN {_LE0_UP} ELSE {_LE0_DN} END"
    seed1 = f"{_LP0} + CASE WHEN ss[0] = 1 THEN {_LE1_UP} ELSE {_LE1_DN} END"
    fold = (
        "aggregate("
        "  slice(transform(ss, v -> named_struct('s', v)), 2, size(ss) - 1),"
        f" named_struct('d0', {seed0}, 'd1', {seed1},"
        "               'flips', CAST(0 AS BIGINT),"
        f"              'cur', CASE WHEN ({seed1}) > ({seed0})"
        "                      THEN 1 ELSE 0 END),"
        f" (acc, e) -> named_struct("
        f"   'd0', {nd0},"
        f"   'd1', {nd1},"
        f"   'flips', acc.flips + CASE WHEN"
        f"     (CASE WHEN ({nd1}) > ({nd0}) THEN 1 ELSE 0 END) <> acc.cur"
        "      THEN 1 ELSE 0 END,"
        f"   'cur', CASE WHEN ({nd1}) > ({nd0}) THEN 1 ELSE 0 END))"
    )
    folded = arr.select("n", "n_up", F.expr(fold).alias("st"))
    return folded.select(
        F.col("n").alias("n_obs"),
        F.col("n_up").alias("n_up_days"),
        F.round(F.col("st.d0"), 4).alias("delta_bear"),
        F.round(F.col("st.d1"), 4).alias("delta_bull"),
        F.col("st.cur").cast("int").alias("map_final_state"),
        F.col("st.flips").alias("n_running_map_flips"),
    )


@register(
    "lindley_queue_waits",
    """
    WITH ev AS (
      SELECT CAST(ts AS DATE) AS day, ts, event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS sc,
             lead(epoch_us(ts)) OVER (
               PARTITION BY CAST(ts AS DATE)
               ORDER BY ts, event_id) - epoch_us(ts) AS gap
      FROM events),
    scal AS (
      SELECT (5 * CAST(sum(gap) AS BIGINT))
               // (6 * CAST(sum(sc) AS BIGINT)) AS g,
             CAST(sum(gap) AS BIGINT) AS sgap,
             CAST(sum(sc) AS BIGINT) AS ssc
      FROM ev WHERE gap IS NOT NULL),
    d AS (
      SELECT day, ts, event_id, sc * s.g - gap AS dd
      FROM ev CROSS JOIN scal s WHERE gap IS NOT NULL),
    c AS (
      SELECT day, ts, event_id,
             sum(dd) OVER (PARTITION BY day ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cc
      FROM d),
    w AS (
      SELECT day,
             cc - least(CAST(0 AS BIGINT),
               min(cc) OVER (PARTITION BY day ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW)) AS wv
      FROM c),
    agg AS (
      SELECT CAST(count(DISTINCT day) AS BIGINT) AS n_days,
             CAST(count(*) AS BIGINT) AS n_waits,
             CAST(max(wv) AS BIGINT) AS mx,
             CAST(sum(wv) AS BIGINT) AS sw,
             CAST(sum(CASE WHEN wv > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos
      FROM w)
    SELECT a.n_days, a.n_waits,
           (1000 * s.ssc * s.g) // (s.sgap // 1000) AS rho_ppm,
           round(CAST(a.mx AS DOUBLE) / 1000000.0, 3) AS max_wait_s,
           (a.sw // a.n_waits) // 1000 AS mean_wait_ms,
           round(CAST(a.n_pos AS DOUBLE) / a.n_waits, 6) AS frac_delayed
    FROM agg a CROSS JOIN scal s
    """,
    tags=("queueing", "events", "window"),
)
def q_lindley_queue_waits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact G/G/1 waiting times of each day's event stream under
    Lindley's recursion W_{i+1} = max(0, W_i + S_i - A_i), solved in
    CLOSED FORM via the reset-at-zero identity: with C the running sum
    of D_i = S_i - A_i, the wait of arrival i+1 is
    C_i - min(0, min_{j<=i} C_j) -- per-day PARTITIONED prefix
    sums/mins, no sequential fold and no global window. Service time is
    value-cents times one exact integer factor g = (5*sum gaps) DIV
    (6*sum cents), targeting utilization rho ~ 5/6; queues reset daily.
    Everything is integer micros end to end; rho_ppm is exact."""
    events = read_table(spark, sf_dir, "events")
    wd = Window.partitionBy("day").orderBy("ts", "event_id")
    ev = events.select(
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("sc"),
    ).withColumn(
        "gap",
        F.unix_micros(
            F.lead("ts").over(
                Window.partitionBy("day").orderBy("ts", "event_id")
            )
        )
        - F.unix_micros("ts"),
    )
    scal = ev.where(F.col("gap").isNotNull()).agg(
        F.expr("(5 * CAST(sum(gap) AS BIGINT))"
               " DIV (6 * CAST(sum(sc) AS BIGINT))").alias("g"),
        F.sum("gap").cast("bigint").alias("sgap"),
        F.sum("sc").cast("bigint").alias("ssc"),
    )
    d = (
        ev.where(F.col("gap").isNotNull())
        .crossJoin(F.broadcast(scal))
        .select(
            "day",
            "ts",
            "event_id",
            (F.col("sc") * F.col("g") - F.col("gap")).alias("dd"),
            "g",
            "sgap",
            "ssc",
        )
    )
    frame = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = d.withColumn("cc", F.sum("dd").over(frame))
    w = c.withColumn(
        "wv",
        F.col("cc")
        - F.least(F.lit(0).cast("bigint"), F.min("cc").over(frame)),
    )
    agg = w.groupBy("g", "sgap", "ssc").agg(
        F.countDistinct("day").cast("bigint").alias("n_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_waits"),
        F.max("wv").cast("bigint").alias("mx"),
        F.sum("wv").cast("bigint").alias("sw"),
        F.sum(F.when(F.col("wv") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
    )
    return agg.select(
        "n_days",
        "n_waits",
        F.expr("(1000 * ssc * g) DIV (sgap DIV 1000)").alias("rho_ppm"),
        F.round(F.col("mx").cast("double") / 1000000.0, 3).alias(
            "max_wait_s"
        ),
        F.expr("(sw DIV n_waits) DIV 1000").alias("mean_wait_ms"),
        F.round(F.col("n_pos").cast("double") / F.col("n_waits"), 6).alias(
            "frac_delayed"
        ),
    )


# Fisher-g p-value: alternating series truncated at 8 terms (error
# bounded by the first omitted term), written as ONE left-to-right
# expression chain so both engines sum in the same order. The binomial
# coefficients C(59, j) are exact Python ints baked into the text.
_G_CHAIN = "59 * power(greatest(1.0 - 1.0 * g, 0.0), 58) - 1711 * power(greatest(1.0 - 2.0 * g, 0.0), 58) + 32509 * power(greatest(1.0 - 3.0 * g, 0.0), 58) - 455126 * power(greatest(1.0 - 4.0 * g, 0.0), 58) + 5006386 * power(greatest(1.0 - 5.0 * g, 0.0), 58) - 45057474 * power(greatest(1.0 - 6.0 * g, 0.0), 58) + 341149446 * power(greatest(1.0 - 7.0 * g, 0.0), 58) - 2217471399 * power(greatest(1.0 - 8.0 * g, 0.0), 58)"


@register(
    "fisher_g_bandlimited",
    f"""
    WITH {_DAILY_SQL},
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
      FROM daily),
    sp AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, cents
      FROM daily),
    u AS (
      SELECT sp.t, sp.cents * tt.n - tt.s AS u FROM sp CROSS JOIN tot tt),
    ex AS (
      SELECT u.t, u.u, p.p
      FROM u CROSS JOIN (SELECT unnest(range(2, 61)) AS p) p),
    proj AS (
      SELECT p,
             CAST(sum(CAST(round(1.0e-6 * u * cos(2 * {_PI!r} * t / p), 0)
                      AS BIGINT)) AS BIGINT) AS a,
             CAST(sum(CAST(round(1.0e-6 * u * sin(2 * {_PI!r} * t / p), 0)
                      AS BIGINT)) AS BIGINT) AS b
      FROM ex GROUP BY p),
    io AS (SELECT p, a * a + b * b AS ip FROM proj),
    ag AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(max(ip) AS BIGINT) AS mi,
             CAST(sum(ip) AS BIGINT) AS si
      FROM io),
    peak AS (
      SELECT min(p) AS peak_p FROM io
      WHERE ip = (SELECT max(ip) FROM io)),
    gg AS (
      SELECT (SELECT n FROM tot) AS n_days, m,
             peak_p, CAST(mi AS DOUBLE) / si AS g
      FROM ag CROSS JOIN peak)
    SELECT n_days, m AS m_ordinates,
           CAST(peak_p AS INTEGER) AS peak_period_days,
           round(g, 6) AS g_stat,
           round(least(1.0, greatest(0.0, {_G_CHAIN})), 6) + 0.0
             AS p_fisher
    FROM gg
    """,
    tags=("timeseries", "spectral", "inference"),
)
def q_fisher_g_bandlimited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's g test for a hidden periodicity, band-limited to the
    integer periods 2..60 days over the mean-removed daily revenue
    series (u_t = n*cents_t - S, exact integers): per-row cos/sin
    projection terms quantize to BIGINT at 1e-6 scale before summation
    (libm's 1-ulp trig noise is ~1e-12 of the rounding grain -- the
    goertzel recipe), so every ordinate I_p = A^2 + B^2 and g =
    max I / sum I are ratios of exact integers. The null p-value uses
    Fisher's alternating series over m = 59 ordinates, truncated at 8
    terms in one shared left-to-right chain (power() only inside the
    final rounded value). peak_period_days = 7 is the expected answer
    on retail-shaped data."""
    daily = _daily(spark, sf_dir)
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    sp = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t"),
        "cents",
    )
    u = sp.crossJoin(F.broadcast(tot)).select(
        "t", (F.col("cents") * F.col("n") - F.col("s")).alias("u"), "n"
    )
    ex = u.select(
        "t", "u", "n", F.explode(F.sequence(F.lit(2), F.lit(60))).alias("p")
    )
    proj = ex.groupBy("n", "p").agg(
        F.expr(
            f"CAST(sum(CAST(round(1.0e-6 * u * cos(2 * {_PI!r} * t / p), 0)"
            f" AS BIGINT)) AS BIGINT)"
        ).alias("a"),
        F.expr(
            f"CAST(sum(CAST(round(1.0e-6 * u * sin(2 * {_PI!r} * t / p), 0)"
            f" AS BIGINT)) AS BIGINT)"
        ).alias("b"),
    )
    io = proj.select(
        "n", "p", (F.col("a") * F.col("a") + F.col("b") * F.col("b")).alias("ip")
    )
    ag = io.groupBy("n").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.max("ip").cast("bigint").alias("mi"),
        F.sum("ip").cast("bigint").alias("si"),
    )
    peak = (
        io.crossJoin(F.broadcast(ag.select("mi")))
        .where(F.col("ip") == F.col("mi"))
        .agg(F.min("p").alias("peak_p"))
    )
    gg = ag.crossJoin(F.broadcast(peak)).select(
        F.col("n").alias("n_days"),
        "m",
        "peak_p",
        (F.col("mi").cast("double") / F.col("si")).alias("g"),
    )
    return gg.select(
        "n_days",
        F.col("m").alias("m_ordinates"),
        F.col("peak_p").cast("int").alias("peak_period_days"),
        F.round(F.col("g"), 6).alias("g_stat"),
        (
            F.round(
                F.expr(f"least(1.0, greatest(0.0, {_G_CHAIN}))"), 6
            )
            + F.lit(0.0)
        ).alias("p_fisher"),
    )
