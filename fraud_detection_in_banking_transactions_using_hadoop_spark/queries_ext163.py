"""Extension batch 163 (round 6): a new live streaming fold and two
sequential-recursion batch operators -- streaming per-user CUSUM
maintained across micro-batches through the MAX-PLUS monoid (the
(total, max-prefix, max-suffix, max-subarray) quadruple composes
associatively, which is exactly why a reset-at-zero CUSUM can be kept
exactly over a stream without replaying history), an (s, Q) inventory
policy simulation over the daily demand series (Spark `aggregate`
fold == DuckDB recursive CTE, the holt_linear_forecast pattern, now
with integer state and data-adaptive parameters), and the Cox-Stuart
paired-sign trend test (the distribution-free trend read that
complements mann_kendall_trend's all-pairs statistic).

Cross-engine discipline:
- CUSUM: everything is integer CENTS (drift d = cents - K literal);
  the live fold's final state equals the whole-sequence window
  identity S_final = max(0, max suffix sum), peak = max(0, Kadane),
  which is what the oracle computes -- exact, no float anywhere.
- Inventory: integer units end-to-end; mu/reorder parameters derive
  from exact ceil-division of the demand total; the recursive CTE's
  shared inputs are marked AS MATERIALIZED (DuckDB re-inlines
  multiply-referenced CTEs otherwise -- round-6 gotcha).
- Cox-Stuart: two integer counts and a continuity-corrected normal
  tail through the shared A&S erf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import (
    _SQRT2,
    _erf_sql,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_K_CENTS = 5_000  # CUSUM reference: $50 per purchase
_H_CENTS = 20_000  # alarm threshold on the peak: $200


@register(
    "streaming_cusum_replay",
    f"""
    WITH seq AS (
      SELECT user_id,
             CAST(round(value * 100, 0) AS BIGINT) - {_K_CENTS} AS d,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS i
      FROM events WHERE event_type = 'purchase'),
    pre0 AS (
      SELECT user_id, d, i,
             sum(d) OVER (PARTITION BY user_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pref
      FROM seq),
    pre AS (
      SELECT user_id, d, pref,
             least(0, coalesce(min(pref) OVER (PARTITION BY user_id
               ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
               AS minpref_excl
      FROM pre0),
    agg AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d) AS BIGINT) AS t,
             CAST(max(t_minus) AS BIGINT) AS maxsuffix,
             CAST(max(pref - minpref_excl) AS BIGINT) AS kad
      FROM (
        SELECT user_id, d, pref, minpref_excl,
               sum(d) OVER (PARTITION BY user_id) - pref + d AS t_minus
        FROM pre) x
      GROUP BY user_id)
    SELECT user_id, n AS n_purchases,
           round(greatest(0, maxsuffix) / 100.0, 2) AS cusum_dollars,
           round(greatest(0, kad) / 100.0, 2) AS peak_dollars,
           greatest(0, kad) >= {_H_CENTS} AS alarm
    FROM agg
    """,
    tags=("streaming", "state", "cusum"),
)
def q_streaming_cusum_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user one-sided CUSUM (S = max(0, S + cents - $50)) kept
    LIVE across four in-order micro-batches. Reset-at-zero state is
    not a sum -- but the (batch total, max prefix, max suffix, Kadane)
    quadruple is an associative max-plus monoid: S_end = max(0,
    batch max-suffix, S_prev + batch total), peak = max(peak_prev,
    Kadane, S_prev + max-prefix, 0). The carried state table swaps
    per batch behind the crash-safe overwrite; final states equal the
    whole-sequence window identity the oracle computes -- exact
    integer cents end to end. Alarm = peak ever >= $200."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.merge import (
        atomic_overwrite,
        recover_table,
    )
    from fraud_detection_in_banking_transactions_using_hadoop_spark.session import (
        normalize_runtime_conf,
    )

    normalize_runtime_conf(spark)
    base = Path(tempfile.mkdtemp(prefix="cusum_stream_"))
    src, state = base / "src", base / "state"
    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            (F.round(F.col("value") * 100, 0).cast("bigint") - _K_CENTS)
            .alias("d"),
            F.unix_micros("ts").alias("us"),
            "event_id",
        )
    )
    parts = ev.select(
        "*", F.ntile(4).over(Window.orderBy("us", "event_id")).alias("pt")
    )
    for p in range(1, 5):
        parts.where(F.col("pt") == p).drop("pt").coalesce(1).write.parquet(
            str(src / f"part{p}")
        )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "part*"))
    )

    def fold(batch_df, batch_id):
        w = Window.partitionBy("user_id").orderBy("us", "event_id")
        wcum = w.rowsBetween(Window.unboundedPreceding, 0)
        wexcl = w.rowsBetween(Window.unboundedPreceding, -1)
        pre = batch_df.select(
            "user_id",
            "d",
            "us",
            "event_id",
            F.sum("d").over(wcum).alias("pref"),
        ).select(
            "user_id",
            "d",
            "pref",
            F.least(
                F.lit(0), F.coalesce(F.min("pref").over(wexcl), F.lit(0))
            ).alias("minpref_excl"),
        )
        pre2 = pre.select(
            "user_id",
            "d",
            "pref",
            "minpref_excl",
            (
                F.sum("d").over(Window.partitionBy("user_id"))
                - F.col("pref")
                + F.col("d")
            ).alias("t_minus"),
        )
        agg = pre2.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum("d").cast("bigint").alias("t"),
            F.max("t_minus").cast("bigint").alias("maxsuffix"),
            F.max(F.col("pref") - F.col("minpref_excl"))
            .cast("bigint")
            .alias("kad"),
            F.max("pref").cast("bigint").alias("maxpref"),
        )
        try:
            recover_table(spark, str(state))
            prev = spark.read.parquet(str(state))
            merged = agg.join(prev, "user_id", "full_outer").select(
                "user_id",
                F.when(F.col("m").isNull(), F.col("s"))
                .otherwise(
                    F.greatest(
                        F.lit(0),
                        F.col("maxsuffix"),
                        F.coalesce(F.col("s"), F.lit(0)) + F.col("t"),
                    )
                )
                .cast("bigint")
                .alias("s"),
                F.when(F.col("m").isNull(), F.col("peak"))
                .otherwise(
                    F.greatest(
                        F.coalesce(F.col("peak"), F.lit(0)),
                        F.lit(0),
                        F.col("kad"),
                        F.coalesce(F.col("s"), F.lit(0)) + F.col("maxpref"),
                    )
                )
                .cast("bigint")
                .alias("peak"),
                (
                    F.coalesce(F.col("seen"), F.lit(0))
                    + F.coalesce(F.col("m"), F.lit(0))
                )
                .cast("bigint")
                .alias("seen"),
            )
            atomic_overwrite(merged, str(state), f"cusum{batch_id}")
        except Exception:
            first = agg.select(
                "user_id",
                F.greatest(F.lit(0), F.col("maxsuffix"))
                .cast("bigint")
                .alias("s"),
                F.greatest(F.lit(0), F.col("kad")).cast("bigint").alias(
                    "peak"
                ),
                F.col("m").cast("bigint").alias("seen"),
            )
            first.write.mode("overwrite").parquet(str(state))

    q = stream.writeStream.foreachBatch(fold).trigger(availableNow=True).start()
    q.awaitTermination()

    final = spark.read.parquet(str(state))
    return final.select(
        "user_id",
        F.col("seen").alias("n_purchases"),
        F.round(F.col("s") / 100.0, 2).alias("cusum_dollars"),
        F.round(F.col("peak") / 100.0, 2).alias("peak_dollars"),
        (F.col("peak") >= _H_CENTS).alias("alarm"),
    )


@register(
    "base_stock_policy",
    """
    WITH RECURSIVE daily AS (
      SELECT o_orderdate AS d, CAST(count(*) AS BIGINT) AS dem
      FROM orders GROUP BY o_orderdate),
    arr AS MATERIALIZED (
      SELECT list(dem ORDER BY d) AS ds, CAST(count(*) AS BIGINT) AS n,
             CAST((sum(dem) + count(*) - 1) // count(*) AS BIGINT) AS mu
      FROM daily),
    par AS MATERIALIZED (
      SELECT n, mu, 3 * mu AS s_pt, 14 * mu AS q_qty, 17 * mu AS i0
      FROM arr),
    rec AS (
      SELECT 0 AS i, p.i0 AS inv, CAST(0 AS BIGINT) AS reorders,
             CAST(0 AS BIGINT) AS backdays
      FROM par p
      UNION ALL
      SELECT r.i + 1,
             CASE WHEN r.inv - a.ds[r.i + 1] <= p.s_pt
                  THEN r.inv - a.ds[r.i + 1] + p.q_qty
                  ELSE r.inv - a.ds[r.i + 1] END,
             r.reorders + CASE WHEN r.inv - a.ds[r.i + 1] <= p.s_pt
                               THEN 1 ELSE 0 END,
             r.backdays + CASE WHEN r.inv - a.ds[r.i + 1] < 0
                               THEN 1 ELSE 0 END
      FROM rec r, arr a, par p WHERE r.i < a.n),
    fin AS (
      SELECT p.n, p.mu, p.s_pt, p.q_qty, r.inv, r.reorders, r.backdays
      FROM rec r CROSS JOIN par p WHERE r.i = p.n)
    SELECT n AS n_days, mu AS mu_daily_demand, s_pt AS reorder_point,
           q_qty AS order_qty, reorders AS n_reorders,
           backdays AS n_backorder_days,
           CAST(inv AS BIGINT) AS final_inventory,
           round(1.0 - CAST(backdays AS DOUBLE) / n, 6) AS service_level
    FROM fin
    """,
    tags=("operations", "inventory", "fold"),
)
def q_base_stock_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s, Q) inventory policy simulated over the full daily order
    demand history: each day inventory drops by that day's demand and
    a reorder of Q = 14*mu units fires whenever the position falls to
    s = 3*mu (mu = ceil mean daily demand, so the parameters are
    scale-free). Integer state end-to-end; Spark runs the identical
    left fold via `aggregate` over the date-sorted demand array while
    the oracle unrolls the recursion as a recursive CTE (the
    holt_linear_forecast pattern). Emits reorder count, backorder-day
    count and the cycle service level -- the EOQ/safety-stock tier's
    missing closed-loop simulation."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("dem")
    )
    arr = daily.agg(
        F.expr("transform(array_sort(collect_list(struct(d, dem))), p -> p.dem)")
        .alias("ds"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            "CAST((sum(dem) + count(*) - 1) DIV count(*) AS BIGINT)"
        ).alias("mu"),
    )
    par = arr.select(
        "ds",
        "n",
        "mu",
        (3 * F.col("mu")).alias("s_pt"),
        (14 * F.col("mu")).alias("q_qty"),
        (17 * F.col("mu")).alias("i0"),
    )
    fold = (
        "aggregate("
        "  ds,"
        "  named_struct('inv', i0, 'reorders', CAST(0 AS BIGINT),"
        "               'backdays', CAST(0 AS BIGINT)),"
        "  (acc, x) -> named_struct("
        "    'inv', CASE WHEN acc.inv - x <= s_pt"
        "                THEN acc.inv - x + q_qty"
        "                ELSE acc.inv - x END,"
        "    'reorders', acc.reorders + CASE WHEN acc.inv - x <= s_pt"
        "                                    THEN 1 ELSE 0 END,"
        "    'backdays', acc.backdays + CASE WHEN acc.inv - x < 0"
        "                                    THEN 1 ELSE 0 END))"
    )
    folded = par.select(
        "n", "mu", "s_pt", "q_qty", F.expr(fold).alias("st")
    )
    return folded.select(
        F.col("n").alias("n_days"),
        F.col("mu").alias("mu_daily_demand"),
        F.col("s_pt").alias("reorder_point"),
        F.col("q_qty").alias("order_qty"),
        F.col("st.reorders").alias("n_reorders"),
        F.col("st.backdays").alias("n_backorder_days"),
        F.col("st.inv").cast("bigint").alias("final_inventory"),
        F.round(
            1.0 - F.col("st.backdays").cast("double") / F.col("n"), 6
        ).alias("service_level"),
    )


@register(
    "cox_stuart_trend",
    f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_orderdate),
    s AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn, cents
      FROM daily),
    tot AS (SELECT CAST(count(*) AS BIGINT) // 2 AS c FROM s),
    pairs AS (
      SELECT a.cents AS x1, b.cents AS x2
      FROM s a JOIN tot t ON a.rn <= t.c
      JOIN s b ON b.rn = a.rn + t.c),
    cnt AS (
      SELECT CAST(sum(CASE WHEN x2 <> x1 THEN 1 ELSE 0 END) AS BIGINT) AS m,
             CAST(sum(CASE WHEN x2 > x1 THEN 1 ELSE 0 END) AS BIGINT) AS t_up
      FROM pairs),
    st AS (
      SELECT m, t_up,
             (CAST(t_up AS DOUBLE) - CAST(m AS DOUBLE) / 2.0
              - CASE WHEN CAST(t_up AS DOUBLE) > CAST(m AS DOUBLE) / 2.0
                     THEN 0.5
                     WHEN CAST(t_up AS DOUBLE) < CAST(m AS DOUBLE) / 2.0
                     THEN -0.5 ELSE 0.0 END)
               / sqrt(CAST(m AS DOUBLE) / 4.0) AS z
      FROM cnt)
    SELECT m AS n_pairs, t_up AS n_up,
           round(z, 4) AS z,
           round(1.0 - {_erf_sql(f"(abs(z) / {_SQRT2!r})")}, 6)
             AS p_two_sided,
           abs(z) > 1.959963984540054 AS reject_5pct
    FROM st
    """,
    tags=("timeseries", "trend", "signtest"),
)
def q_cox_stuart_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox-Stuart trend test on daily revenue: pair day i with day
    i + n/2 and sign-test the count of increases among non-tied pairs
    (binomial(m, 1/2) under no trend; continuity-corrected normal
    tail at this n). Distribution-free and O(n) -- the quick screen
    next to mann_kendall_trend's O(n^2)-pair statistic; a significant
    positive z says the second half of history sits above the first
    beyond chance."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    s = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("rn"),
        "cents",
    )
    tot = s.agg(F.expr("CAST(count(*) DIV 2 AS BIGINT)").alias("c"))
    a = s.alias("a")
    b = s.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(tot))
        .where(F.col("a.rn") <= F.col("c"))
        .join(b, F.col("b.rn") == F.col("a.rn") + F.col("c"))
        .select(F.col("a.cents").alias("x1"), F.col("b.cents").alias("x2"))
    )
    cnt = pairs.agg(
        F.sum(F.when(F.col("x2") != F.col("x1"), 1).otherwise(0))
        .cast("bigint")
        .alias("m"),
        F.sum(F.when(F.col("x2") > F.col("x1"), 1).otherwise(0))
        .cast("bigint")
        .alias("t_up"),
    )
    md = F.col("m").cast("double")
    td = F.col("t_up").cast("double")
    cc = (
        F.when(td > md / 2.0, 0.5)
        .when(td < md / 2.0, -0.5)
        .otherwise(0.0)
    )
    z = (td - md / 2.0 - cc) / F.sqrt(md / 4.0)
    st = cnt.select("m", "t_up", z.alias("z"))
    return st.select(
        F.col("m").alias("n_pairs"),
        F.col("t_up").alias("n_up"),
        F.round(F.col("z"), 4).alias("z"),
        F.round(
            1.0 - F.expr(_erf_sql(f"(abs(z) / {_SQRT2!r})")), 6
        ).alias("p_two_sided"),
        (F.abs(F.col("z")) > 1.959963984540054).alias("reject_5pct"),
    )
