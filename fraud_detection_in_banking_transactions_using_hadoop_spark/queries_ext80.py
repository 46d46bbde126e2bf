"""Extension batch 80: inventory / operations analytics -- the
newsvendor quantile, safety-stock + reorder points, and a
Savitzky-Golay quadratic smoother for spike detection.

Where erlang_c_staffing (ext70) sizes SERVICE capacity, these size
INVENTORY: the newsvendor critical-ratio quantile is the provably
optimal order quantity under linear over/under-age costs, and the
reorder point is the demand-during-lead-time buffer every min/max
policy runs on. The SG smoother is the signal-processing counterpart
of moving_median: a least-squares local parabola that preserves peaks
a plain moving average flattens.

Exactness: demands and revenues are integer units/cents; per-part
quantiles are exact order statistics (partitioned windows whose
per-part input is calendar-bounded); the SG convolution uses the
integer coefficients (501 - 15 j^2)/3315 for the 15-point quadratic
kernel, so the numerator is an exact integer sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_NV_RATIO_PCT = 80  # critical ratio cu/(cu+co) = 0.8
_TOP_PARTS = 5
_SS_Z_E3 = 1645  # z(95%) * 1000, integer to keep both engines identical
_SG_M = 7  # 15-point window


# ---------------------------------------------------------------------------
# Newsvendor optimal order quantity for the top parts.
# ---------------------------------------------------------------------------
q_newsvendor_quantile = register_sql(
    "newsvendor_quantile",
    f"""
    WITH dem AS (
      SELECT l_partkey AS pk, l_shipdate AS dt,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY l_partkey, l_shipdate),
    topp AS (
      SELECT pk FROM dem GROUP BY pk
      ORDER BY sum(q) DESC, pk LIMIT {_TOP_PARTS}),
    sel AS (
      SELECT d.pk, d.q FROM dem d JOIN topp t ON d.pk = t.pk),
    ranked AS (
      SELECT pk, q,
             CAST(row_number() OVER (PARTITION BY pk ORDER BY q, pk) AS BIGINT)
               AS rn,
             CAST(count(*) OVER (PARTITION BY pk) AS BIGINT) AS n,
             CAST(sum(q) OVER (PARTITION BY pk) AS BIGINT) AS sq
      FROM sel)
    SELECT pk AS partkey,
           CAST(max(n) AS BIGINT) AS n_demand_days,
           round(CAST(max(sq) AS DOUBLE) / max(n), 4) AS mean_daily_units,
           CAST(min(CASE WHEN 100 * rn >= {_NV_RATIO_PCT} * n THEN q END)
                AS BIGINT) AS q_star_units
    FROM ranked GROUP BY pk ORDER BY pk
    """,
    tags=("inventory", "quantile", "exact-arith"),
)


# ---------------------------------------------------------------------------
# Safety stock + reorder point for the top parts.
# ---------------------------------------------------------------------------
@register(
    "safety_stock_reorder",
    f"""
    WITH dem AS (
      SELECT l_partkey AS pk, l_shipdate AS dt,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY l_partkey, l_shipdate),
    stats AS (
      SELECT pk,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS HUGEINT) AS s,
             CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS s2
      FROM dem GROUP BY pk
      ORDER BY sum(q) DESC, pk LIMIT {_TOP_PARTS}),
    lt AS (
      SELECT l.l_partkey AS pk,
             CAST(count(*) AS BIGINT) AS nl,
             CAST(sum(greatest(date_diff('day', o.o_orderdate, l.l_shipdate),
                               0)) AS BIGINT) AS slt
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN stats st ON st.pk = l.l_partkey
      GROUP BY l.l_partkey),
    c AS (
      SELECT s.pk, s.n,
             CAST(s.s AS DOUBLE) / s.n AS mu_d,
             sqrt((CAST(s.n AS DOUBLE) * s.s2 - CAST(s.s AS DOUBLE) * s.s)
                  / (CAST(s.n AS DOUBLE) * s.n)) AS sd_d,
             CAST(l.slt AS DOUBLE) / l.nl AS lt_days
      FROM stats s JOIN lt l ON s.pk = l.pk)
    SELECT pk AS partkey,
           n AS n_demand_days,
           round(mu_d, 4) AS mean_daily_units,
           round(sd_d, 4) AS sd_daily_units,
           round(lt_days, 4) AS avg_lead_days,
           round({_SS_Z_E3} / 1000.0 * sd_d * sqrt(lt_days), 4)
             AS safety_stock_units,
           round(mu_d * lt_days + {_SS_Z_E3} / 1000.0 * sd_d * sqrt(lt_days), 4)
             AS reorder_point_units
    FROM c ORDER BY pk
    """,
    tags=("inventory", "planning", "exact-arith"),
)
def q_safety_stock_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic (z sigma_d sqrt(LT)) safety stock and reorder point
    ROP = mu_d * LT + SS for the top parts: daily-demand population
    moments and the order-to-ship lead time close over exact integer
    sums; z = 1.645 enters as the integer 1645/1000 so both engines
    compute identical doubles. The min/max policy primitive on top of
    newsvendor_quantile's single-period answer."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    dem = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_shipdate").alias("dt")
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"))
    qd = F.col("q").cast(_DEC)
    stats = (
        dem.groupBy("pk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("q").cast(_DEC).alias("s"),
            F.sum(qd * qd).cast(_DEC).alias("s2"),
        )
        .orderBy(F.col("s").desc(), "pk")
        .limit(_TOP_PARTS)
    )
    lt = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(stats.select("pk")), li.l_partkey == F.col("pk"))
        .groupBy(F.col("l_partkey").alias("pk2"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nl"),
            F.sum(F.greatest(F.datediff("l_shipdate", "o_orderdate"), F.lit(0)))
            .cast("bigint")
            .alias("slt"),
        )
    )
    c = stats.join(F.broadcast(lt), stats.pk == lt.pk2).select(
        "pk",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mu_d"),
        F.sqrt(
            (
                F.col("n").cast("double") * F.col("s2").cast("double")
                - F.col("s").cast("double") * F.col("s").cast("double")
            )
            / (F.col("n").cast("double") * F.col("n"))
        ).alias("sd_d"),
        (F.col("slt").cast("double") / F.col("nl")).alias("lt_days"),
    )
    ss = _SS_Z_E3 / F.lit(1000.0) * F.col("sd_d") * F.sqrt("lt_days")
    return c.select(
        F.col("pk").alias("partkey"),
        F.col("n").alias("n_demand_days"),
        F.round("mu_d", 4).alias("mean_daily_units"),
        F.round("sd_d", 4).alias("sd_daily_units"),
        F.round("lt_days", 4).alias("avg_lead_days"),
        F.round(ss, 4).alias("safety_stock_units"),
        F.round(F.col("mu_d") * F.col("lt_days") + ss, 4).alias(
            "reorder_point_units"
        ),
    ).orderBy("partkey")


# ---------------------------------------------------------------------------
# Savitzky-Golay 15-point quadratic smoother: largest residual spikes.
# ---------------------------------------------------------------------------
def _sg_terms_sql() -> str:
    terms = []
    for j in range(-_SG_M, _SG_M + 1):
        coef = 501 - 15 * j * j
        if j < 0:
            terms.append(f"{coef} * lag(y, {-j}) OVER w")
        elif j == 0:
            terms.append(f"{coef} * y")
        else:
            terms.append(f"{coef} * lead(y, {j}) OVER w")
    return " + ".join(terms)


@register(
    "savgol_spike_days",
    f"""
    WITH d AS (
      SELECT o_orderdate AS dt,
             CAST(sum(round(o_totalprice * 100, 0)) AS BIGINT) AS y
      FROM orders GROUP BY o_orderdate),
    conv AS (
      SELECT dt, y,
             CAST({_sg_terms_sql()} AS BIGINT) AS num,
             lag(y, {_SG_M}) OVER w AS okl, lead(y, {_SG_M}) OVER w AS okr
      FROM d
      WINDOW w AS (ORDER BY dt))
    SELECT strftime(dt, '%Y-%m-%d') AS dt,
           round(y / 100.0, 2) AS actual_dollars,
           round(CAST(num AS DOUBLE) / 3315.0 / 100.0, 2) AS smoothed_dollars,
           round((CAST(y AS DOUBLE) - CAST(num AS DOUBLE) / 3315.0) / 100.0, 2)
             + 0.0 AS spike_dollars
    FROM conv
    WHERE okl IS NOT NULL AND okr IS NOT NULL
    ORDER BY abs(CAST(y AS DOUBLE) - CAST(num AS DOUBLE) / 3315.0) DESC, dt
    LIMIT 5
    """,
    tags=("timeseries", "smoothing", "exact-arith"),
)
def q_savgol_spike_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Savitzky-Golay 15-point quadratic smoothing of daily revenue --
    the local-parabola filter whose integer kernel (501 - 15 j^2)/3315
    preserves peak heights a moving average clips -- then the five
    largest |actual - smoothed| spike days. The convolution numerator
    is an exact integer (15 lag/lead taps in ONE calendar-bounded
    window pass); only the /3315 normalization is double. Interior
    points only (full kernel support)."""
    orders = read_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").alias("dt")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0)).cast("bigint").alias("y")
    )
    w = Window.orderBy("dt")
    num = None
    for j in range(-_SG_M, _SG_M + 1):
        coef = 501 - 15 * j * j
        if j < 0:
            term = F.lit(coef) * F.lag("y", -j).over(w)
        elif j == 0:
            term = F.lit(coef) * F.col("y")
        else:
            term = F.lit(coef) * F.lead("y", j).over(w)
        num = term if num is None else num + term
    conv = d.select(
        "dt",
        "y",
        num.cast("bigint").alias("num"),
        F.lag("y", _SG_M).over(w).alias("okl"),
        F.lead("y", _SG_M).over(w).alias("okr"),
    )
    spike = (F.col("y").cast("double") - F.col("num").cast("double") / 3315.0)
    return (
        conv.where(F.col("okl").isNotNull() & F.col("okr").isNotNull())
        .orderBy(F.abs(spike).desc(), "dt")
        .limit(5)
        .select(
            F.date_format("dt", "yyyy-MM-dd").alias("dt"),
            F.round(F.col("y") / 100.0, 2).alias("actual_dollars"),
            F.round(F.col("num").cast("double") / 3315.0 / 100.0, 2).alias(
                "smoothed_dollars"
            ),
            (F.round(spike / 100.0, 2) + 0.0).alias("spike_dollars"),
        )
    )
