"""Extension batch 22: robust fitting, multiple-testing control,
privacy auditing, and burstiness screening.

Scale notes (the 100 TB story per query):
- ransac_trend_fit broadcasts a CONSTANT 16-row candidate-model table
  onto the daily series for inlier counting (model fit never moves
  data; the argmax is over 16 rows).
- bh_fdr_screen aggregates to one row per nation (25), computes the
  z/p columns row-locally, and runs the Benjamini-Hochberg step-up on
  the 25-row summary -- the only window is over the nation table.
- k_anonymity_audit is one groupBy over the quasi-identifier tuple
  plus a summary agg: the equivalence-class histogram shuffles once.
- fano_burstiness joins each user against the literal 30-day calendar
  spine (sequence literal, broadcast) so zero-activity days count,
  then closes var/mean in exact integer moments.

Cross-engine parity: p-values from the shared Abramowitz-Stegun
26.2.17 normal-tail polynomial are rounded to e8 INTEGERS before any
comparison or output, so the BH step-up compares identical integers
in both engines; RANSAC residual predicates evaluate one identical
IEEE expression of exact integer inputs on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_N_MODELS = 16
_BH_ALPHA = 0.05


# ---------------------------------------------------------------------------
# RANSAC-style robust trend: 16 deterministic two-point line models
# over the daily revenue series; the consensus winner is the model
# with the most inliers (|residual| <= 10% of mean daily revenue).
# ---------------------------------------------------------------------------
@register(
    "ransac_trend_fit",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    idx AS (
      SELECT d, y, row_number() OVER (ORDER BY d) AS i,
             CAST(datediff('day', DATE '1970-01-01', d) AS BIGINT) AS x
      FROM daily
    ),
    stats AS (SELECT count(*) AS n, sum(y) AS sy FROM idx),
    models AS (
      SELECT m.i AS model_id, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
      FROM (SELECT unnest(range(1, {_N_MODELS} + 1)) AS i) m
      JOIN idx a ON a.i = m.i
      JOIN idx b ON b.i = m.i + (SELECT n // 2 FROM stats)
    ),
    scored AS (
      SELECT m.model_id, m.x1, m.y1, m.x2, m.y2,
             CAST(sum(CASE WHEN abs(CAST(p.y AS DOUBLE) - (CAST(m.y1 AS DOUBLE)
                    + (CAST(m.y2 AS DOUBLE) - CAST(m.y1 AS DOUBLE))
                      / (CAST(m.x2 AS DOUBLE) - CAST(m.x1 AS DOUBLE))
                      * (CAST(p.x AS DOUBLE) - CAST(m.x1 AS DOUBLE))))
                 <= 0.1 * CAST(s.sy AS DOUBLE) / s.n
               THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers
      FROM models m, idx p, stats s
      GROUP BY m.model_id, m.x1, m.y1, m.x2, m.y2
    )
    SELECT CAST(model_id AS BIGINT) AS model_id,
           n_inliers,
           round((CAST(y2 AS DOUBLE) - CAST(y1 AS DOUBLE))
                 / (CAST(x2 AS DOUBLE) - CAST(x1 AS DOUBLE)), 6) AS slope_cents_per_day
    FROM (SELECT *, row_number() OVER (ORDER BY n_inliers DESC, model_id ASC) AS rn
          FROM scored)
    WHERE rn = 1
    """,
    tags=("robust", "ransac", "regression"),
)
def q_ransac_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-point models (day i, day i + n/2) for i in 1..16; inlier =
    |y - line(x)| within 10% of the mean daily revenue. Every input to
    the residual expression is an exact integer, so the one IEEE
    expression agrees across engines; the 16-model table and the two
    1-row scalars broadcast."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    idx = daily.select(
        "y",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("i"),
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
    )
    stats = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    mids = spark.range(1, _N_MODELS + 1).select(F.col("id").alias("model_id"))
    a = idx.alias("a")
    b = idx.alias("b")
    models = (
        mids.crossJoin(F.broadcast(stats))
        .join(a, F.col("a.i") == F.col("model_id"))
        .join(b, F.col("b.i") == F.col("model_id") + F.expr("n div 2"))
        .select(
            "model_id",
            F.col("a.x").alias("x1"),
            F.col("a.y").alias("y1"),
            F.col("b.x").alias("x2"),
            F.col("b.y").alias("y2"),
            "n",
            "sy",
        )
    )
    p = idx.alias("p")
    line = F.col("y1").cast("double") + (
        F.col("y2").cast("double") - F.col("y1").cast("double")
    ) / (F.col("x2").cast("double") - F.col("x1").cast("double")) * (
        F.col("p.x").cast("double") - F.col("x1").cast("double")
    )
    thr = 0.1 * F.col("sy").cast("double") / F.col("n")
    scored = (
        p.crossJoin(F.broadcast(models))
        .groupBy("model_id", "x1", "y1", "x2", "y2")
        .agg(
            F.sum(
                F.when(F.abs(F.col("p.y").cast("double") - line) <= thr, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_inliers")
        )
    )
    pick = Window.orderBy(F.col("n_inliers").desc(), F.col("model_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            F.col("model_id").cast("bigint").alias("model_id"),
            "n_inliers",
            F.round(
                (F.col("y2").cast("double") - F.col("y1").cast("double"))
                / (F.col("x2").cast("double") - F.col("x1").cast("double")),
                6,
            ).alias("slope_cents_per_day"),
        )
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR screen: per-nation urgent-order share vs the
# global share (two-proportion z against the known global rate), BH
# step-up at alpha = 0.05 over the 25 nation p-values.
# ---------------------------------------------------------------------------
_AS_P = """(
      exp(-0.5 * Z * Z) * 0.3989422804014327
      * (0.319381530 * T - 0.356563782 * T * T + 1.781477937 * T * T * T
         - 1.821255978 * T * T * T * T + 1.330274429 * T * T * T * T * T)
    )"""  # one-sided upper tail via A&S 26.2.17; T = 1/(1 + 0.2316419 Z)


def _bh_sql() -> str:
    p_expr = _AS_P.replace("Z", "az").replace("T", "t")
    return f"""
    WITH nat AS (
      SELECT n.n_name AS nation,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_urgent
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    ),
    pooled AS (SELECT sum(n_urgent) AS gu, sum(n_orders) AS gn FROM nat),
    z AS (
      SELECT nation, n_orders, n_urgent,
             (CAST(n_urgent AS DOUBLE) / n_orders - CAST(gu AS DOUBLE) / gn)
             / sqrt(CAST(gu AS DOUBLE) / gn * (1 - CAST(gu AS DOUBLE) / gn)
                    / n_orders) AS zv
      FROM nat, pooled
    ),
    p AS (
      SELECT nation, n_orders, n_urgent, zv,
             CAST(round(2 * {p_expr} * 1e8, 0) AS BIGINT) AS p_e8
      FROM (SELECT *, abs(zv) AS az, 1 / (1 + 0.2316419 * abs(zv)) AS t FROM z)
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY p_e8 ASC, nation ASC) AS rk,
             count(*) OVER () AS m
      FROM p
    ),
    cut AS (
      SELECT coalesce(max(CASE WHEN CAST(p_e8 AS DOUBLE) / 1e8
                                    <= {_BH_ALPHA} * rk / m
                               THEN rk END), 0) AS kmax
      FROM ranked
    )
    SELECT nation, n_orders, n_urgent,
           round(zv, 6) AS z_score, p_e8,
           CAST(rk AS BIGINT) AS bh_rank,
           CAST(CASE WHEN rk <= (SELECT kmax FROM cut) THEN 1 ELSE 0 END
                AS INTEGER) AS rejected
    FROM ranked
    """


@register(
    "bh_fdr_screen",
    _bh_sql(),
    tags=("stats", "multiple-testing", "fdr"),
)
def q_bh_fdr_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """z for each nation's urgent share against the pooled rate; the
    shared A&S 26.2.17 tail polynomial gives two-sided p, rounded to
    an e8 integer BEFORE the step-up so both engines compare the same
    integers. The BH window runs over the 25-row nation summary
    (bounded by the nation dimension)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
            .cast("bigint")
            .alias("n_urgent"),
        )
    )
    glob = nat.agg(
        F.sum("n_urgent").alias("gu"), F.sum("n_orders").alias("gn")
    )
    g = F.col("gu").cast("double") / F.col("gn")
    zv = (
        F.col("n_urgent").cast("double") / F.col("n_orders") - g
    ) / F.sqrt(g * (1 - g) / F.col("n_orders"))
    z = nat.crossJoin(F.broadcast(glob)).withColumn("zv", zv)
    az = F.abs(F.col("zv"))
    t = 1 / (1 + 0.2316419 * az)
    tail = (
        F.exp(-0.5 * az * az)
        * 0.3989422804014327
        * (
            0.319381530 * t
            - 0.356563782 * t * t
            + 1.781477937 * t * t * t
            - 1.821255978 * t * t * t * t
            + 1.330274429 * t * t * t * t * t
        )
    )
    p = z.withColumn("p_e8", F.round(2 * tail * 1e8, 0).cast("bigint"))
    wrk = Window.orderBy(F.col("p_e8").asc(), F.col("nation").asc())
    ranked = p.select(
        "nation",
        "n_orders",
        "n_urgent",
        "zv",
        "p_e8",
        F.row_number().over(wrk).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    cut = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_e8").cast("double") / 1e8
                    <= _BH_ALPHA * F.col("rk") / F.col("m"),
                    F.col("rk"),
                )
            ),
            F.lit(0).cast("bigint"),
        ).alias("kmax")
    )
    return ranked.crossJoin(F.broadcast(cut)).select(
        "nation",
        "n_orders",
        "n_urgent",
        F.round("zv", 6).alias("z_score"),
        "p_e8",
        F.col("rk").alias("bh_rank"),
        F.when(F.col("rk") <= F.col("kmax"), 1).otherwise(0).cast("int").alias("rejected"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit over (nation, market segment, balance bucket):
# equivalence classes smaller than k are re-identification risks.
# ---------------------------------------------------------------------------
q_k_anonymity_audit = register_sql(
    "k_anonymity_audit",
    """
    WITH classes AS (
      SELECT c_nationkey AS nk, c_mktsegment AS seg,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
             CAST(count(*) AS BIGINT) AS class_size
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(class_size) AS BIGINT) AS min_class_size,
           CAST(sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_risky_classes,
           CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT)
             AS n_risky_rows,
           CAST(sum(class_size) AS BIGINT) AS n_rows
    FROM classes
    """,
    tags=("privacy", "k-anonymity", "governance"),
)


# ---------------------------------------------------------------------------
# Fano factor burstiness: variance-to-mean ratio of each user's daily
# event counts over the full 30-day window (zero days INCLUDED via the
# calendar spine). F >> 1 = bursty, F ~ 1 = Poisson-like.
# ---------------------------------------------------------------------------
@register(
    "fano_burstiness",
    """
    WITH days AS (
      SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                         INTERVAL 1 DAY)) AS DATE) AS d
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    spine AS (SELECT u.user_id, d.d FROM users u, days d),
    cnt AS (
      SELECT e.user_id, CAST(e.ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      FROM events e GROUP BY 1, 2
    ),
    full_cnt AS (
      SELECT s.user_id, coalesce(cnt.c, 0) AS c
      FROM spine s LEFT JOIN cnt ON s.user_id = cnt.user_id AND s.d = cnt.d
    ),
    mom AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS nd,
             CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
      FROM full_cnt GROUP BY user_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, s1 AS n_events,
           CASE WHEN s1 = 0 THEN NULL
                ELSE round((CAST(nd AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                           / (CAST(nd AS DOUBLE) * s1), 6)
           END AS fano
    FROM mom
    """,
    tags=("stats", "burstiness", "timeseries"),
)
def q_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F = var_pop/mean = (nd*S2 - S1^2)/(nd*S1) from exact integer
    moments over the 30-slot calendar spine (a literal sequence,
    broadcast onto the distinct users so silent days count as zeros).
    Zero-event users propagate NULL explicitly."""
    ev = read_table(spark, sf_dir, "events")
    days = spark.sql(
        "SELECT explode(sequence(DATE'2024-01-01', DATE'2024-01-30', "
        "interval 1 day)) AS d"
    )
    users = ev.select("user_id").distinct()
    spine = users.crossJoin(F.broadcast(days))
    cnt = ev.groupBy("user_id", F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    full_cnt = spine.join(cnt, ["user_id", "d"], "left").select(
        "user_id", F.coalesce("c", F.lit(0)).alias("c")
    )
    mom = full_cnt.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    nd_d = F.col("nd").cast("double")
    s1_d = F.col("s1").cast("double")
    return mom.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("s1").alias("n_events"),
        F.when(F.col("s1") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round((nd_d * F.col("s2") - s1_d * F.col("s1")) / (nd_d * F.col("s1")), 6)
        )
        .alias("fano"),
    )
