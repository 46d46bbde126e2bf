"""Extension batch 174 (round 6): second-order uncertainty and
heterogeneity completions -- the BCa bootstrap CI (bias-corrected and
accelerated: the percentile interval bootstrap_ci_revenue prints is
first-order; BCa's z0 median-bias and jackknife acceleration make it
second-order correct, and both intervals print side by side), the
Pollaczek-Khinchine M/G/1 waiting time (the EXACT queue formula whose
G/G/1 upper bound kingman_gg1_wait already ships -- the gap between
them is the interarrival-variability premium), and the mover-stayer
decomposition of monthly purchase persistence (the 2-chain mixture
whose closed form splits 'loyal' mass from a single Markov chain's
average -- markov_transitions' hidden-heterogeneity correction).

Cross-engine discipline:
- BCa reuses the EXACT hash-deterministic 200-replicate machinery of
  bootstrap_ci_revenue (same multiplicative draws, integer dollars);
  z0 and the level adjustments go through the shared Acklam
  inverse-normal and A&S erf polynomials; the acceleration is a pure
  ratio of exact integer jackknife folds (sum u^3 / 6 (sum u^2)^1.5
  with u = n c_i - S -- the scale factors cancel).
- PK: arrival-rate and service moments fold as exact integer micros /
  cents.
- Mover-stayer: all four probabilities are exact integer count
  ratios over the SAME base set (active months with two successors);
  the closed form s = (q1^2 - q22)/(2 q1 - q22 - 1) is one shared
  double expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import (
    _acklam_sql,
    _erf_sql,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import (
    convert_event_ts,
    read_table,
)

_DEC = "decimal(38,0)"
_B = 200
_Z95 = 1.959963984540054


def _phi_sql(x: str) -> str:
    return f"(0.5 * (1.0 + {_erf_sql(f'(({x}) / 1.4142135623730951)')}))"


@register(
    "bootstrap_bca_ci",
    f"""
    WITH days AS (
      SELECT o_orderdate AS d,
             CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) // 100 AS BIGINT) AS c
      FROM orders GROUP BY o_orderdate),
    idx AS (
      SELECT d, c, CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS i
      FROM days),
    nn AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s
      FROM idx),
    grid AS (
      SELECT r.r, idx.i
      FROM idx CROSS JOIN (SELECT unnest(range({_B})) AS r) r),
    picks AS (
      SELECT g.r,
             ((g.r * 104729 + g.i * 999983 + 12289) % 2147483647) % nn.n
               AS pick
      FROM grid g CROSS JOIN nn),
    reps AS (
      SELECT p.r, CAST(sum(idx.c) AS BIGINT) AS sr
      FROM picks p JOIN idx ON idx.i = p.pick GROUP BY p.r),
    ranked AS (
      SELECT sr, row_number() OVER (ORDER BY sr, r) AS rn FROM reps),
    z0t AS (
      SELECT least(greatest(
               CAST(sum(CASE WHEN rep.sr < n2.s THEN 1 ELSE 0 END)
                    AS DOUBLE) / {_B}, 0.5 / {_B}), 1.0 - 0.5 / {_B}) AS p0
      FROM reps rep CROSS JOIN nn n2),
    jack AS (
      SELECT CAST(sum(CAST(u AS HUGEINT) * u * u) AS HUGEINT) AS s3,
             CAST(sum(CAST(u AS HUGEINT) * u) AS HUGEINT) AS s2
      FROM (SELECT idx.c * n3.n - n3.s AS u
            FROM idx CROSS JOIN nn n3) uu),
    par AS (
      SELECT ({_acklam_sql("z0t.p0")}) AS z0,
             CAST(j.s3 AS DOUBLE)
               / (6.0 * power(CAST(j.s2 AS DOUBLE), 1.5)) AS a
      FROM z0t CROSS JOIN jack j),
    lv AS (
      SELECT z0, a,
             {_phi_sql(f"(z0 + (z0 - {_Z95!r}) / (1.0 - a * (z0 - {_Z95!r})))")}
               AS a1,
             {_phi_sql(f"(z0 + (z0 + {_Z95!r}) / (1.0 - a * (z0 + {_Z95!r})))")}
               AS a2
      FROM par),
    cuts AS (
      SELECT z0, a, a1, a2,
             least(greatest(CAST(ceil(a1 * {_B}) AS BIGINT), 1), {_B})
               AS r1,
             least(greatest(CAST(ceil(a2 * {_B}) AS BIGINT), 1), {_B})
               AS r2
      FROM lv)
    SELECT n4.n AS n_days,
           CAST(n4.s // n4.n AS BIGINT) AS point_mean_dollars,
           round(c2.z0, 4) AS z0_bias,
           round(c2.a, 6) + 0.0 AS acceleration,
           CAST(max(CASE WHEN rk.rn = c2.r1 THEN rk.sr END) // n4.n
                AS BIGINT) AS lo_bca_dollars,
           CAST(max(CASE WHEN rk.rn = c2.r2 THEN rk.sr END) // n4.n
                AS BIGINT) AS hi_bca_dollars,
           CAST(max(CASE WHEN rk.rn = 5 THEN rk.sr END) // n4.n AS BIGINT)
             AS lo_pct_dollars,
           CAST(max(CASE WHEN rk.rn = 195 THEN rk.sr END) // n4.n AS BIGINT)
             AS hi_pct_dollars
    FROM ranked rk CROSS JOIN cuts c2 CROSS JOIN nn n4
    GROUP BY n4.n, n4.s, c2.z0, c2.a, c2.r1, c2.r2
    """,
    tags=("stats", "bootstrap", "bca"),
)
def q_bootstrap_bca_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BCa bootstrap CI for mean daily revenue on the SAME 200
    hash-deterministic replicates as bootstrap_ci_revenue: z0 =
    PhiInv(share of replicate sums below the observed sum, clamped to
    [1/2B, 1-1/2B]), acceleration from the exact jackknife identity
    a = sum u^3 / (6 (sum u^2)^1.5) with u = n c_i - S, and the
    adjusted levels Phi(z0 + (z0 +- z)/(1 - a(...))) picking
    nearest-rank replicate order statistics. The percentile interval
    prints beside it: the shift between them IS the measured
    skew/bias of the sampling distribution."""
    orders = read_table(spark, sf_dir, "orders")
    days = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
            " AS BIGINT) DIV 100 AS BIGINT)"
        ).alias("c")
    )
    idx = days.withColumn(
        "i", (F.row_number().over(Window.orderBy("d")) - 1).cast("bigint")
    )
    nn = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
    )
    grid = idx.select(
        F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("r0"), "i"
    ).select(F.col("r0").cast("bigint").alias("r"), "i")
    picks = grid.crossJoin(F.broadcast(nn)).select(
        "r",
        (
            (
                (F.col("r") * 104729 + F.col("i") * 999983 + 12289)
                % 2147483647
            )
            % F.col("n")
        ).alias("pick"),
    )
    reps = (
        picks.join(idx.select(F.col("i").alias("pick"), "c"), "pick")
        .groupBy("r")
        .agg(F.sum("c").cast("bigint").alias("sr"))
    )
    ranked = reps.withColumn(
        "rn", F.row_number().over(Window.orderBy("sr", "r"))
    )
    z0t = reps.crossJoin(F.broadcast(nn)).agg(
        F.least(
            F.greatest(
                F.sum(F.when(F.col("sr") < F.col("s"), 1).otherwise(0))
                .cast("double")
                / _B,
                F.lit(0.5 / _B),
            ),
            F.lit(1.0 - 0.5 / _B),
        ).alias("p0")
    )
    u = F.col("c") * F.col("n") - F.col("s")
    jack = (
        idx.crossJoin(F.broadcast(nn))
        .select(u.alias("u"))
        .agg(
            F.sum(F.col("u").cast(_DEC) * F.col("u") * F.col("u"))
            .cast(_DEC)
            .alias("s3"),
            F.sum(F.col("u").cast(_DEC) * F.col("u")).cast(_DEC).alias(
                "s2"
            ),
        )
    )
    par = z0t.crossJoin(F.broadcast(jack)).select(
        F.expr(_acklam_sql("p0")).alias("z0"),
        (
            F.col("s3").cast("double")
            / (6.0 * F.pow(F.col("s2").cast("double"), 1.5))
        ).alias("a"),
    )
    lv = par.select(
        "z0",
        "a",
        F.expr(
            _phi_sql(
                f"(z0 + (z0 - {_Z95!r}) / (1.0 - a * (z0 - {_Z95!r})))"
            )
        ).alias("a1"),
        F.expr(
            _phi_sql(
                f"(z0 + (z0 + {_Z95!r}) / (1.0 - a * (z0 + {_Z95!r})))"
            )
        ).alias("a2"),
    )
    cuts = lv.select(
        "z0",
        "a",
        F.least(
            F.greatest(F.ceil(F.col("a1") * _B).cast("bigint"), F.lit(1)),
            F.lit(_B),
        ).alias("r1"),
        F.least(
            F.greatest(F.ceil(F.col("a2") * _B).cast("bigint"), F.lit(1)),
            F.lit(_B),
        ).alias("r2"),
    )
    return (
        ranked.crossJoin(F.broadcast(cuts))
        .crossJoin(F.broadcast(nn))
        .groupBy("n", "s", "z0", "a", "r1", "r2")
        .agg(
            F.max(
                F.when(F.col("rn") == F.col("r1"), F.col("sr"))
            ).alias("lo_sr"),
            F.max(
                F.when(F.col("rn") == F.col("r2"), F.col("sr"))
            ).alias("hi_sr"),
            F.max(F.when(F.col("rn") == 5, F.col("sr"))).alias("lo5"),
            F.max(F.when(F.col("rn") == 195, F.col("sr"))).alias("hi195"),
        )
        .select(
            F.col("n").alias("n_days"),
            F.expr("CAST(s DIV n AS BIGINT)").alias("point_mean_dollars"),
            F.round(F.col("z0"), 4).alias("z0_bias"),
            (F.round(F.col("a"), 6) + F.lit(0.0)).alias("acceleration"),
            F.expr("CAST(lo_sr DIV n AS BIGINT)").alias("lo_bca_dollars"),
            F.expr("CAST(hi_sr DIV n AS BIGINT)").alias("hi_bca_dollars"),
            F.expr("CAST(lo5 DIV n AS BIGINT)").alias("lo_pct_dollars"),
            F.expr("CAST(hi195 DIV n AS BIGINT)").alias("hi_pct_dollars"),
        )
    )


@register(
    "pollaczek_khinchine_wait",
    """
    WITH ev AS (
      SELECT epoch_us(ts) AS us,
             CAST(round(value * 100, 0) AS BIGINT) AS sv_cents
      FROM events),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(min(us) AS BIGINT) AS t0,
             CAST(max(us) AS BIGINT) AS t1,
             CAST(sum(sv_cents) AS HUGEINT) AS s1,
             CAST(sum(CAST(sv_cents AS HUGEINT) * sv_cents) AS HUGEINT)
               AS s2
      FROM ev),
    st AS (
      SELECT n,
             CAST(n - 1 AS DOUBLE) / (CAST(t1 - t0 AS DOUBLE) / 1e6)
               AS lam,
             CAST(s1 AS DOUBLE) / 100.0 / n AS es,
             CAST(s2 AS DOUBLE) / 10000.0 / n AS es2
      FROM agg),
    rho AS (
      SELECT n, lam, es, es2, lam * es AS rho,
             (es2 - es * es) / (es * es) AS cs2
      FROM st)
    SELECT n AS n_arrivals,
           round(lam, 6) AS lambda_per_sec,
           round(es, 4) AS mean_service_sec,
           round(rho, 6) AS utilization,
           round(CASE WHEN rho < 1.0 THEN
                   lam * es2 / (2.0 * (1.0 - rho)) END, 4) AS wq_mg1_sec,
           round(CASE WHEN rho < 1.0 THEN
                   rho * es / (1.0 - rho) END, 4) AS wq_mm1_sec,
           round((1.0 + cs2) / 2.0, 6) AS pk_service_factor
    FROM rho
    """,
    tags=("queueing", "mg1", "pk"),
)
def q_pollaczek_khinchine_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pollaczek-Khinchine exact M/G/1 mean wait for the event stream
    (arrival rate from the exact span; event values as service
    seconds, the kingman_gg1_wait convention): Wq = lambda E[S^2] /
    (2(1 - rho)). The M/M/1 wait prints beside it -- their ratio is
    the PK service-variability factor (1 + CV^2)/2, the exact form of
    the service half of Kingman's approximation. All moments are
    exact integer cent/micro folds."""
    ev = read_table(spark, sf_dir, "events").select(
        F.unix_micros(convert_event_ts(F.col("ts"))).alias("us"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("sv_cents"),
    )
    agg = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("us").cast("bigint").alias("t0"),
        F.max("us").cast("bigint").alias("t1"),
        F.sum("sv_cents").cast(_DEC).alias("s1"),
        F.sum(F.col("sv_cents").cast(_DEC) * F.col("sv_cents"))
        .cast(_DEC)
        .alias("s2"),
    )
    lam = (F.col("n") - 1).cast("double") / (
        (F.col("t1") - F.col("t0")).cast("double") / 1e6
    )
    es = F.col("s1").cast("double") / 100.0 / F.col("n")
    es2 = F.col("s2").cast("double") / 10000.0 / F.col("n")
    st = agg.select(
        "n", lam.alias("lam"), es.alias("es"), es2.alias("es2")
    )
    rho = st.select(
        "n",
        "lam",
        "es",
        "es2",
        (F.col("lam") * F.col("es")).alias("rho"),
        (
            (F.col("es2") - F.col("es") * F.col("es"))
            / (F.col("es") * F.col("es"))
        ).alias("cs2"),
    )
    return rho.select(
        F.col("n").alias("n_arrivals"),
        F.round(F.col("lam"), 6).alias("lambda_per_sec"),
        F.round(F.col("es"), 4).alias("mean_service_sec"),
        F.round(F.col("rho"), 6).alias("utilization"),
        F.round(
            F.when(
                F.col("rho") < 1.0,
                F.col("lam") * F.col("es2") / (2.0 * (1.0 - F.col("rho"))),
            ),
            4,
        ).alias("wq_mg1_sec"),
        F.round(
            F.when(
                F.col("rho") < 1.0,
                F.col("rho") * F.col("es") / (1.0 - F.col("rho")),
            ),
            4,
        ).alias("wq_mm1_sec"),
        F.round((1.0 + F.col("cs2")) / 2.0, 6).alias("pk_service_factor"),
    )


@register(
    "mover_stayer_split",
    """
    WITH months AS (
      SELECT DISTINCT date_trunc('month', o_orderdate) AS m FROM orders),
    mi AS (
      SELECT m, CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS t,
             CAST(count(*) OVER () AS BIGINT) AS mm
      FROM months),
    act AS (
      SELECT DISTINCT o_custkey AS cust,
             date_trunc('month', o_orderdate) AS m
      FROM orders),
    ai AS (
      SELECT a.cust, mi.t, mi.mm FROM act a JOIN mi ON mi.m = a.m),
    base AS (
      SELECT a.cust, a.t,
             CASE WHEN b.cust IS NOT NULL THEN 1 ELSE 0 END AS nxt1,
             CASE WHEN b.cust IS NOT NULL AND c.cust IS NOT NULL
                  THEN 1 ELSE 0 END AS nxt2
      FROM ai a
      LEFT JOIN ai b ON b.cust = a.cust AND b.t = a.t + 1
      LEFT JOIN ai c ON c.cust = a.cust AND c.t = a.t + 2
      WHERE a.t <= a.mm - 2),
    cnt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_base,
             CAST(sum(nxt1) AS BIGINT) AS n1,
             CAST(sum(nxt2) AS BIGINT) AS n2
      FROM base),
    st AS (
      SELECT n_base, n1, n2,
             CAST(n1 AS DOUBLE) / n_base AS q1,
             CAST(n2 AS DOUBLE) / n_base AS q22
      FROM cnt),
    fit AS (
      SELECT n_base, n1, n2, q1, q22,
             CASE WHEN abs(2.0 * q1 - q22 - 1.0) > 1e-12 THEN
               (q1 * q1 - q22) / (2.0 * q1 - q22 - 1.0) END AS s
      FROM st)
    SELECT n_base AS n_active_months, n1 AS n_stay1, n2 AS n_stay2,
           round(q1, 6) AS q_stay_1step,
           round(q22, 6) AS q_stay_2step,
           round(s, 6) AS stayer_share,
           round(CASE WHEN s IS NOT NULL AND s < 1.0
                 THEN (q1 - s) / (1.0 - s) END, 6) AS mover_persistence
    FROM fit
    """,
    tags=("behavior", "markov", "mixture"),
)
def q_mover_stayer_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mover-stayer decomposition of monthly purchase persistence:
    with q1 = P(active next month | active) and q22 = P(active BOTH
    of the next two months | active) over the same base, the 2-chain
    mixture (a stayer mass s that never churns + movers with
    persistence p) solves in closed form: s = (q1^2 - q22)/(2 q1 -
    q22 - 1), p = (q1 - s)/(1 - s). q22 > q1^2 certifies hidden
    heterogeneity (a single chain forces equality) -- the correction
    markov_transitions' pooled matrix silently averages away. Exact
    integer counts; one customer-month activity join, no windows
    over facts."""
    orders = read_table(spark, sf_dir, "orders")
    months = orders.select(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).distinct()
    mi = months.select(
        "m",
        F.row_number().over(Window.orderBy("m")).cast("bigint").alias("t"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("mm"),
    )
    act = orders.select(
        F.col("o_custkey").alias("cust"),
        F.date_trunc("month", "o_orderdate").alias("m"),
    ).distinct()
    ai = act.join(F.broadcast(mi), "m").select("cust", "t", "mm")
    b = ai.select(F.col("cust").alias("bc"), F.col("t").alias("bt"))
    c = ai.select(F.col("cust").alias("cc"), F.col("t").alias("ct"))
    base = (
        ai.where(F.col("t") <= F.col("mm") - 2)
        .join(
            b,
            (F.col("bc") == F.col("cust")) & (F.col("bt") == F.col("t") + 1),
            "left",
        )
        .join(
            c,
            (F.col("cc") == F.col("cust")) & (F.col("ct") == F.col("t") + 2),
            "left",
        )
        .select(
            F.when(F.col("bc").isNotNull(), 1).otherwise(0).alias("nxt1"),
            F.when(
                F.col("bc").isNotNull() & F.col("cc").isNotNull(), 1
            )
            .otherwise(0)
            .alias("nxt2"),
        )
    )
    cnt = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_base"),
        F.sum("nxt1").cast("bigint").alias("n1"),
        F.sum("nxt2").cast("bigint").alias("n2"),
    )
    q1 = F.col("n1").cast("double") / F.col("n_base")
    q22 = F.col("n2").cast("double") / F.col("n_base")
    st = cnt.select("n_base", "n1", "n2", q1.alias("q1"), q22.alias("q22"))
    s = F.when(
        F.abs(2.0 * F.col("q1") - F.col("q22") - 1.0) > 1e-12,
        (F.col("q1") * F.col("q1") - F.col("q22"))
        / (2.0 * F.col("q1") - F.col("q22") - 1.0),
    )
    fit = st.select("n_base", "n1", "n2", "q1", "q22", s.alias("s"))
    return fit.select(
        F.col("n_base").alias("n_active_months"),
        F.col("n1").alias("n_stay1"),
        F.col("n2").alias("n_stay2"),
        F.round(F.col("q1"), 6).alias("q_stay_1step"),
        F.round(F.col("q22"), 6).alias("q_stay_2step"),
        F.round(F.col("s"), 6).alias("stayer_share"),
        F.round(
            F.when(
                F.col("s").isNotNull() & (F.col("s") < 1.0),
                (F.col("q1") - F.col("s")) / (1.0 - F.col("s")),
            ),
            6,
        ).alias("mover_persistence"),
    )
