"""Extension batch 178 (round 6): principled small-sample outlier
rules and index-number drift -- the modified Thompson tau test (the
t-based rejection region ASTM recommends for small samples: unlike a
fixed 3-sigma rule the threshold adapts to n, and unlike Grubbs/GESD
it is a single-pass screen), Chauvenet's criterion (the astronomy
classic: reject a reading if the expected count of equally-extreme
values in n draws is below 1/2 -- an n-adaptive normal-tail rule),
and the chain-drift diagnostic for the monthly Laspeyres price index
(chained month-over-month links vs the direct base-to-end index on
the common basket: under cyclic prices a chained index drifts even
when prices return exactly -- the measured gap IS the drift that
makes statistical agencies prescribe direct or multilateral
indices).

Cross-engine discipline: moments fold as exact integers; Thompson's
threshold uses the t_{{0.025,23}} literal; Chauvenet's cutoff goes
through the shared Acklam inverse normal at 1 - 1/(4n); index links
are exact cent/quantity ratios whose logs e9-quantize before the
chain sum."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import _acklam_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_T_025_23 = 2.0686576104190406  # t critical, alpha/2 = 0.025, df = 23


@register(
    "thompson_tau_outlier",
    f"""
    WITH nat AS (
      SELECT c.c_nationkey AS nk,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS HUGEINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS HUGEINT) AS s1,
             CAST(sum(cents * cents) AS HUGEINT) AS s2
      FROM nat),
    dev AS (
      SELECT nt.nk, nt.cents, m.n,
             abs(CAST(nt.cents AS DOUBLE) - CAST(m.s1 AS DOUBLE) / m.n)
               / (sqrt(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE))
                  / (sqrt(CAST(m.n AS DOUBLE))
                     * sqrt(CAST(m.n AS DOUBLE) - 1.0))) AS delta_over_s
      FROM nat nt CROSS JOIN mom m),
    tau AS (
      SELECT n,
             {_T_025_23!r} * (n - 1.0)
               / (sqrt(CAST(n AS DOUBLE))
                  * sqrt(n - 2.0 + {_T_025_23!r} * {_T_025_23!r})) AS tau
      FROM mom),
    worst AS (
      SELECT nk, delta_over_s FROM dev
      ORDER BY delta_over_s DESC, nk LIMIT 1)
    SELECT t.n AS n_nations,
           round(t.tau, 6) AS tau_threshold,
           w.nk AS extreme_nation,
           round(w.delta_over_s, 6) AS extreme_delta_over_s,
           w.delta_over_s > t.tau AS reject_extreme
    FROM tau t CROSS JOIN worst w
    """,
    tags=("outlier", "smallsample", "thompson"),
)
def q_thompson_tau_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modified Thompson tau screen on the 25 nation revenue totals:
    tau = t (n-1) / (sqrt(n) sqrt(n - 2 + t^2)) with t = t_{{.025,23}}
    -- the rejection threshold on |x - xbar|/s that ADAPTS to n (at
    n = 25 it sits near 2.33 sigma, far below the naive 3-sigma rule
    a 25-point sample can essentially never trigger). Sample s uses
    the n-1 denominator from exact integer moments; the single most
    extreme nation is reported with its verdict."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nat = (
        orders.join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast(_DEC)
            .alias("cents")
        )
    )
    mom = nat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast(_DEC).alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast(_DEC).alias("s2"),
    )
    nd = F.col("n").cast("double")
    # sample std: sqrt(n s2 - s1^2) / (sqrt(n) sqrt(n-1))
    s_samp = F.sqrt(
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
            "double"
        )
    ) / (F.sqrt(nd) * F.sqrt(nd - 1.0))
    dev = nat.crossJoin(F.broadcast(mom)).select(
        "nk",
        "n",
        (
            F.abs(
                F.col("cents").cast("double")
                - F.col("s1").cast("double") / F.col("n")
            )
            / s_samp
        ).alias("delta_over_s"),
    )
    tau = mom.select(
        "n",
        (
            _T_025_23
            * (F.col("n") - 1.0)
            / (
                F.sqrt(nd)
                * F.sqrt(F.col("n") - 2.0 + _T_025_23 * _T_025_23)
            )
        ).alias("tau"),
    )
    worst = (
        dev.orderBy(F.col("delta_over_s").desc(), "nk")
        .limit(1)
        .select(
            F.col("nk").alias("extreme_nation"),
            F.col("delta_over_s").alias("extreme_delta_over_s"),
        )
    )
    return tau.crossJoin(F.broadcast(worst)).select(
        F.col("n").alias("n_nations"),
        F.round(F.col("tau"), 6).alias("tau_threshold"),
        "extreme_nation",
        F.round(F.col("extreme_delta_over_s"), 6).alias(
            "extreme_delta_over_s"
        ),
        (F.col("extreme_delta_over_s") > F.col("tau")).alias(
            "reject_extreme"
        ),
    )


@register(
    "chauvenet_criterion",
    f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) // 100 AS BIGINT) AS v
      FROM orders GROUP BY o_orderdate),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS HUGEINT) AS s1,
             CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2
      FROM daily),
    cut AS (
      SELECT n, ({_acklam_sql("1.0 - 1.0 / (4.0 * n)")}) AS z_crit
      FROM mom),
    z AS (
      SELECT dd.d, dd.v, m.n, c.z_crit,
             abs(CAST(dd.v AS DOUBLE) - CAST(m.s1 AS DOUBLE) / m.n)
               / (sqrt(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE)) / m.n)
               AS az
      FROM daily dd CROSS JOIN mom m CROSS JOIN cut c),
    agg AS (
      SELECT max(n) AS n, max(z_crit) AS z_crit,
             CAST(sum(CASE WHEN az > z_crit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rejected,
             CAST(sum(CASE WHEN az > 3.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rejected_3sigma
      FROM z),
    worst AS (
      SELECT d AS extreme_day, round(az, 4) AS extreme_z
      FROM z ORDER BY az DESC, d LIMIT 1)
    SELECT a.n AS n_days,
           round(a.z_crit, 4) AS chauvenet_z_crit,
           a.n_rejected, a.n_rejected_3sigma,
           w.extreme_day, w.extreme_z
    FROM agg a CROSS JOIN worst w
    """,
    tags=("outlier", "normal-tail", "chauvenet"),
)
def q_chauvenet_criterion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chauvenet's criterion on daily revenue: reject a day when the
    expected number of equally-extreme readings among n draws falls
    below 1/2 -- equivalently |z| > PhiInv(1 - 1/(4n)), which GROWS
    with n (~3.2 sigma at n = 2400, vs the n-blind 3-sigma rule whose
    false-alarm count scales with n: both counts print so the
    difference is a visible number). The cutoff goes through the
    shared Acklam polynomial; z uses population sigma from exact
    integer moments."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
            " AS BIGINT) DIV 100 AS BIGINT)"
        ).alias("v")
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast(_DEC).alias("s1"),
        F.sum(F.col("v").cast(_DEC) * F.col("v")).cast(_DEC).alias("s2"),
    )
    cut = mom.select(
        "n", F.expr(_acklam_sql("1.0 - 1.0 / (4.0 * n)")).alias("z_crit")
    )
    az = F.abs(
        F.col("v").cast("double") - F.col("s1").cast("double") / F.col("n")
    ) / (
        F.sqrt(
            (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
                "double"
            )
        )
        / F.col("n")
    )
    z = (
        daily.crossJoin(F.broadcast(mom))
        .crossJoin(F.broadcast(cut.select("z_crit")))
        .select("d", "v", "n", "z_crit", az.alias("az"))
    )
    agg = z.agg(
        F.max("n").alias("n"),
        F.max("z_crit").alias("z_crit"),
        F.sum(F.when(F.col("az") > F.col("z_crit"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_rejected"),
        F.sum(F.when(F.col("az") > 3.0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_rejected_3sigma"),
    )
    worst = z.orderBy(F.col("az").desc(), "d").limit(1).select(
        F.col("d").alias("extreme_day"),
        F.round(F.col("az"), 4).alias("extreme_z"),
    )
    return agg.crossJoin(F.broadcast(worst)).select(
        F.col("n").alias("n_days"),
        F.round(F.col("z_crit"), 4).alias("chauvenet_z_crit"),
        "n_rejected",
        "n_rejected_3sigma",
        "extreme_day",
        "extreme_z",
    )


@register(
    "chained_index_drift",
    """
    WITH pm AS (
      SELECT l.l_partkey AS pk, date_trunc('month', o.o_orderdate) AS m,
             CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
                  AS HUGEINT) AS cents,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY l.l_partkey, date_trunc('month', o.o_orderdate)),
    mi AS (
      SELECT m, CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS t,
             CAST(count(*) OVER () AS BIGINT) AS mm
      FROM (SELECT DISTINCT m FROM pm) x),
    pmt AS (
      SELECT pm.pk, mi.t, mi.mm, pm.cents, pm.qty
      FROM pm JOIN mi ON mi.m = pm.m),
    links AS (
      -- Laspeyres link t -> t+1 over the common basket: base-period
      -- quantities q_t valued at both periods' unit prices; the
      -- denominator sum p_t q_t is EXACTLY sum cents_t, the numerator
      -- cross-valuation e3-quantizes per part
      SELECT a.t,
             CAST(sum(CAST(round(CAST(b.cents AS DOUBLE) / b.qty
                  * a.qty * 1e3, 0) AS BIGINT)) AS HUGEINT) AS num_e3,
             CAST(sum(a.cents) AS HUGEINT) AS den_cents
      FROM pmt a JOIN pmt b ON b.pk = a.pk AND b.t = a.t + 1
      GROUP BY a.t),
    chain AS (
      SELECT CAST(count(*) AS BIGINT) AS n_links,
             CAST(sum(CAST(floor(ln(CAST(num_e3 AS DOUBLE) / 1e3
                  / CAST(den_cents AS DOUBLE)) * 1e9 + 0.5) AS BIGINT))
                  AS HUGEINT) AS sln_e9
      FROM links),
    direct AS (
      SELECT CAST(sum(CAST(round(CAST(b.cents AS DOUBLE) / b.qty
                  * a.qty * 1e3, 0) AS BIGINT)) AS HUGEINT) AS num_e3,
             CAST(sum(a.cents) AS HUGEINT) AS den_cents,
             CAST(count(*) AS BIGINT) AS n_common
      FROM pmt a JOIN pmt b ON b.pk = a.pk AND a.t = 1 AND b.t = a.mm)
    SELECT c.n_links,
           d.n_common AS n_common_parts_direct,
           round(exp(CAST(c.sln_e9 AS DOUBLE) / 1e9), 6) AS chained_index,
           round(CAST(d.num_e3 AS DOUBLE) / 1e3
                 / CAST(d.den_cents AS DOUBLE), 6) AS direct_index,
           round(exp(CAST(c.sln_e9 AS DOUBLE) / 1e9)
                 / (CAST(d.num_e3 AS DOUBLE) / 1e3
                    / CAST(d.den_cents AS DOUBLE)), 6) AS drift_ratio
    FROM chain c CROSS JOIN direct d
    """,
    tags=("economics", "index", "drift"),
)
def q_chained_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain drift of the monthly Laspeyres price index: the chained
    index multiplies month-over-month links (common-basket, base
    quantities; unit-price ratios enter as exact integer
    cross-products so no division precedes the log) while the direct
    index compares month 1 to the last month outright. Their ratio is
    the DRIFT -- exactly 1 only under transitive price movements;
    bouncing prices make chained indices drift systematically, the
    measured phenomenon behind the Fisher/Tornqvist multilateral
    recommendations (both of which this repo also ships). Per-link
    logs e9-quantize before the chain sum."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    pm = (
        lineitem.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.date_trunc("month", "o_orderdate").alias("m"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
            )
            .cast(_DEC)
            .alias("cents"),
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("qty"),
        )
    )
    mi = (
        pm.select("m")
        .distinct()
        .select(
            "m",
            F.row_number()
            .over(Window.orderBy("m"))
            .cast("bigint")
            .alias("t"),
            F.count(F.lit(1))
            .over(Window.partitionBy())
            .cast("bigint")
            .alias("mm"),
        )
    )
    pmt = pm.join(F.broadcast(mi), "m").select(
        "pk", "t", "mm", "cents", "qty"
    )
    a = pmt.alias("a")
    b = pmt.alias("b")
    num_term = F.round(
        F.col("b.cents").cast("double")
        / F.col("b.qty")
        * F.col("a.qty")
        * 1e3,
        0,
    ).cast("bigint")
    links = (
        a.join(
            b,
            (F.col("b.pk") == F.col("a.pk"))
            & (F.col("b.t") == F.col("a.t") + 1),
        )
        .groupBy(F.col("a.t").alias("t"))
        .agg(
            F.sum(num_term).cast(_DEC).alias("num_e3"),
            F.sum(F.col("a.cents")).cast(_DEC).alias("den_cents"),
        )
    )
    chain = links.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_links"),
        F.sum(
            F.floor(
                F.log(
                    F.col("num_e3").cast("double")
                    / 1e3
                    / F.col("den_cents").cast("double")
                )
                * 1e9
                + 0.5
            ).cast("bigint")
        )
        .cast(_DEC)
        .alias("sln_e9"),
    )
    direct = (
        a.join(
            b,
            (F.col("b.pk") == F.col("a.pk"))
            & (F.col("a.t") == 1)
            & (F.col("b.t") == F.col("a.mm")),
        )
        .agg(
            F.sum(num_term).cast(_DEC).alias("num_e3"),
            F.sum(F.col("a.cents")).cast(_DEC).alias("den_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
        )
    )
    chained = F.exp(F.col("sln_e9").cast("double") / 1e9)
    direct_ix = (
        F.col("num_e3").cast("double") / 1e3
        / F.col("den_cents").cast("double")
    )
    return chain.crossJoin(F.broadcast(direct)).select(
        "n_links",
        F.col("n_common").alias("n_common_parts_direct"),
        F.round(chained, 6).alias("chained_index"),
        F.round(direct_ix, 6).alias("direct_index"),
        F.round(chained / direct_ix, 6).alias("drift_ratio"),
    )
