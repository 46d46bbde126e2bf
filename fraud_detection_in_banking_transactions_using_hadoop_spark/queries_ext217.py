"""Extension batch 217 (round 9): Luhn card validation, Hill-number
diversity, DerSimonian-Laird random-effects meta-analysis, and
non-preemptive priority-queue waits. (A records test was drafted here
and dropped: ext89's record_counts_test already covers the law.)

Parity disciplines: every cross-row float term (harmonic/entropy/
meta-analysis weights) quantizes to an exact integer before summing;
the DL inverse-variance weights are EXACT RATIONALS (var of a log-odds
is (s+f)/(s*f), so w*1e6 is an integer division); scalar 1-row double
formulas share op order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_RHO = 0.85  # engineered utilization for the priority-queue read


@register(
    "luhn_card_validation",
    """
    WITH cards AS (
      SELECT c_custkey, md5(CAST(c_custkey AS VARCHAR)) AS hx
      FROM customer),
    digits AS (
      SELECT c_custkey, i,
             ('0x' || substr(hx, CAST(i AS INTEGER), 1))::BIGINT % 10 AS d
      FROM cards, (SELECT unnest(range(1, 17)) AS i) idx),
    luhn AS (
      SELECT c_custkey,
             max(CASE WHEN i = 1 THEN d END) AS lead_digit,
             CAST(sum(CASE WHEN i % 2 = 1 THEN
                    CASE WHEN 2 * d > 9 THEN 2 * d - 9 ELSE 2 * d END
                  ELSE d END) AS BIGINT) AS chk
      FROM digits GROUP BY c_custkey)
    SELECT CAST(lead_digit AS BIGINT) AS lead_digit,
           CAST(count(*) AS BIGINT) AS n_cards,
           CAST(sum(CASE WHEN chk % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_luhn_valid,
           round(CAST(sum(CASE WHEN chk % 10 = 0 THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*), 6) AS valid_rate
    FROM luhn GROUP BY lead_digit
    """,
    tags=("fraud", "cards", "validation", "exact-arith"),
)
def q_luhn_card_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn mod-10 validation over synthetic 16-digit PANs (digit i =
    md5(custkey) hex nibble i mod 10): doubling every second digit
    from the right with the 2d-9 carry rule, a card is Luhn-valid iff
    the checksum is 0 mod 10 -- the first screen any card-fraud
    pipeline applies to raw PAN feeds (~10% of random strings pass).
    Grouped by leading digit (the scheme byte). Pure integer digit
    arithmetic; the 16-way digit explode is map-side."""
    cards = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.md5(F.col("c_custkey").cast("string")).alias("hx"),
    )
    digits = cards.select(
        "c_custkey",
        F.explode(F.array(*[F.lit(i) for i in range(1, 17)])).alias("i"),
        "hx",
    ).select(
        "c_custkey",
        "i",
        (
            F.conv(F.substring(F.col("hx"), F.col("i").cast("int"), 1), 16, 10)
            .cast("bigint")
            % 10
        ).alias("d"),
    )
    luhn = digits.groupBy("c_custkey").agg(
        F.max(F.when(F.col("i") == 1, F.col("d"))).alias("lead_digit"),
        F.sum(
            F.when(
                F.col("i") % 2 == 1,
                F.when(2 * F.col("d") > 9, 2 * F.col("d") - 9).otherwise(
                    2 * F.col("d")
                ),
            ).otherwise(F.col("d"))
        )
        .cast("bigint")
        .alias("chk"),
    )
    return luhn.groupBy(
        F.col("lead_digit").cast("bigint").alias("lead_digit")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cards"),
        F.sum(F.when(F.col("chk") % 10 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_luhn_valid"),
        F.round(
            F.sum(F.when(F.col("chk") % 10 == 0, 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("valid_rate"),
    )


q_hill_numbers_diversity = register_sql(
    "hill_numbers_diversity",
    """
    WITH pay AS (
      SELECT c.c_nationkey AS nation, l.l_suppkey AS s,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    tot AS (SELECT nation, CAST(sum(c) AS BIGINT) AS t,
                   CAST(count(*) AS BIGINT) AS q0,
                   CAST(sum(c * c) AS BIGINT) AS sc2
            FROM pay GROUP BY nation),
    ent AS (
      SELECT p.nation,
             CAST(sum(CAST(round(1.0e12 * CAST(p.c AS DOUBLE) / t.t
               * ln(CAST(t.t AS DOUBLE) / CAST(p.c AS DOUBLE)), 0)
               AS BIGINT)) AS BIGINT) AS sh_e12
      FROM pay p JOIN tot t ON t.nation = p.nation
      GROUP BY p.nation)
    SELECT t.nation, t.q0 AS hill_q0_richness,
           e.sh_e12 AS shannon_e12,
           round(exp(CAST(e.sh_e12 AS DOUBLE) / 1e12), 6) AS hill_q1,
           round(CAST(t.t AS DOUBLE) * t.t / t.sc2, 6) AS hill_q2
    FROM tot t JOIN ent e ON e.nation = t.nation
    """,
    tags=("diversity", "ecology", "exact-arith"),
)


@register(
    "meta_analysis_dl",
    """
    WITH eff AS (
      SELECT c_nationkey AS nation,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS s,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
                  AS BIGINT) AS f
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey),
    yw AS (
      SELECT nation, s, f,
             ln(CAST(s AS DOUBLE) / CAST(f AS DOUBLE)) AS y,
             (s * f * 1000000) // (s + f) AS w_e6
      FROM eff WHERE s > 0 AND f > 0),
    fx AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(w_e6) AS BIGINT) AS sw_e6,
             CAST(sum(CAST(w_e6 AS HUGEINT)
                  * CAST(round(1.0e9 * y, 0) AS BIGINT)) AS HUGEINT)
               AS swy,
             CAST(sum(CAST(w_e6 AS HUGEINT) * w_e6) AS HUGEINT) AS sw2
      FROM yw),
    yb AS (
      SELECT k, sw_e6, sw2,
             CAST(swy AS DOUBLE) / CAST(sw_e6 AS DOUBLE) / 1e9 AS ybar
      FROM fx),
    qs AS (
      SELECT CAST(sum(CAST(round(1.0e9 * (CAST(w.w_e6 AS DOUBLE) / 1e6)
               * (w.y - b.ybar) * (w.y - b.ybar), 0) AS BIGINT))
               AS BIGINT) AS q_e9
      FROM yw w CROSS JOIN yb b),
    dl AS (
      SELECT b.k, b.ybar,
             CAST(q.q_e9 AS DOUBLE) / 1e9 AS qstat,
             greatest(0.0,
               (CAST(q.q_e9 AS DOUBLE) / 1e9 - (b.k - 1))
               / (CAST(b.sw_e6 AS DOUBLE) / 1e6
                  - CAST(b.sw2 AS DOUBLE) / 1e6 / CAST(b.sw_e6 AS DOUBLE)))
               AS tau2
      FROM yb b CROSS JOIN qs q),
    re AS (
      SELECT CAST(sum(CAST(round(1.0e6 / ((CAST(w.s + w.f AS DOUBLE)
               / (CAST(w.s AS DOUBLE) * w.f)) + d.tau2), 0) AS BIGINT))
               AS BIGINT) AS swr_e6,
             CAST(sum(CAST(round(1.0e6 / ((CAST(w.s + w.f AS DOUBLE)
               / (CAST(w.s AS DOUBLE) * w.f)) + d.tau2), 0) AS BIGINT)
               * CAST(round(1.0e9 * w.y, 0) AS BIGINT)) AS HUGEINT)
               AS swry
      FROM yw w CROSS JOIN dl d)
    SELECT d.k AS k_studies,
           round(d.ybar, 6) + 0.0 AS fixed_effect_logodds,
           round(d.qstat, 6) AS q_stat,
           round(d.tau2, 6) + 0.0 AS tau2_dl,
           round(greatest(0.0, (d.qstat - (d.k - 1)) /
                 CASE WHEN d.qstat = 0 THEN NULL ELSE d.qstat END), 6)
             + 0.0 AS i2,
           round(CAST(r.swry AS DOUBLE) / CAST(r.swr_e6 AS DOUBLE) / 1e9,
                 6) + 0.0 AS random_effect_logodds
    FROM dl d CROSS JOIN re r
    """,
    tags=("meta-analysis", "stats", "exact-arith"),
)
def q_meta_analysis_dl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DerSimonian-Laird random-effects meta-analysis pooling the 25
    per-nation completed-order log-odds: inverse-variance fixed effect
    (weights are EXACT integers: var(log-odds) = (s+f)/(s*f) so
    w*1e6 = s*f*1e6 DIV (s+f)), Cochran Q from e9-quantized terms,
    tau^2 by the DL moment estimator, I^2 heterogeneity, and the
    random-effects pooled estimate with tau2-inflated weights
    (e6-quantized). The shape every multi-site A/B or site-effect
    pool uses."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    eff = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("s"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 0).otherwise(1)
            )
            .cast("bigint")
            .alias("f"),
        )
    )
    yw = eff.where((F.col("s") > 0) & (F.col("f") > 0)).select(
        "nation",
        "s",
        "f",
        F.expr("ln(CAST(s AS DOUBLE) / CAST(f AS DOUBLE))").alias("y"),
        F.expr("(s * f * 1000000) DIV (s + f)").alias("w_e6"),
    ).localCheckpoint(eager=True)
    fx = yw.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("w_e6").cast("bigint").alias("sw_e6"),
        F.sum(
            F.expr(
                "CAST(w_e6 AS DECIMAL(38,0))"
                " * CAST(round(1.0e9 * y, 0) AS BIGINT)"
            )
        )
        .cast("decimal(38,0)")
        .alias("swy"),
        F.sum(F.expr("CAST(w_e6 AS DECIMAL(38,0)) * w_e6"))
        .cast("decimal(38,0)")
        .alias("sw2"),
    )
    yb = fx.select(
        "k",
        "sw_e6",
        "sw2",
        F.expr(
            "CAST(swy AS DOUBLE) / CAST(sw_e6 AS DOUBLE) / 1e9"
        ).alias("ybar"),
    ).localCheckpoint(eager=True)
    qs = yw.crossJoin(F.broadcast(yb)).agg(
        F.sum(
            F.expr(
                "CAST(round(1.0e9 * (CAST(w_e6 AS DOUBLE) / 1e6)"
                " * (y - ybar) * (y - ybar), 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("q_e9")
    )
    dl = (
        yb.crossJoin(F.broadcast(qs))
        .select(
            "k",
            "ybar",
            F.expr("CAST(q_e9 AS DOUBLE) / 1e9").alias("qstat"),
            F.expr(
                "greatest(0.0, (CAST(q_e9 AS DOUBLE) / 1e9 - (k - 1))"
                " / (CAST(sw_e6 AS DOUBLE) / 1e6"
                " - CAST(sw2 AS DOUBLE) / 1e6 / CAST(sw_e6 AS DOUBLE)))"
            ).alias("tau2"),
        )
        .localCheckpoint(eager=True)
    )
    re = yw.crossJoin(F.broadcast(dl)).agg(
        F.sum(
            F.expr(
                "CAST(round(1.0e6 / ((CAST(s + f AS DOUBLE)"
                " / (CAST(s AS DOUBLE) * f)) + tau2), 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("swr_e6"),
        F.sum(
            F.expr(
                "CAST(round(1.0e6 / ((CAST(s + f AS DOUBLE)"
                " / (CAST(s AS DOUBLE) * f)) + tau2), 0) AS BIGINT)"
                " * CAST(round(1.0e9 * y, 0) AS BIGINT)"
            ).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("swry"),
    )
    return dl.crossJoin(F.broadcast(re)).select(
        F.col("k").alias("k_studies"),
        (F.round(F.col("ybar"), 6) + F.lit(0.0)).alias(
            "fixed_effect_logodds"
        ),
        F.round(F.col("qstat"), 6).alias("q_stat"),
        (F.round(F.col("tau2"), 6) + F.lit(0.0)).alias("tau2_dl"),
        (
            F.round(
                F.greatest(
                    F.lit(0.0),
                    (F.col("qstat") - (F.col("k") - 1))
                    / F.expr(
                        "CASE WHEN qstat = 0 THEN NULL ELSE qstat END"
                    ),
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("i2"),
        (
            F.round(
                F.expr(
                    "CAST(swry AS DOUBLE) / CAST(swr_e6 AS DOUBLE) / 1e9"
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("random_effect_logodds"),
    )


@register(
    "mm1_priority_waits",
    f"""
    WITH cls AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 2 END AS pclass,
             o_orderdate
      FROM orders),
    agg AS (
      SELECT CAST(count(DISTINCT o_orderdate) AS BIGINT) AS days,
             CAST(sum(CASE WHEN pclass = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(sum(CASE WHEN pclass = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n2
      FROM cls),
    lam AS (
      SELECT days, n1, n2,
             (n1 * 1000000) // days AS lam1_e6,
             (n2 * 1000000) // days AS lam2_e6
      FROM agg)
    SELECT days AS n_days, lam1_e6, lam2_e6,
           round((CAST(lam1_e6 + lam2_e6 AS DOUBLE) / 1e6) / {_RHO!r}, 6)
             AS mu_per_day,
           round({_RHO!r} / ((CAST(lam1_e6 + lam2_e6 AS DOUBLE) / 1e6)
                 / {_RHO!r})
             / (1.0 - {_RHO!r} * (CAST(lam1_e6 AS DOUBLE)
                / (lam1_e6 + lam2_e6))), 6) AS wq_high_days,
           round({_RHO!r} / ((CAST(lam1_e6 + lam2_e6 AS DOUBLE) / 1e6)
                 / {_RHO!r})
             / ((1.0 - {_RHO!r} * (CAST(lam1_e6 AS DOUBLE)
                 / (lam1_e6 + lam2_e6))) * (1.0 - {_RHO!r})), 6)
             AS wq_low_days,
           round(1.0 / (1.0 - {_RHO!r}), 6) AS low_to_high_ratio
    FROM lam
    """,
    tags=("queueing", "priority", "exact-arith"),
)
def q_mm1_priority_waits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cobham non-preemptive 2-class M/M/1 priority waits at engineered
    utilization rho=0.85: arrival rates come from the data (urgent/high
    vs rest per day, exact e6 integers), service rate mu scales to hit
    rho, and W_q(high) = W0/(1-rho1), W_q(low) = W0/((1-rho1)(1-rho))
    with W0 = rho/mu -- the low class waits 1/(1-rho) times longer,
    the classic priority-queue starvation read. Scalar doubles on a
    1-row frame from exact integer inputs."""
    orders = read_table(spark, sf_dir, "orders")
    cls = orders.select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(2)
        .alias("pclass"),
        "o_orderdate",
    )
    agg = cls.agg(
        F.countDistinct("o_orderdate").cast("bigint").alias("days"),
        F.sum(F.when(F.col("pclass") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("pclass") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
    )
    lam = agg.select(
        "days",
        "n1",
        "n2",
        F.expr("(n1 * 1000000) DIV days").alias("lam1_e6"),
        F.expr("(n2 * 1000000) DIV days").alias("lam2_e6"),
    )
    rho = _RHO
    return lam.select(
        F.col("days").alias("n_days"),
        "lam1_e6",
        "lam2_e6",
        F.round(
            F.expr(f"(CAST(lam1_e6 + lam2_e6 AS DOUBLE) / 1e6) / {rho!r}"),
            6,
        ).alias("mu_per_day"),
        F.round(
            F.expr(
                f"{rho!r} / ((CAST(lam1_e6 + lam2_e6 AS DOUBLE) / 1e6)"
                f" / {rho!r})"
                f" / (1.0 - {rho!r} * (CAST(lam1_e6 AS DOUBLE)"
                f" / (lam1_e6 + lam2_e6)))"
            ),
            6,
        ).alias("wq_high_days"),
        F.round(
            F.expr(
                f"{rho!r} / ((CAST(lam1_e6 + lam2_e6 AS DOUBLE) / 1e6)"
                f" / {rho!r})"
                f" / ((1.0 - {rho!r} * (CAST(lam1_e6 AS DOUBLE)"
                f" / (lam1_e6 + lam2_e6))) * (1.0 - {rho!r}))"
            ),
            6,
        ).alias("wq_low_days"),
        # CAST early: a pure-literal expression would otherwise run in
        # DECIMAL on Spark (the shared-text decimal trap)
        F.round(
            F.expr(f"CAST(1 AS DOUBLE) / (1.0 - {rho!r})"), 6
        ).alias("low_to_high_ratio"),
    )
