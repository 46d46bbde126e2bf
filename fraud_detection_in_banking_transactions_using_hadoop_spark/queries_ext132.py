"""Extension batch 132 (round 6): multiple testing and distribution
fitting -- Holm step-down screening (exact inverse-normal thresholds
via the shared Acklam polynomial), negative-binomial method-of-moments
on overdispersed daily counts, and a Box-Cox transform scan.

Scale notes (the 100 TB story):
- holm_bonferroni_screen: per-nation proportion z-scores from exact
  integer counts, |z| ranked over the 25-nation spine, and the Holm
  threshold z_crit(alpha/(m-i+1)) computed by the SAME literal
  inverse-normal polynomial in both engines (ext120). Step-down
  rejection is a running-AND over the tiny ranked spine.
- negbin_fit_user_events: two exact integer moments close r = m^2/(v-m),
  p = m/v -- the overdispersion-honest count model Poisson dashboards
  need (Fano > 1 here).
- box_cox_scan: 5-point lambda grid; each transformed value rounds to
  an e6 integer before the moment sums, the profile log-likelihood
  closes per lambda, and the argmax is an integer comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import _acklam_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_ALPHA_T = 0.05
_LAMBDAS = (-1.0, -0.5, 0.0, 0.5, 1.0)


@register(
    "holm_bonferroni_screen",
    f"""
    WITH per AS (
      SELECT c_nationkey AS nation,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) AS BIGINT)
               AS k
      FROM customer GROUP BY c_nationkey),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(k) AS BIGINT) AS kk,
             CAST(count(*) AS BIGINT) AS m
      FROM per),
    z AS (
      SELECT p.nation, p.n, p.k, t.m,
             abs((CAST(p.k AS DOUBLE) / p.n - CAST(t.kk AS DOUBLE) / t.nn)
                 / sqrt((CAST(t.kk AS DOUBLE) / t.nn)
                        * (1 - CAST(t.kk AS DOUBLE) / t.nn) / p.n)) AS az
      FROM per p CROSS JOIN tot t),
    ranked AS (
      SELECT nation, n, k, m, az,
             CAST(row_number() OVER (ORDER BY az DESC, nation) AS BIGINT) AS i
      FROM z),
    thresh AS (
      SELECT *,
             -({_acklam_sql(f"({_ALPHA_T} / 2) / (m - i + 1)")}) AS z_crit
      FROM ranked),
    flags AS (
      SELECT *,
             min(CASE WHEN az >= z_crit THEN 1 ELSE 0 END)
               OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS rej
      FROM thresh)
    SELECT nation, n, k, i AS holm_rank,
           round(az, 6) AS abs_z,
           round(z_crit, 6) AS z_crit,
           CAST(rej AS BIGINT) AS rejected
    FROM flags
    """,
    tags=("stats", "multiple-testing", "exact-arith"),
)
def q_holm_bonferroni_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm step-down screen of per-nation high-balance rates against
    the pooled rate: |z| from exact integer counts, thresholds
    z_crit = -Phi^-1((alpha/2)/(m-i+1)) through the shared Acklam
    polynomial, and the step-down rule (reject while every earlier
    test rejected) as a running min over the ranked 25-row spine.
    Controls FWER strictly tighter than Bonferroni and with more power
    -- the stricter cousin of bh_fdr_screen's FDR control."""
    cust = read_table(spark, sf_dir, "customer")
    per = cust.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("c_acctbal") > 5000, 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("k").cast("bigint").alias("kk"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    p0 = F.col("kk").cast("double") / F.col("nn")
    z = per.crossJoin(F.broadcast(tot)).select(
        "nation",
        "n",
        "k",
        "m",
        F.abs(
            (F.col("k").cast("double") / F.col("n") - p0)
            / F.sqrt(p0 * (1 - p0) / F.col("n"))
        ).alias("az"),
    )
    w = Window.orderBy(F.col("az").desc(), "nation")
    ranked = z.withColumn("i", F.row_number().over(w).cast("bigint"))
    pexpr = f"({_ALPHA_T} / 2) / (m - i + 1)"
    thresh = ranked.withColumn(
        "z_crit", F.expr(f"-({_acklam_sql(pexpr)})")
    )
    wcum = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    flags = thresh.withColumn(
        "rej",
        F.min(F.when(F.col("az") >= F.col("z_crit"), 1).otherwise(0)).over(wcum),
    )
    return flags.select(
        "nation",
        "n",
        "k",
        F.col("i").alias("holm_rank"),
        F.round("az", 6).alias("abs_z"),
        F.round("z_crit", 6).alias("z_crit"),
        F.col("rej").cast("bigint").alias("rejected"),
    )


@register(
    "negbin_fit_user_events",
    """
    WITH daily AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY user_id),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS s,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss
      FROM daily),
    v AS (
      SELECT n,
             CAST(s AS DOUBLE) / n AS mean,
             CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n)
               * (CAST(s AS DOUBLE) / n) AS var
      FROM m)
    SELECT n AS n_users,
           round(mean, 6) AS mean_count,
           round(var, 6) AS var_count,
           round(var / mean, 6) AS fano,
           round(mean * mean / (var - mean), 6) AS nb_r,
           round(mean / var, 6) AS nb_p
    FROM v
    """,
    tags=("stats", "distribution-fit", "exact-arith"),
)
def q_negbin_fit_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments on per-user event counts
    (daily order counts are Poisson-like in this testdata; user
    activity is the overdispersed count):
    r = mean^2/(var - mean), p = mean/var -- defined exactly when the
    Fano factor exceeds 1 (it does here), i.e. when a Poisson model
    underdisperses. Two exact integer moments and four closing
    doubles; the count model capacity planners should fit before
    quoting Poisson tail probabilities."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast(_DEC).alias("s"),
        F.sum(F.col("x").cast(_DEC) * F.col("x")).cast(_DEC).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - mean * mean
    return m.select(
        F.col("n").alias("n_users"),
        F.round(mean, 6).alias("mean_count"),
        F.round(var, 6).alias("var_count"),
        F.round(var / mean, 6).alias("fano"),
        F.round(mean * mean / (var - mean), 6).alias("nb_r"),
        F.round(mean / var, 6).alias("nb_p"),
    )


@register(
    "box_cox_scan",
    f"""
    WITH vals AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v FROM orders),
    lg AS (SELECT unnest(ARRAY{list(_LAMBDAS)}) AS lam),
    tr AS (
      SELECT l.lam,
             CAST(round(1000000.0 * (CASE WHEN l.lam = 0 THEN ln(v / 100.0)
                  ELSE (power(v / 100.0, l.lam) - 1) / l.lam END), 0)
                  AS BIGINT) AS y_e6,
             CAST(round(100000000.0 * ln(v / 100.0), 0) AS BIGINT) AS lnx_e8
      FROM vals CROSS JOIN lg l),
    mo AS (
      SELECT lam, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y_e6) AS HUGEINT) AS s,
             CAST(sum(CAST(y_e6 AS HUGEINT) * y_e6) AS HUGEINT) AS ss,
             CAST(sum(lnx_e8) AS HUGEINT) AS slnx
      FROM tr GROUP BY lam),
    ll AS (
      SELECT lam, n,
             CAST(round(1000000.0 * (
               -0.5 * n * ln((CAST(ss AS DOUBLE) / n
                              - (CAST(s AS DOUBLE) / n)
                                * (CAST(s AS DOUBLE) / n)) / 1e12)
               + (lam - 1) * CAST(slnx AS DOUBLE) / 100000000.0), 0)
             AS BIGINT) AS ll_e6
      FROM mo)
    SELECT round(a.lam, 1) AS lam,
           round(a.ll_e6 / 1000000.0, 6) AS log_likelihood,
           CAST(CASE WHEN a.ll_e6 = (SELECT max(ll_e6) FROM ll)
                THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM ll a
    """,
    tags=("stats", "transform", "exact-arith"),
)
def q_box_cox_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-Cox profile log-likelihood over lambda in {{-1,-.5,0,.5,1}}
    for order values (dollars): LL(lam) = -n/2 ln(sigma^2_lam) +
    (lam-1) sum ln x. Each transformed value e6-rounds before the
    moment sums and each ln x e8-rounds, so both engines fold
    identical integers; the best-lambda flag is an exact integer
    comparison. The 'should I log-transform' question answered with a
    likelihood, not a vibe."""
    orders = read_table(spark, sf_dir, "orders")
    vals = orders.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("v")
    )
    lams = spark.createDataFrame([(l,) for l in _LAMBDAS], "lam double")
    x = F.col("v") / 100.0
    y = F.when(F.col("lam") == 0, F.log(x)).otherwise(
        (F.pow(x, F.col("lam")) - 1) / F.col("lam")
    )
    tr = vals.crossJoin(F.broadcast(lams)).select(
        "lam",
        F.round(F.lit(1000000.0) * y, 0).cast("bigint").alias("y_e6"),
        F.round(F.lit(100000000.0) * F.log(x), 0).cast("bigint").alias("lnx_e8"),
    )
    mo = tr.groupBy("lam").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y_e6").cast(_DEC).alias("s"),
        F.sum(F.col("y_e6").cast(_DEC) * F.col("y_e6")).cast(_DEC).alias("ss"),
        F.sum("lnx_e8").cast(_DEC).alias("slnx"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (F.col("ss").cast("double") / F.col("n") - mean * mean) / 1e12
    ll = mo.select(
        "lam",
        "n",
        F.round(
            F.lit(1000000.0)
            * (
                -0.5 * F.col("n") * F.log(var)
                + (F.col("lam") - 1)
                * F.col("slnx").cast("double")
                / 100000000.0
            ),
            0,
        )
        .cast("bigint")
        .alias("ll_e6"),
    )
    best = ll.agg(F.max("ll_e6").alias("mx"))
    return ll.crossJoin(F.broadcast(best)).select(
        F.round("lam", 1).alias("lam"),
        F.round(F.col("ll_e6") / 1000000.0, 6).alias("log_likelihood"),
        F.when(F.col("ll_e6") == F.col("mx"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_best"),
    )
