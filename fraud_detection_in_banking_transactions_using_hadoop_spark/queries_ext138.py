"""Extension batch 138 (round 6): Fligner-Killeen k-sample scale test
(the rank/normal-scores member missing from the variance-test family:
bartlett is normal-theory, brown_forsythe median-deviation ANOVA,
ansari_bradley/cucconi/moods two-sample), Krippendorff's alpha
(the missing-data-tolerant agreement coefficient generalizing
cohens_kappa to any number of raters per unit), and Theil's U2
(forecast skill vs the naive no-change benchmark, closing the
forecast-eval family beside MAPE/MASE-style backtests).

Scale notes (the 100 TB story):
- fligner_killeen rides operators/rank.with_global_rank twice, both
  on the bucket_bits=16 fast path: the per-priority cent spine (grouped
  mode -- every window carries the group key) for exact weighted
  medians, and the pooled |x - med| spine for average ranks. Normal
  scores come from the shared Acklam inverse-normal polynomial
  (queries_ext120) quantized at e8, so all group sums are exact
  integers; the k-term between-group sum uses abs()-first integer DIV
  (floor == truncate on non-negatives in both engines; quotients
  ~3e14 stay far under the LONG limit CLAUDE.md warns about).
- krippendorff_alpha_returnflag: per-unit disagreement has denominator
  (n_u - 1), cleared exactly by LCM(1..30) = 2329089562800 (synthetic
  lineitem reaches 17 lines/order at sf0.1; headroom to 31) -- the
  whole alpha is ONE integer ratio, summed in DECIMAL(38,0)/HUGEINT.
- theil_u2_forecast: lag-1/lag-7 windows over the CALENDAR-bounded
  daily spine; squared errors are exact DECIMAL(38,0) sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import _acklam_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.rank import with_global_rank
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"

# average-rank normal score: p = 0.5 + rbar/(2(N+1)), rbar carried as
# the exact integer 2*rbar = 2*cc - ct + 1. The CAST AS DOUBLE is
# load-bearing: Spark parses bare `2.0` literals as DECIMAL (DuckDB as
# DOUBLE), and decimal-arithmetic p quantizes the Acklam input.
_FK_P = (
    "(0.5 + (2.0 * CAST(cc AS DOUBLE) - ct + 1.0)"
    " / (4.0 * (CAST(nn AS DOUBLE) + 1.0)))"
)


@register(
    "fligner_killeen",
    f"""
    WITH cells AS (
      SELECT o_orderpriority AS prio,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2),
    totg AS (
      SELECT prio, CAST(sum(c) AS BIGINT) AS n_g FROM cells GROUP BY prio),
    medpre AS (
      SELECT prio, v, c, sum(c) OVER (PARTITION BY prio ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM cells),
    med AS (
      SELECT m.prio, min(m.v) AS med
      FROM medpre m JOIN totg t ON m.prio = t.prio
      WHERE 2 * m.cc >= t.n_g GROUP BY m.prio),
    dcells AS (
      SELECT c.prio, abs(c.v - m.med) AS d, CAST(sum(c.c) AS BIGINT) AS cd
      FROM cells c JOIN med m ON c.prio = m.prio GROUP BY 1, 2),
    dspine AS (
      SELECT d, CAST(sum(cd) AS BIGINT) AS ct FROM dcells GROUP BY d),
    nn_t AS (SELECT CAST(sum(ct) AS BIGINT) AS nn FROM dspine),
    dr AS (
      SELECT d, ct, sum(ct) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM dspine),
    scored AS (
      SELECT dr.d,
             CAST(floor(1e8 * ({_acklam_sql(_FK_P)}) + 0.5) AS BIGINT) AS a_e8
      FROM dr CROSS JOIN nn_t),
    grp AS (
      SELECT dc.prio,
             CAST(sum(CAST(dc.cd AS HUGEINT) * s.a_e8) AS HUGEINT) AS a_j,
             CAST(sum(dc.cd) AS HUGEINT) AS n_j,
             CAST(sum(CAST(dc.cd AS HUGEINT) * s.a_e8 * s.a_e8) AS HUGEINT)
               AS saa_j
      FROM dcells dc JOIN scored s ON dc.d = s.d GROUP BY dc.prio),
    tot AS (
      SELECT CAST(sum(a_j) AS HUGEINT) AS sa,
             CAST(sum(saa_j) AS HUGEINT) AS saa,
             CAST(sum(n_j) AS HUGEINT) AS n,
             CAST(count(*) AS BIGINT) AS k
      FROM grp),
    terms AS (
      SELECT CAST(sum(
               CAST((abs(t.n * g.a_j - g.n_j * t.sa) // g.n_j) AS HUGEINT)
               * (abs(t.n * g.a_j - g.n_j * t.sa) // g.n_j)
               * g.n_j) AS HUGEINT) AS num
      FROM grp g CROSS JOIN tot t)
    SELECT CAST(t.n AS BIGINT) AS n_total,
           CAST(t.k AS INTEGER) AS k_groups,
           CAST(t.k - 1 AS INTEGER) AS df,
           round(CAST((t.n - 1) * x.num AS DOUBLE)
                 / CAST(t.n * (t.n * t.saa - t.sa * t.sa) AS DOUBLE), 6)
             AS fk_stat
    FROM tot t CROSS JOIN terms x
    """,
    tags=("stats", "scale-test", "rank"),
)
def q_fligner_killeen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fligner-Killeen test of equal scale across the 5 order
    priorities: normal scores a = ninv(0.5 + rbar/(2(N+1))) of the
    pooled average ranks of |x - group median|, then the one-way
    ANOVA-on-scores chi-square FK = sum_j n_j (abar_j - abar)^2 / V.
    Group medians are exact weighted lower medians on the grouped cent
    spine; scores are Acklam-e8 integers so every sum is exact; the
    between-group sum clears /n_j by abs-first integer division
    (identical floor in both engines, ~1e-13 relative effect)."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.fold import (
        collect_nonempty,
    )

    orders = read_table(spark, sf_dir, "orders")
    cells = (
        orders.select(
            F.col("o_orderpriority").alias("prio"),
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("v"),
        )
        .groupBy("prio", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # consumed by the rank pass AND dcells; A/B'd unpinned in r14
        # (4.9-6.1 s warm vs 2.7-2.8 s pinned) -- keep the pin
        .localCheckpoint(eager=True)
    )
    pre = with_global_rank(
        cells,
        "v",
        [F.col("v")],
        prefix_sum={"cc": "c"},
        partition_cols=["prio"],
        bucket_bits=16,
    )
    # r13: the 5 group medians are a BOUNDED scalar set (one per order
    # priority) -- collect them and re-enter as a literal CASE.
    # r14 (verdict item 5): the group total n_g is the LAST inclusive
    # prefix count of the same rank pass, so max(cc) OVER (PARTITION BY
    # prio) replaces the separate totg aggregate pass + join-back, and
    # the pooled N (= sum of the five n_g) rides the same collect --
    # the dspine sum(ct) scalar job disappears too.
    w_g = Window.partitionBy("prio")
    med_rows = collect_nonempty(
        pre.withColumn("n_g", F.max("cc").over(w_g))
        .where(2 * F.col("cc") >= F.col("n_g"))
        .groupBy("prio")
        .agg(F.min("v").alias("med"), F.max("n_g").alias("n_g")),
        "fligner group medians",
    )
    nn_lit = int(sum(row["n_g"] for row in med_rows))
    med_expr = None
    for row in sorted(med_rows):
        branch = (F.col("prio") == F.lit(row["prio"]), F.lit(row["med"]))
        med_expr = (
            F.when(*branch) if med_expr is None else med_expr.when(*branch)
        )
    dcells = (
        cells.select(
            "prio",
            F.abs(F.col("v") - med_expr).alias("d"),
            F.col("c"),
        )
        .groupBy("prio", "d")
        .agg(F.sum("c").cast("bigint").alias("cd"))
        # consumed twice (dspine + grp join); A/B'd unpinned in r14:
        # warm 3.2-3.6 s vs 2.9-3.3 s pinned -- keep the pin
        .localCheckpoint(eager=True)
    )
    dspine = dcells.groupBy("d").agg(F.sum("cd").cast("bigint").alias("ct"))
    dr = with_global_rank(
        dspine, "d", [F.col("d")], prefix_sum={"cc": "ct"}, bucket_bits=16
    )
    # consumed once below -- no checkpoint needed; the acklam projection
    # streams into the grp aggregate at exec time
    scored = dr.withColumn("nn", F.lit(nn_lit).cast("bigint")).select(
        "d",
        F.expr(
            f"CAST(floor(1e8 * ({_acklam_sql(_FK_P)}) + 0.5) AS BIGINT)"
        ).alias("a_e8"),
    )
    # r14 (verdict item 5): the per-group score sums are a BOUNDED
    # 5-row exact-integer set -- collect them and fold tot/terms in
    # Python integers (arbitrary precision, so the DECIMAL(38,0) sums
    # and the abs-first DIV mirror exactly: Python // on the
    # non-negative numerator == Spark DIV truncation). Replaces the
    # 5-row checkpoint + two crossJoin passes; the final double
    # division + round(6) stays IN-ENGINE on the same DECIMAL(38,0)
    # literal values, so the emitted double is bit-identical.
    grp_rows = collect_nonempty(
        dcells.join(F.broadcast(scored), "d")
        .groupBy("prio")
        .agg(
            F.sum(F.col("cd").cast(_DEC) * F.col("a_e8")).cast(_DEC).alias("a_j"),
            F.sum("cd").cast(_DEC).alias("n_j"),
            F.sum(F.col("cd").cast(_DEC) * F.col("a_e8") * F.col("a_e8"))
            .cast(_DEC)
            .alias("saa_j"),
        ),
        "fligner per-group score sums",
    )
    sa = sum(int(r["a_j"]) for r in grp_rows)
    saa = sum(int(r["saa_j"]) for r in grp_rows)
    n = sum(int(r["n_j"]) for r in grp_rows)
    k = len(grp_rows)
    num = 0
    for r in grp_rows:
        a_j, n_j = int(r["a_j"]), int(r["n_j"])
        q = abs(n * a_j - n_j * sa) // n_j
        num += q * q * n_j

    def _dec(v: int):
        return F.expr(f"CAST('{v}' AS DECIMAL(38,0))")

    one = spark.range(1).select(
        _dec(n).alias("n"),
        F.lit(k).cast("bigint").alias("k"),
        _dec(num).alias("num"),
        _dec(sa).alias("sa"),
        _dec(saa).alias("saa"),
    )
    return one.select(
        F.col("n").cast("bigint").alias("n_total"),
        F.col("k").cast("integer").alias("k_groups"),
        (F.col("k") - 1).cast("integer").alias("df"),
        F.round(
            ((F.col("n") - 1) * F.col("num")).cast("double")
            / (
                F.col("n")
                * (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
            ).cast("double"),
            6,
        ).alias("fk_stat"),
    )


@register(
    "krippendorff_alpha_returnflag",
    """
    WITH ucell AS (
      SELECT l_orderkey AS u, l_returnflag AS m, CAST(count(*) AS BIGINT) AS n_uc
      FROM lineitem GROUP BY 1, 2),
    utot AS (
      SELECT u, CAST(sum(n_uc) AS BIGINT) AS n_u FROM ucell GROUP BY u
      HAVING sum(n_uc) >= 2),
    kept AS (
      SELECT c.u, c.m, c.n_uc, t.n_u FROM ucell c JOIN utot t ON c.u = t.u),
    do_t AS (
      SELECT CAST(sum(CAST(n_uc * (n_u - n_uc) AS HUGEINT)
                      * (2329089562800 // (n_u - 1))) AS HUGEINT) AS do_l,
             CAST(count(DISTINCT u) AS BIGINT) AS n_units
      FROM kept),
    marg AS (
      SELECT m, CAST(sum(n_uc) AS BIGINT) AS n_c FROM kept GROUP BY m),
    nn AS (SELECT CAST(sum(n_c) AS BIGINT) AS n FROM marg),
    de_t AS (
      SELECT CAST(sum(m.n_c * (t.n - m.n_c)) AS BIGINT) AS de_num
      FROM marg m CROSS JOIN nn t)
    SELECT d.n_units, t.n AS n_pairable_values,
           round(CAST(o.do_l AS DOUBLE) / 2329089562800.0 / t.n, 6)
             AS observed_disagreement,
           round(CAST(e.de_num AS DOUBLE) / t.n / (t.n - 1), 6)
             AS expected_disagreement,
           round(1.0 - (CAST(o.do_l AS DOUBLE) * (t.n - 1))
                 / (2329089562800.0 * e.de_num), 6) + 0.0 AS alpha
    FROM do_t o CROSS JOIN de_t e CROSS JOIN nn t CROSS JOIN do_t d
    """,
    tags=("stats", "agreement"),
)
def q_krippendorff_alpha_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal) for return-flag agreement WITHIN
    orders: units = multi-line orders, values = each line's returnflag.
    alpha = 1 - Do/De with Do = (1/n) sum_u sum_c n_uc(n_u - n_uc)/
    (n_u - 1) and De = (1/(n(n-1))) sum_c n_c(n - n_c). Line counts
    per order stay well under 31, so (n_u - 1) divides LCM(1..30)
    exactly -- Do is carried as the exact integer LCM*Do*n and alpha
    is one double ratio. Generalizes cohens_kappa to variable raters per unit with
    no pairing step."""
    li = read_table(spark, sf_dir, "lineitem")
    ucell = li.groupBy(
        F.col("l_orderkey").alias("u"), F.col("l_returnflag").alias("m")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_uc"))
    utot = (
        ucell.groupBy("u")
        .agg(F.sum("n_uc").cast("bigint").alias("n_u"))
        .where(F.col("n_u") >= 2)
    )
    kept = ucell.join(utot, "u")
    do_t = kept.agg(
        F.sum(
            (F.col("n_uc") * (F.col("n_u") - F.col("n_uc"))).cast(_DEC)
            * F.expr("2329089562800L DIV (n_u - 1)")
        )
        .cast(_DEC)
        .alias("do_l"),
        F.countDistinct("u").cast("bigint").alias("n_units"),
    )
    marg = kept.groupBy("m").agg(F.sum("n_uc").cast("bigint").alias("n_c"))
    nn = marg.agg(F.sum("n_c").cast("bigint").alias("n"))
    de_t = (
        marg.crossJoin(F.broadcast(nn))
        .agg(
            F.sum(F.col("n_c") * (F.col("n") - F.col("n_c")))
            .cast("bigint")
            .alias("de_num")
        )
    )
    return (
        do_t.crossJoin(F.broadcast(de_t))
        .crossJoin(F.broadcast(nn))
        .select(
            "n_units",
            F.col("n").alias("n_pairable_values"),
            F.round(
                F.col("do_l").cast("double") / 2329089562800.0 / F.col("n"), 6
            ).alias("observed_disagreement"),
            F.round(
                F.col("de_num").cast("double") / F.col("n") / (F.col("n") - 1), 6
            ).alias("expected_disagreement"),
            (
                F.round(
                    1.0
                    - (F.col("do_l").cast("double") * (F.col("n") - 1))
                    / (2329089562800.0 * F.col("de_num")),
                    6,
                )
                + F.lit(0.0)
            ).alias("alpha"),
        )
    )


@register(
    "theil_u2_forecast",
    """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_orderdate),
    lagged AS (
      SELECT cents,
             lag(cents, 1) OVER (ORDER BY d) AS l1,
             lag(cents, 7) OVER (ORDER BY d) AS l7
      FROM daily),
    scored AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l7 - cents AS HUGEINT) * (l7 - cents)) AS HUGEINT)
               AS s7,
             CAST(sum(CAST(l1 - cents AS HUGEINT) * (l1 - cents)) AS HUGEINT)
               AS s1
      FROM lagged WHERE l7 IS NOT NULL)
    SELECT n AS n_days_scored,
           round(sqrt(CAST(s7 AS DOUBLE) / CAST(s1 AS DOUBLE)), 6)
             AS u2_seasonal_vs_naive,
           round(sqrt(CAST(s7 AS DOUBLE) / n) / 100.0, 6) AS rmse_seasonal_dollars,
           round(sqrt(CAST(s1 AS DOUBLE) / n) / 100.0, 6) AS rmse_naive_dollars
    FROM scored
    """,
    tags=("timeseries", "forecast", "exact-arith"),
)
def q_theil_u2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U2 forecast-skill ratio on daily revenue: RMSE of the
    seasonal-naive forecast (same weekday last week, lag 7) over RMSE
    of the no-change naive (lag 1), on the days where both are
    defined. U2 < 1 means weekly seasonality genuinely predicts; U2 >=
    1 means the fancy forecast loses to persistence. Exact integer
    squared-error sums; lag windows over the calendar-bounded daily
    spine."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "cents",
        F.lag("cents", 1).over(w).alias("l1"),
        F.lag("cents", 7).over(w).alias("l7"),
    ).where(F.col("l7").isNotNull())
    e7 = (F.col("l7") - F.col("cents")).cast(_DEC)
    e1 = (F.col("l1") - F.col("cents")).cast(_DEC)
    scored = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(e7 * e7).cast(_DEC).alias("s7"),
        F.sum(e1 * e1).cast(_DEC).alias("s1"),
    )
    return scored.select(
        F.col("n").alias("n_days_scored"),
        F.round(
            F.sqrt(F.col("s7").cast("double") / F.col("s1").cast("double")), 6
        ).alias("u2_seasonal_vs_naive"),
        F.round(F.sqrt(F.col("s7").cast("double") / F.col("n")) / 100.0, 6).alias(
            "rmse_seasonal_dollars"
        ),
        F.round(F.sqrt(F.col("s1").cast("double") / F.col("n")) / 100.0, 6).alias(
            "rmse_naive_dollars"
        ),
    )
