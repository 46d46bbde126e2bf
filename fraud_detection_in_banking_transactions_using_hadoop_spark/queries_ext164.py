"""Extension batch 164 (round 6): the three remaining classical
rank-based two-sample tests, weekday vs weekend daily revenue --
Siegel-Tukey (extreme-in alternating ranks turn Wilcoxon into a SCALE
test), Mood's squared-deviation scale test (the quadratic-score
cousin ansari_bradley's linear scores approximate), and the
Wald-Wolfowitz two-sample runs test (the omnibus 'any difference at
all' read: too few label runs in the merged order means the samples
separate somewhere). Together with ansari_bradley / cucconi /
brunner_munzel this completes the location-scale rank-test shelf.

Cross-engine discipline:
- The merged order is the exact (cents, d) total order (daily cents
  are near-unique; the date tiebreak makes the permutation exact, so
  the untied null moments apply -- the bartels_rank_vn convention).
- All three statistics are pure INTEGER folds of that permutation
  (alternating-rank sums, squared centered ranks x4, run counts);
  each z divides once and the p goes through the shared A&S erf.
- Weekend split: DuckDB dayofweek() IN (0,6) == Spark dayofweek()
  IN (1,7) (the almost_stochastic_order precedent; the label never
  crosses engines).
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

_DEC = "decimal(38,0)"
_Z95 = 1.959963984540054


_DAILY_GRP_SQL = """
    daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents,
             CASE WHEN dayofweek(o_orderdate) IN (0, 6) THEN 1 ELSE 0 END
               AS grp
      FROM orders GROUP BY o_orderdate),
    r AS (
      SELECT grp, CAST(row_number() OVER (ORDER BY cents, d) AS BIGINT) AS p,
             CAST(count(*) OVER () AS BIGINT) AS nn
      FROM daily)
"""


def _daily_grp(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
        F.max(
            F.when(F.dayofweek("o_orderdate").isin(1, 7), 1).otherwise(0)
        ).alias("grp"),
    )
    return daily.select(
        "grp",
        F.row_number()
        .over(Window.orderBy("cents", "d"))
        .cast("bigint")
        .alias("p"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias(
            "nn"
        ),
    )


@register(
    "siegel_tukey",
    f"""
    WITH {_DAILY_GRP_SQL},
    st AS (
      SELECT grp, nn,
             CASE WHEN p <= (nn + 1) // 2 THEN
               CASE WHEN p % 2 = 0 THEN 2 * p ELSE 2 * p - 1 END
             ELSE
               CASE WHEN (nn + 1 - p) % 2 = 1 THEN 2 * (nn + 1 - p)
                    ELSE 2 * (nn + 1 - p) - 1 END
             END AS a
      FROM r),
    agg AS (
      SELECT CAST(sum(CASE WHEN grp = 1 THEN a END) AS HUGEINT) AS w,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nx,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ny,
             CAST(max(nn) AS BIGINT) AS nn
      FROM st),
    zz AS (
      SELECT nx, ny, nn, CAST(w AS BIGINT) AS w,
             (CAST(w AS DOUBLE) - CAST(nx AS DOUBLE) * (nn + 1) / 2.0)
               / sqrt(CAST(nx AS DOUBLE) * ny * (nn + 1) / 12.0) AS z
      FROM agg)
    SELECT nx AS n_weekend, ny AS n_weekday, w AS st_rank_sum,
           round(z, 4) AS z,
           round(1.0 - {_erf_sql(f"(abs(z) / {_SQRT2!r})")}, 6)
             AS p_two_sided,
           abs(z) > {_Z95!r} AS reject_5pct
    FROM zz
    """,
    tags=("ranktest", "scale", "twosample"),
)
def q_siegel_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel-Tukey scale test: rank the merged weekday/weekend daily
    revenues from the EXTREMES inward (1 to the min, 2-3 to the max
    pair, 4-5 to the next min pair, ...), then Wilcoxon the weekend
    group's alternating-rank sum against E = nx(N+1)/2, Var =
    nx ny (N+1)/12. A small sum means weekends occupy the extremes --
    larger spread -- without assuming equal locations are known. The
    alternating assignment is a closed-form integer CASE on the
    sorted position; everything folds as exact integers."""
    r = _daily_grp(spark, sf_dir)
    low = F.when(F.col("p") % 2 == 0, 2 * F.col("p")).otherwise(
        2 * F.col("p") - 1
    )
    q = F.col("nn") + 1 - F.col("p")
    high = F.when(q % 2 == 1, 2 * q).otherwise(2 * q - 1)
    st = r.select(
        "grp",
        "nn",
        F.when(
            F.col("p") <= F.expr("CAST((nn + 1) DIV 2 AS BIGINT)"), low
        )
        .otherwise(high)
        .alias("a"),
    )
    agg = st.agg(
        F.sum(F.when(F.col("grp") == 1, F.col("a"))).cast(_DEC).alias("w"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nx"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("ny"),
        F.max("nn").cast("bigint").alias("nn"),
    )
    z = (
        F.col("w").cast("double")
        - F.col("nx").cast("double") * (F.col("nn") + 1) / 2.0
    ) / F.sqrt(
        F.col("nx").cast("double") * F.col("ny") * (F.col("nn") + 1) / 12.0
    )
    zz = agg.select(
        "nx", "ny", "nn", F.col("w").cast("bigint").alias("w"), z.alias("z")
    )
    return zz.select(
        F.col("nx").alias("n_weekend"),
        F.col("ny").alias("n_weekday"),
        F.col("w").alias("st_rank_sum"),
        F.round(F.col("z"), 4).alias("z"),
        F.round(
            1.0 - F.expr(_erf_sql(f"(abs(z) / {_SQRT2!r})")), 6
        ).alias("p_two_sided"),
        (F.abs(F.col("z")) > _Z95).alias("reject_5pct"),
    )


@register(
    "mood_scale_test",
    f"""
    WITH {_DAILY_GRP_SQL},
    agg AS (
      SELECT CAST(sum(CASE WHEN grp = 1 THEN
                    (2 * p - nn - 1) * (2 * p - nn - 1) END) AS HUGEINT)
               AS m4,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nx,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ny,
             CAST(max(nn) AS BIGINT) AS nn
      FROM r),
    zz AS (
      SELECT nx, ny, nn, CAST(m4 AS BIGINT) AS m4,
             (CAST(m4 AS DOUBLE) / 4.0
              - CAST(nx AS DOUBLE)
                * (CAST(nn AS DOUBLE) * nn - 1.0) / 12.0)
               / sqrt(CAST(nx AS DOUBLE) * ny * (nn + 1.0)
                      * (CAST(nn AS DOUBLE) * nn - 4.0) / 180.0) AS z
      FROM agg)
    SELECT nx AS n_weekend, ny AS n_weekday,
           round(CAST(m4 AS DOUBLE) / 4.0, 2) AS mood_m,
           round(z, 4) AS z,
           round(1.0 - {_erf_sql(f"(abs(z) / {_SQRT2!r})")}, 6)
             AS p_two_sided,
           abs(z) > {_Z95!r} AS reject_5pct
    FROM zz
    """,
    tags=("ranktest", "scale", "twosample"),
)
def q_mood_scale_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's two-sample scale test: M = sum over the weekend group of
    (r - (N+1)/2)^2 -- squared centered ranks, so extreme positions
    score quadratically (vs Ansari-Bradley's linear triangular
    scores). The integer fold keeps 4M = sum (2r - N - 1)^2 exact;
    E[M] = nx(N^2-1)/12, Var[M] = nx ny (N+1)(N^2-4)/180 under the
    untied null. M above expectation = weekends spread wider."""
    r = _daily_grp(spark, sf_dir)
    dev = 2 * F.col("p") - F.col("nn") - 1
    agg = r.agg(
        F.sum(F.when(F.col("grp") == 1, dev * dev)).cast(_DEC).alias("m4"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nx"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("ny"),
        F.max("nn").cast("bigint").alias("nn"),
    )
    nnd = F.col("nn").cast("double")
    z = (
        F.col("m4").cast("double") / 4.0
        - F.col("nx").cast("double") * (nnd * F.col("nn") - 1.0) / 12.0
    ) / F.sqrt(
        F.col("nx").cast("double")
        * F.col("ny")
        * (F.col("nn") + 1.0)
        * (nnd * F.col("nn") - 4.0)
        / 180.0
    )
    zz = agg.select(
        "nx", "ny", "nn", F.col("m4").cast("bigint").alias("m4"), z.alias("z")
    )
    return zz.select(
        F.col("nx").alias("n_weekend"),
        F.col("ny").alias("n_weekday"),
        F.round(F.col("m4").cast("double") / 4.0, 2).alias("mood_m"),
        F.round(F.col("z"), 4).alias("z"),
        F.round(
            1.0 - F.expr(_erf_sql(f"(abs(z) / {_SQRT2!r})")), 6
        ).alias("p_two_sided"),
        (F.abs(F.col("z")) > _Z95).alias("reject_5pct"),
    )


@register(
    "wald_wolfowitz_runs2",
    f"""
    WITH {_DAILY_GRP_SQL},
    lagged AS (
      SELECT grp, lag(grp) OVER (ORDER BY p) AS prev, nn FROM r),
    agg AS (
      SELECT CAST(1 + sum(CASE WHEN prev IS NOT NULL AND grp <> prev
                          THEN 1 ELSE 0 END) AS BIGINT) AS runs,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nx,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ny,
             CAST(max(nn) AS BIGINT) AS nn
      FROM lagged),
    zz AS (
      SELECT runs, nx, ny, nn,
             1.0 + 2.0 * CAST(nx AS DOUBLE) * ny / nn AS er,
             (CAST(runs AS DOUBLE)
              - (1.0 + 2.0 * CAST(nx AS DOUBLE) * ny / nn))
               / sqrt(2.0 * CAST(nx AS DOUBLE) * ny
                      * (2.0 * CAST(nx AS DOUBLE) * ny - nn)
                      / (CAST(nn AS DOUBLE) * nn * (nn - 1.0))) AS z
      FROM agg)
    SELECT nx AS n_weekend, ny AS n_weekday, runs AS n_runs,
           round(er, 2) AS expected_runs,
           round(z, 4) AS z,
           round(0.5 * (1.0 + {_erf_sql(f"(z / {_SQRT2!r})")}), 6)
             AS p_too_few_runs
    FROM zz
    """,
    tags=("ranktest", "omnibus", "twosample"),
)
def q_wald_wolfowitz_runs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz two-sample runs test: merge the weekday and
    weekend daily revenues in the exact (cents, d) order and count
    runs of consecutive same-group labels. Under identical
    distributions E[R] = 1 + 2 nx ny / N; significantly FEW runs
    (left tail, p_too_few_runs) means same-group values clump --
    the samples differ somewhere (location, scale, or shape). The
    omnibus companion to the targeted tests above; run counting is
    one lag over the rank spine."""
    r = _daily_grp(spark, sf_dir)
    lagged = r.select(
        "grp", F.lag("grp").over(Window.orderBy("p")).alias("prev"), "nn"
    )
    agg = lagged.agg(
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("grp") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("runs"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nx"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("ny"),
        F.max("nn").cast("bigint").alias("nn"),
    )
    nxd = F.col("nx").cast("double")
    er = 1.0 + 2.0 * nxd * F.col("ny") / F.col("nn")
    z = (F.col("runs").cast("double") - er) / F.sqrt(
        2.0
        * nxd
        * F.col("ny")
        * (2.0 * nxd * F.col("ny") - F.col("nn"))
        / (F.col("nn").cast("double") * F.col("nn") * (F.col("nn") - 1.0))
    )
    zz = agg.select("runs", "nx", "ny", "nn", er.alias("er"), z.alias("z"))
    return zz.select(
        F.col("nx").alias("n_weekend"),
        F.col("ny").alias("n_weekday"),
        F.col("runs").alias("n_runs"),
        F.round(F.col("er"), 2).alias("expected_runs"),
        F.round(F.col("z"), 4).alias("z"),
        F.round(
            0.5 * (1.0 + F.expr(_erf_sql(f"(z / {_SQRT2!r})"))), 6
        ).alias("p_too_few_runs"),
    )
