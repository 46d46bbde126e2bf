"""Extension batch 169 (round 6): the OLS misspecification clinic on
the lineitem price~quantity regression -- White's heteroskedasticity
LM test (aux-regress squared residuals on (x, x^2); the test that
does not assume WHICH variable drives the variance, unlike
breusch_pagan's linear-in-x form), the Goldfeld-Quandt variance-ratio
test (low-quantity vs high-quantity halves), and Ramsey's RESET
(does a quadratic term belong -- functional-form misspecification).
In TPC-H proper, extended price is mechanically quantity x unit-price
and the conditional variance grows with quantity; whether THIS
synthetic regeneration preserves that relation is exactly what the
three tests report (the invariant tests carry planted fixtures for
both outcomes).

Cross-engine discipline:
- ONE exact integer moment fold feeds all three: sum x^k (k<=4),
  sum y x^k (k<=3), sum y^2 x^k (k<=2) in cents/units
  (HUGEINT/DECIMAL(38,0)); every residual moment expands as a shared
  double polynomial of those integers -- no per-row residual pass,
  no float sums.
- p-values: White LM ~ chi2_2 -> exp(-LM/2) exact; RESET F with 1
  numerator df -> chi2_1 tail erfc(sqrt(F)/sqrt2) via the shared A&S
  erf; GQ uses the ln-F normal approximation (variance 2/df1 + 2/df2,
  documented -- dfs are ~1e5 so the approximation error is far below
  round(6)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import (
    _SQRT2,
    _erf_sql,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_GQ_SPLIT = 25  # quantity <= 25 vs > 25


_MOM_SQL = """
    base AS (
      SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y,
             CAST(l_quantity AS BIGINT) AS x
      FROM lineitem),
    mom AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx1,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sx2,
             CAST(sum(CAST(x AS HUGEINT) * x * x) AS HUGEINT) AS sx3,
             CAST(sum(CAST(x AS HUGEINT) * x * x * x) AS HUGEINT) AS sx4,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(y AS HUGEINT) * x) AS HUGEINT) AS syx1,
             CAST(sum(CAST(y AS HUGEINT) * x * x) AS HUGEINT) AS syx2,
             CAST(sum(CAST(y AS HUGEINT) * x * x * x) AS HUGEINT) AS syx3,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS sy2,
             CAST(sum(CAST(y AS HUGEINT) * y * x) AS HUGEINT) AS sy2x1,
             CAST(sum(CAST(y AS HUGEINT) * y * x * x) AS HUGEINT) AS sy2x2
      FROM base)
"""

# shared double text: OLS slope/intercept from the moment row
_B_TXT = (
    "((CAST(n AS DOUBLE) * CAST(syx1 AS DOUBLE)"
    " - CAST(sx1 AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)"
    " - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)))"
)
_A_TXT = (
    f"((CAST(sy AS DOUBLE) - {_B_TXT} * CAST(sx1 AS DOUBLE))"
    " / CAST(n AS DOUBLE))"
)


@register(
    "white_het_test",
    f"""
    WITH {_MOM_SQL},
    ab AS (SELECT {_A_TXT} AS a, {_B_TXT} AS b FROM mom),
    e4 AS (
      -- second exact pass: squared residuals via the shared (a, b)
      -- doubles, e2 quantized per row at e-2 (cents^2) before folding
      SELECT CAST(sum(q) AS HUGEINT) AS se2q,
             CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS se4q,
             CAST(sum(CAST(q AS HUGEINT) * x) AS HUGEINT) AS se2x1,
             CAST(sum(CAST(q AS HUGEINT) * x * x) AS HUGEINT) AS se2x2,
             CAST(count(*) AS HUGEINT) AS n2
      FROM (
        SELECT b2.x,
               CAST(round((CAST(b2.y AS DOUBLE) - ab.a - ab.b * b2.x)
                 * (CAST(b2.y AS DOUBLE) - ab.a - ab.b * b2.x)
                 * 1e-2, 0) AS BIGINT) AS q
        FROM base b2 CROSS JOIN ab) t),
    aux AS (
      SELECT CAST(n2 AS DOUBLE) AS nd,
             CAST(se2q AS DOUBLE) AS sz,
             CAST(se4q AS DOUBLE) AS sz2,
             CAST(se2x1 AS DOUBLE) AS szx1,
             CAST(se2x2 AS DOUBLE) AS szx2,
             CAST(m.sx1 AS DOUBLE) AS x1, CAST(m.sx2 AS DOUBLE) AS x2,
             CAST(m.sx3 AS DOUBLE) AS x3, CAST(m.sx4 AS DOUBLE) AS x4
      FROM e4 CROSS JOIN mom m),
    fit AS (
      SELECT nd,
             (szx1 - x1 * sz / nd) AS c1,
             (szx2 - x2 * sz / nd) AS c2,
             (x2 - x1 * x1 / nd) AS s11,
             (x3 - x1 * x2 / nd) AS s12,
             (x4 - x2 * x2 / nd) AS s22,
             (sz2 - sz * sz / nd) AS szz
      FROM aux),
    r2 AS (
      SELECT nd,
             (c1 * (s22 * c1 - s12 * c2) + c2 * (s11 * c2 - s12 * c1))
               / ((s11 * s22 - s12 * s12) * szz) AS r2
      FROM fit)
    SELECT CAST(nd AS BIGINT) AS n_lines,
           round(r2, 6) AS aux_r2,
           round(nd * r2, 4) AS lm_stat,
           round(exp(-nd * r2 / 2.0), 6) AS p_chi2_2,
           nd * r2 > 5.991464547107979 AS reject_5pct
    FROM r2
    """,
    tags=("regression", "diagnostics", "heteroskedasticity"),
)
def q_white_het_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """White's heteroskedasticity test for price ~ quantity: regress
    the squared residuals on (x, x^2) and take LM = n R^2 ~ chi2_2.
    The residual e = y - a - b x uses the exact-moment OLS line;
    squared residuals quantize to e-2 cents^2 integers per row before
    the second fold, so the aux R^2 is a pure function of shared
    integers. In TPC-H proper (price = qty x unitprice) the variance
    grows with x and the test fires; the LM magnitude reports whether
    this regeneration preserves that."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    base = lineitem.select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("y"),
        F.col("l_quantity").cast("bigint").alias("x"),
    )
    yd = F.col("y").cast(_DEC)
    xd = F.col("x").cast(_DEC)
    mom = base.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("x").cast(_DEC).alias("sx1"),
        F.sum(xd * F.col("x")).cast(_DEC).alias("sx2"),
        F.sum(xd * F.col("x") * F.col("x")).cast(_DEC).alias("sx3"),
        F.sum(xd * F.col("x") * F.col("x") * F.col("x")).cast(_DEC).alias(
            "sx4"
        ),
        F.sum("y").cast(_DEC).alias("sy"),
        F.sum(yd * F.col("x")).cast(_DEC).alias("syx1"),
        F.sum(yd * F.col("x") * F.col("x")).cast(_DEC).alias("syx2"),
        F.sum(yd * F.col("x") * F.col("x") * F.col("x")).cast(_DEC).alias(
            "syx3"
        ),
        F.sum(yd * F.col("y")).cast(_DEC).alias("sy2"),
        F.sum(yd * F.col("y") * F.col("x")).cast(_DEC).alias("sy2x1"),
        F.sum(yd * F.col("y") * F.col("x") * F.col("x"))
        .cast(_DEC)
        .alias("sy2x2"),
    )
    b_col = (
        F.col("n").cast("double") * F.col("syx1").cast("double")
        - F.col("sx1").cast("double") * F.col("sy").cast("double")
    ) / (
        F.col("n").cast("double") * F.col("sx2").cast("double")
        - F.col("sx1").cast("double") * F.col("sx1").cast("double")
    )
    a_col = (
        F.col("sy").cast("double") - b_col * F.col("sx1").cast("double")
    ) / F.col("n").cast("double")
    e = F.col("y").cast("double") - F.col("a") - F.col("b") * F.col("x")
    e4 = (
        base.crossJoin(
            F.broadcast(mom.select(a_col.alias("a"), b_col.alias("b")))
        )
        .select("x", F.round(e * e * 1e-2, 0).cast("bigint").alias("q"))
        .agg(
            F.sum("q").cast(_DEC).alias("se2q"),
            F.sum(F.col("q").cast(_DEC) * F.col("q")).cast(_DEC).alias(
                "se4q"
            ),
            F.sum(F.col("q").cast(_DEC) * F.col("x")).cast(_DEC).alias(
                "se2x1"
            ),
            F.sum(F.col("q").cast(_DEC) * F.col("x") * F.col("x"))
            .cast(_DEC)
            .alias("se2x2"),
            F.count(F.lit(1)).cast(_DEC).alias("n2"),
        )
    )
    aux = e4.crossJoin(
        F.broadcast(mom.select("sx1", "sx2", "sx3", "sx4"))
    ).select(
        F.col("n2").cast("double").alias("nd"),
        F.col("se2q").cast("double").alias("sz"),
        F.col("se4q").cast("double").alias("sz2"),
        F.col("se2x1").cast("double").alias("szx1"),
        F.col("se2x2").cast("double").alias("szx2"),
        F.col("sx1").cast("double").alias("x1"),
        F.col("sx2").cast("double").alias("x2"),
        F.col("sx3").cast("double").alias("x3"),
        F.col("sx4").cast("double").alias("x4"),
    )
    fit = aux.select(
        "nd",
        (F.col("szx1") - F.col("x1") * F.col("sz") / F.col("nd")).alias(
            "c1"
        ),
        (F.col("szx2") - F.col("x2") * F.col("sz") / F.col("nd")).alias(
            "c2"
        ),
        (F.col("x2") - F.col("x1") * F.col("x1") / F.col("nd")).alias(
            "s11"
        ),
        (F.col("x3") - F.col("x1") * F.col("x2") / F.col("nd")).alias(
            "s12"
        ),
        (F.col("x4") - F.col("x2") * F.col("x2") / F.col("nd")).alias(
            "s22"
        ),
        (F.col("sz2") - F.col("sz") * F.col("sz") / F.col("nd")).alias(
            "szz"
        ),
    )
    r2 = fit.select(
        "nd",
        (
            (
                F.col("c1")
                * (F.col("s22") * F.col("c1") - F.col("s12") * F.col("c2"))
                + F.col("c2")
                * (F.col("s11") * F.col("c2") - F.col("s12") * F.col("c1"))
            )
            / (
                (F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12"))
                * F.col("szz")
            )
        ).alias("r2"),
    )
    return r2.select(
        F.col("nd").cast("bigint").alias("n_lines"),
        F.round(F.col("r2"), 6).alias("aux_r2"),
        F.round(F.col("nd") * F.col("r2"), 4).alias("lm_stat"),
        F.round(F.exp(-F.col("nd") * F.col("r2") / 2.0), 6).alias(
            "p_chi2_2"
        ),
        (F.col("nd") * F.col("r2") > 5.991464547107979).alias(
            "reject_5pct"
        ),
    )


@register(
    "goldfeld_quandt",
    f"""
    WITH halves AS (
      SELECT CASE WHEN l_quantity <= {_GQ_SPLIT} THEN 0 ELSE 1 END AS h,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y,
             CAST(l_quantity AS BIGINT) AS x
      FROM lineitem),
    mom AS (
      SELECT h, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM halves GROUP BY h),
    ssr AS (
      SELECT h, CAST(n AS DOUBLE) AS nd,
             (CAST(n * syy - sy * sy AS DOUBLE)
              - CAST(n * sxy - sx * sy AS DOUBLE)
                * CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE))
               / CAST(n AS DOUBLE) AS ss
      FROM mom),
    piv AS (
      SELECT max(CASE WHEN h = 0 THEN ss END) AS ss0,
             max(CASE WHEN h = 0 THEN nd END) AS n0,
             max(CASE WHEN h = 1 THEN ss END) AS ss1,
             max(CASE WHEN h = 1 THEN nd END) AS n1
      FROM ssr),
    st AS (
      SELECT n0, n1,
             (ss1 / (n1 - 2.0)) / (ss0 / (n0 - 2.0)) AS fstat,
             ln((ss1 / (n1 - 2.0)) / (ss0 / (n0 - 2.0)))
               / sqrt(2.0 / (n1 - 2.0) + 2.0 / (n0 - 2.0)) AS z
      FROM piv)
    SELECT CAST(n0 AS BIGINT) AS n_low, CAST(n1 AS BIGINT) AS n_high,
           round(fstat, 6) AS variance_ratio_f,
           round(z, 4) AS z_lnf,
           round(1.0 - {_erf_sql(f"(abs(z) / {_SQRT2!r})")}, 6)
             AS p_two_sided,
           abs(z) > 1.959963984540054 AS reject_5pct
    FROM st
    """,
    tags=("regression", "diagnostics", "heteroskedasticity"),
)
def q_goldfeld_quandt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goldfeld-Quandt test: fit price ~ quantity separately on the
    low-quantity (<= 25) and high-quantity halves and compare residual
    variances, F = s1^2/s0^2. Per-half SSRs come from exact integer
    moments ((Syy - Sxy^2/Sxx)/n, n-scaled); with ~1e5 dfs the ln-F
    normal approximation (variance 2/df1 + 2/df2) is exact far past
    round(6). F >> 1 would confirm variance growing with quantity
    (the TPC-H unit-price-spread story); F ~ 1 says this synthetic
    regeneration draws price independent of quantity."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    halves = lineitem.select(
        F.when(F.col("l_quantity") <= _GQ_SPLIT, 0).otherwise(1).alias("h"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("y"),
        F.col("l_quantity").cast("bigint").alias("x"),
    )
    mom = halves.groupBy("h").agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("x").cast(_DEC).alias("sx"),
        F.sum("y").cast(_DEC).alias("sy"),
        F.sum(F.col("x").cast(_DEC) * F.col("x")).cast(_DEC).alias("sxx"),
        F.sum(F.col("x").cast(_DEC) * F.col("y")).cast(_DEC).alias("sxy"),
        F.sum(F.col("y").cast(_DEC) * F.col("y")).cast(_DEC).alias("syy"),
    )
    cxy = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ss = (
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
        - cxy.cast("double")
        * cxy.cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    ) / F.col("n").cast("double")
    ssr = mom.select(
        "h", F.col("n").cast("double").alias("nd"), ss.alias("ss")
    )
    piv = ssr.agg(
        F.max(F.when(F.col("h") == 0, F.col("ss"))).alias("ss0"),
        F.max(F.when(F.col("h") == 0, F.col("nd"))).alias("n0"),
        F.max(F.when(F.col("h") == 1, F.col("ss"))).alias("ss1"),
        F.max(F.when(F.col("h") == 1, F.col("nd"))).alias("n1"),
    )
    fstat = (F.col("ss1") / (F.col("n1") - 2.0)) / (
        F.col("ss0") / (F.col("n0") - 2.0)
    )
    z = F.log(fstat) / F.sqrt(
        2.0 / (F.col("n1") - 2.0) + 2.0 / (F.col("n0") - 2.0)
    )
    st = piv.select("n0", "n1", fstat.alias("fstat"), z.alias("z"))
    return st.select(
        F.col("n0").cast("bigint").alias("n_low"),
        F.col("n1").cast("bigint").alias("n_high"),
        F.round(F.col("fstat"), 6).alias("variance_ratio_f"),
        F.round(F.col("z"), 4).alias("z_lnf"),
        F.round(
            1.0 - F.expr(_erf_sql(f"(abs(z) / {_SQRT2!r})")), 6
        ).alias("p_two_sided"),
        (F.abs(F.col("z")) > 1.959963984540054).alias("reject_5pct"),
    )


@register(
    "ramsey_reset",
    f"""
    WITH {_MOM_SQL},
    -- quadratic fit via centered 2-regressor solve on (x, x^2)
    ctr AS (
      SELECT CAST(n AS DOUBLE) AS nd,
             CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
               / CAST(n AS DOUBLE) AS szz,
             CAST(syx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy AS DOUBLE)
               / CAST(n AS DOUBLE) AS c1,
             CAST(syx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sy AS DOUBLE)
               / CAST(n AS DOUBLE) AS c2,
             CAST(sx2 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)
               / CAST(n AS DOUBLE) AS s11,
             CAST(sx3 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE)
               / CAST(n AS DOUBLE) AS s12,
             CAST(sx4 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE)
               / CAST(n AS DOUBLE) AS s22
      FROM mom),
    fits AS (
      SELECT nd, szz,
             szz - c1 * c1 / s11 AS ssr_lin,
             szz - (c1 * (s22 * c1 - s12 * c2)
                    + c2 * (s11 * c2 - s12 * c1))
                   / (s11 * s22 - s12 * s12) AS ssr_quad
      FROM ctr),
    ftest AS (
      SELECT nd, szz, ssr_lin, ssr_quad,
             (ssr_lin - ssr_quad) / (ssr_quad / (nd - 3.0)) AS fstat
      FROM fits)
    SELECT CAST(nd AS BIGINT) AS n_lines,
           round(ssr_lin / szz, 6) AS resid_share_linear,
           round(fstat, 4) AS f_reset,
           round(1.0 - {_erf_sql(f"(sqrt(greatest(fstat, 0.0)) / {_SQRT2!r})")},
                 6) AS p_chi2_1,
           fstat > 3.841458820694124 AS reject_5pct
    FROM ftest
    """,
    tags=("regression", "diagnostics", "functional-form"),
)
def q_ramsey_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ramsey RESET (power 2) for price ~ quantity: with one
    regressor, adding yhat^2 is exactly adding x^2, so the test is
    the F-statistic for the quadratic term -- (SSR_lin - SSR_quad) /
    (SSR_quad/(n-3)) ~ chi2_1 at this n, p = erfc(sqrt(F)/sqrt2)
    exactly. Both SSRs come from the SAME exact integer moment fold
    via the centered 2-regressor closed form. A significant F says
    the price curve bends (quantity discounts would do it); an
    insignificant one certifies the linear spec."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    base = lineitem.select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("y"),
        F.col("l_quantity").cast("bigint").alias("x"),
    )
    yd = F.col("y").cast(_DEC)
    xd = F.col("x").cast(_DEC)
    mom = base.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("x").cast(_DEC).alias("sx1"),
        F.sum(xd * F.col("x")).cast(_DEC).alias("sx2"),
        F.sum(xd * F.col("x") * F.col("x")).cast(_DEC).alias("sx3"),
        F.sum(xd * F.col("x") * F.col("x") * F.col("x")).cast(_DEC).alias(
            "sx4"
        ),
        F.sum("y").cast(_DEC).alias("sy"),
        F.sum(yd * F.col("x")).cast(_DEC).alias("syx1"),
        F.sum(yd * F.col("x") * F.col("x")).cast(_DEC).alias("syx2"),
        F.sum(yd * F.col("y")).cast(_DEC).alias("sy2"),
    )
    nd = F.col("n").cast("double")
    ctr = mom.select(
        nd.alias("nd"),
        (
            F.col("sy2").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double") / nd
        ).alias("szz"),
        (
            F.col("syx1").cast("double")
            - F.col("sx1").cast("double") * F.col("sy").cast("double") / nd
        ).alias("c1"),
        (
            F.col("syx2").cast("double")
            - F.col("sx2").cast("double") * F.col("sy").cast("double") / nd
        ).alias("c2"),
        (
            F.col("sx2").cast("double")
            - F.col("sx1").cast("double") * F.col("sx1").cast("double") / nd
        ).alias("s11"),
        (
            F.col("sx3").cast("double")
            - F.col("sx1").cast("double") * F.col("sx2").cast("double") / nd
        ).alias("s12"),
        (
            F.col("sx4").cast("double")
            - F.col("sx2").cast("double") * F.col("sx2").cast("double") / nd
        ).alias("s22"),
    )
    fits = ctr.select(
        "nd",
        "szz",
        (F.col("szz") - F.col("c1") * F.col("c1") / F.col("s11")).alias(
            "ssr_lin"
        ),
        (
            F.col("szz")
            - (
                F.col("c1")
                * (F.col("s22") * F.col("c1") - F.col("s12") * F.col("c2"))
                + F.col("c2")
                * (F.col("s11") * F.col("c2") - F.col("s12") * F.col("c1"))
            )
            / (F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12"))
        ).alias("ssr_quad"),
    )
    fstat = (F.col("ssr_lin") - F.col("ssr_quad")) / (
        F.col("ssr_quad") / (F.col("nd") - 3.0)
    )
    ftest = fits.select(
        "nd", "szz", "ssr_lin", "ssr_quad", fstat.alias("fstat")
    )
    return ftest.select(
        F.col("nd").cast("bigint").alias("n_lines"),
        F.round(F.col("ssr_lin") / F.col("szz"), 6).alias(
            "resid_share_linear"
        ),
        F.round(F.col("fstat"), 4).alias("f_reset"),
        F.round(
            1.0
            - F.expr(
                _erf_sql(
                    f"(sqrt(greatest(fstat, 0.0)) / {_SQRT2!r})"
                )
            ),
            6,
        ).alias("p_chi2_1"),
        (F.col("fstat") > 3.841458820694124).alias("reject_5pct"),
    )
