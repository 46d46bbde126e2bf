"""Extension batch 109: the extremal index, the Hausman OLS-vs-IV
contrast, and Bowker's symmetry test.

- extremal_index_runs: gpd_pot_fit assumed exceedances are
  independent; the runs estimator theta = clusters/exceedances says
  HOW WRONG that is (theta = 1 iid, theta << 1 means hot streaks
  cluster). Exceedance days over the exact p95 order statistic,
  clusters from calendar-gap breaks -- all integer counts.
- hausman_ols_iv: iv_wald_estimate gave the instrumented effect;
  Hausman contrasts it with naive OLS -- H = (b_IV - b_OLS)^2 /
  (V_IV - V_OLS) is chi2(1) under exogeneity. Binary variables make
  every moment an exact count.
- bowker_symmetry_test: quartile_mobility_matrix SHOWS the year-over-
  year spend transitions; Bowker (the k x k McNemar) TESTS whether
  upward and downward moves balance: chi2 = sum (n_ij - n_ji)^2 /
  (n_ij + n_ji) over the 6 off-diagonal pairs, exact integers with
  e6-floored terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.rank import (
    ntile_from_rank,
    with_global_rank,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"


# ---------------------------------------------------------------------------
# Extremal index of daily revenue exceedances (runs estimator).
# ---------------------------------------------------------------------------
@register(
    "extremal_index_runs",
    """
    WITH d AS (
      SELECT o_orderdate AS dt,
             CAST(sum(round(o_totalprice * 100, 0)) AS BIGINT) AS y
      FROM orders GROUP BY o_orderdate),
    spine AS (SELECT y AS v, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY y),
    ranked AS (
      SELECT v, sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM spine),
    thr AS (
      SELECT min(v) AS u FROM ranked
      WHERE 100 * cc >= 95 * (SELECT CAST(sum(c) AS BIGINT) FROM spine)),
    exc AS (
      SELECT dt,
             lag(dt) OVER (ORDER BY dt) AS pdt
      FROM d WHERE y > (SELECT u FROM thr)),
    marks AS (
      SELECT CASE WHEN pdt IS NULL
                    OR date_diff('day', pdt, dt) > 1 THEN 1 ELSE 0 END AS new_c,
             dt
      FROM exc),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_exc,
             CAST(sum(new_c) AS BIGINT) AS n_clusters
      FROM marks)
    SELECT (SELECT CAST(u AS BIGINT) FROM thr) // 100 AS threshold_dollars,
           n_exc AS n_exceedances, n_clusters,
           round(CAST(n_clusters AS DOUBLE) / n_exc, 6) AS extremal_index,
           round(CAST(n_exc AS DOUBLE) / n_clusters, 4) AS mean_cluster_size
    FROM agg
    """,
    tags=("evt", "clustering", "exact-arith"),
)
def q_extremal_index_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs estimator of the extremal index for daily-revenue
    exceedances over the exact p95 order statistic: consecutive
    exceedance days form one cluster (a calendar gap > 1 day starts a
    new one), theta = clusters/exceedances. theta near 1 licenses
    the independent-exceedance assumption gpd_pot_fit makes; theta
    well below 1 means big days ARRIVE IN STREAKS and effective
    return periods stretch by 1/theta."""
    orders = read_table(spark, sf_dir, "orders")
    d = orders.groupBy(F.col("o_orderdate").alias("dt")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0)).cast("bigint").alias("y")
    )
    spine = d.groupBy(F.col("y").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = spine.agg(F.sum("c").cast("bigint").alias("n"))
    thr = (
        with_global_rank(spine, "v", [F.col("v")], prefix_sum={"cc": "c"})
        .crossJoin(F.broadcast(tot))
        .where(100 * F.col("cc") >= 95 * F.col("n"))
        .agg(F.min("v").alias("u"))
    )
    from pyspark.sql import Window

    exc = (
        d.crossJoin(F.broadcast(thr))
        .where(F.col("y") > F.col("u"))
        .select("dt", "u", F.lag("dt").over(Window.orderBy("dt")).alias("pdt"))
    )
    marks = exc.select(
        "u",
        F.when(
            F.col("pdt").isNull() | (F.datediff("dt", "pdt") > 1), 1
        )
        .otherwise(0)
        .alias("new_c"),
    )
    agg = marks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exc"),
        F.sum("new_c").cast("bigint").alias("n_clusters"),
        F.max("u").alias("u"),
    )
    return agg.select(
        F.expr("CAST(u DIV 100 AS BIGINT)").alias("threshold_dollars"),
        F.col("n_exc").alias("n_exceedances"),
        "n_clusters",
        F.round(
            F.col("n_clusters").cast("double") / F.col("n_exc"), 6
        ).alias("extremal_index"),
        F.round(
            F.col("n_exc").cast("double") / F.col("n_clusters"), 4
        ).alias("mean_cluster_size"),
    )


# ---------------------------------------------------------------------------
# Hausman contrast of OLS vs IV (Wald) effect estimates.
# ---------------------------------------------------------------------------
q_hausman_ols_iv = register_sql(
    "hausman_ols_iv",
    """
    WITH base AS (
      SELECT c.c_nationkey % 2 AS z,
             CASE WHEN l.l_discount >= 0.05 THEN 1 ELSE 0 END AS x,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(z) AS BIGINT) AS sz,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(z * y) AS BIGINT) AS szy,
             CAST(sum(z * x) AS BIGINT) AS szx
      FROM base),
    c2 AS (
      SELECT n,
             CAST(n * sxy - sx * sy AS DOUBLE) AS cxy,
             CAST(n * sx - sx * sx AS DOUBLE) AS cxx,
             CAST(n * szy - sz * sy AS DOUBLE) AS czy,
             CAST(n * szx - sz * sx AS DOUBLE) AS czx,
             CAST(n * sz - sz * sz AS DOUBLE) AS czz,
             CAST(n * sy - sy * sy AS DOUBLE) AS cyy,
             CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
      FROM mom),
    est AS (
      SELECT n,
             cxy / cxx AS b_ols,
             czy / czx AS b_iv,
             (cyy / n - (cxy / cxx) * cxy / n) / (n - 2) AS s2_scaled,
             cxx / n AS sxx_c,
             czz / n AS szz_c,
             czx / n AS szx_c
      FROM c2)
    SELECT n AS n_lines,
           round(b_ols, 6) + 0.0 AS beta_ols,
           round(b_iv, 6) + 0.0 AS beta_iv,
           round(b_iv - b_ols, 6) + 0.0 AS difference,
           round((b_iv - b_ols) * (b_iv - b_ols)
                 / (s2_scaled * szz_c / (szx_c * szx_c)
                    - s2_scaled / sxx_c), 4) AS hausman_chi2
    FROM est
    """,
    tags=("econometrics", "specification", "exact-arith"),
)


# ---------------------------------------------------------------------------
# Bowker symmetry test on the year-over-year spend-quartile matrix.
# ---------------------------------------------------------------------------
@register(
    "bowker_symmetry_test",
    """
    WITH spend AS (
      SELECT o_custkey AS ck, date_part('year', o_orderdate) AS yr,
             CAST(sum(round(o_totalprice * 100, 0)) AS BIGINT) AS s
      FROM orders WHERE date_part('year', o_orderdate) IN (1996, 1997)
      GROUP BY o_custkey, date_part('year', o_orderdate)),
    q AS (
      SELECT ck, yr, ntile(4) OVER (PARTITION BY yr ORDER BY s, ck) AS tile
      FROM spend),
    matched AS (
      SELECT a.tile AS q0, b.tile AS q1
      FROM (SELECT * FROM q WHERE yr = 1996) a
      JOIN (SELECT * FROM q WHERE yr = 1997) b ON a.ck = b.ck),
    cells AS (
      SELECT q0, q1, CAST(count(*) AS BIGINT) AS c FROM matched
      GROUP BY q0, q1),
    grid AS (
      SELECT i.i, j.j
      FROM (SELECT unnest(range(1, 5)) AS i) i
      JOIN (SELECT unnest(range(1, 5)) AS j) j ON i.i < j.j),
    pairs AS (
      SELECT g.i, g.j,
             coalesce(a.c, 0) AS nij, coalesce(b.c, 0) AS nji
      FROM grid g
      LEFT JOIN cells a ON a.q0 = g.i AND a.q1 = g.j
      LEFT JOIN cells b ON b.q0 = g.j AND b.q1 = g.i),
    terms AS (
      SELECT CAST(count(*) AS BIGINT) AS dof,
             CAST(sum(CASE WHEN nij + nji > 0 THEN
               CAST(floor(1e6 * (CAST(nij - nji AS DOUBLE)
                                 * (nij - nji) / (nij + nji)) + 0.5) AS BIGINT)
               ELSE 0 END) AS HUGEINT) AS chi_e6,
             CAST(sum(CASE WHEN nij > nji THEN nij - nji
                           ELSE nji - nij END) AS BIGINT) AS total_asym
      FROM pairs)
    SELECT CAST(dof AS INTEGER) AS dof,
           round(CAST(chi_e6 AS DOUBLE) / 1e6, 4) AS bowker_chi2,
           total_asym AS total_abs_asymmetry
    FROM terms
    """,
    tags=("stats", "symmetry", "exact-arith"),
)
def q_bowker_symmetry_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowker's symmetry test (the k x k McNemar) on the 1996->1997
    spend-quartile transition matrix: chi2 = sum over the 6 upper
    pairs of (n_ij - n_ji)^2/(n_ij + n_ji), exact integers with
    e6-floored terms. Symmetric mobility means churn without drift;
    a significant Bowker says customers flow PREFERENTIALLY up or
    down -- the inferential companion quartile_mobility_matrix
    lacks."""
    orders = read_table(spark, sf_dir, "orders")
    spend = (
        orders.where(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            F.col("o_custkey").alias("ck"), F.year("o_orderdate").alias("yr")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0)).cast("bigint").alias("s")
        )
    )
    totals = spend.groupBy("yr").agg(F.count(F.lit(1)).cast("bigint").alias("nn"))
    ranked = (
        with_global_rank(
            spend, "s", [F.col("s"), F.col("ck")], partition_cols=["yr"]
        )
        .join(F.broadcast(totals), "yr")
        .select(
            "ck",
            "yr",
            ntile_from_rank(F.col("global_rank"), F.col("nn"), 4).alias("tile"),
        )
    )
    a = ranked.where(F.col("yr") == 1996).select("ck", F.col("tile").alias("q0"))
    b = ranked.where(F.col("yr") == 1997).select(
        F.col("ck").alias("ck2"), F.col("tile").alias("q1")
    )
    matched = a.join(b, a.ck == b.ck2).select("q0", "q1")
    cells = matched.groupBy("q0", "q1").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    grid = spark.createDataFrame(
        [(i, j) for i in range(1, 5) for j in range(1, 5) if i < j], "i int, j int"
    )
    ca = cells.select(
        F.col("q0").alias("aq0"), F.col("q1").alias("aq1"), F.col("c").alias("cij")
    )
    cb = cells.select(
        F.col("q0").alias("bq0"), F.col("q1").alias("bq1"), F.col("c").alias("cji")
    )
    pairs = (
        grid.join(
            ca, (F.col("aq0") == F.col("i")) & (F.col("aq1") == F.col("j")), "left"
        )
        .join(
            cb, (F.col("bq0") == F.col("j")) & (F.col("bq1") == F.col("i")), "left"
        )
        .select(
            F.coalesce(F.col("cij"), F.lit(0)).alias("nij"),
            F.coalesce(F.col("cji"), F.lit(0)).alias("nji"),
        )
    )
    term = F.floor(
        F.lit(1e6)
        * (
            (F.col("nij") - F.col("nji")).cast("double")
            * (F.col("nij") - F.col("nji"))
            / (F.col("nij") + F.col("nji"))
        )
        + 0.5
    ).cast("bigint")
    terms = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("dof"),
        F.sum(F.when(F.col("nij") + F.col("nji") > 0, term).otherwise(0))
        .cast(_DEC)
        .alias("chi_e6"),
        F.sum(F.abs(F.col("nij") - F.col("nji"))).cast("bigint").alias(
            "total_asym"
        ),
    )
    return terms.select(
        F.col("dof").cast("int").alias("dof"),
        F.round(F.col("chi_e6").cast("double") / 1e6, 4).alias("bowker_chi2"),
        F.col("total_asym").alias("total_abs_asymmetry"),
    )
