"""Extension batch 72: two-way fixed-effects within estimator,
t-closeness privacy audit, and Spiegelhalter's calibration Z.

Scale notes (the 100 TB story per query):
- twoway_fe_within: the panel-econometrics workhorse -- the effect of
  discount on line revenue WITH part and order-month fixed effects,
  estimated by double demeaning (y - ybar_part - ybar_month + ybar).
  Group means derive from exact integer sums (identical doubles both
  engines); each demeaned cross term rounds to an e6 integer before
  the order-free sums, so the closing slope division sees identical
  numerators. Two broadcast-joined group-mean dims + one aggregate.
- t_closeness_audit completes the k-anonymity / l-diversity privacy
  trio: per (nation, segment) equivalence class, the earth-mover
  distance between the class's order-priority distribution (ordered,
  5 values) and the global one, computed EXACTLY by cross-multiplied
  cumulative counts (|cum_c * N - cum_g * n| summed over the 4 cuts,
  // by n*N*(m-1)); classes exceeding t = 0.2 are flagged.
- spiegelhalter_z tests calibration-in-the-small on the same
  train/eval split as ece_reliability: Z = sum((y-p)(1-2p)) /
  sqrt(sum((1-2p)^2 p (1-p))), closed per value-band from exact
  integer counts with e9-int terms. A |Z| > 2 says the fitted rates
  are systematically mis-calibrated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_T_CLOSE = 0.2


# ---------------------------------------------------------------------------
# Two-way fixed effects (within estimator).
# ---------------------------------------------------------------------------
@register(
    "twoway_fe_within",
    """
    WITH base AS (
      SELECT l.l_partkey AS pk,
             CAST(date_part('year', o.o_orderdate) * 12
                  + date_part('month', o.o_orderdate) AS BIGINT) AS mth,
             CAST(round(l.l_discount * 100, 0) AS BIGINT) AS x_pct,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                  AS BIGINT) AS y_cents
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    gp AS (SELECT pk, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x_pct) AS HUGEINT) AS sx,
                  CAST(sum(y_cents) AS HUGEINT) AS sy
           FROM base GROUP BY pk),
    gm AS (SELECT mth, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x_pct) AS HUGEINT) AS sx,
                  CAST(sum(y_cents) AS HUGEINT) AS sy
           FROM base GROUP BY mth),
    gt AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x_pct) AS HUGEINT) AS sx,
                  CAST(sum(y_cents) AS HUGEINT) AS sy
           FROM base),
    dem AS (
      SELECT
        b.x_pct - CAST(p.sx AS DOUBLE) / p.n - CAST(m.sx AS DOUBLE) / m.n
          + CAST(t.sx AS DOUBLE) / t.n AS xd,
        b.y_cents - CAST(p.sy AS DOUBLE) / p.n - CAST(m.sy AS DOUBLE) / m.n
          + CAST(t.sy AS DOUBLE) / t.n AS yd
      FROM base b
      JOIN gp p ON p.pk = b.pk
      JOIN gm m ON m.mth = b.mth
      CROSS JOIN gt t),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(1e6 * xd * yd, 0) AS HUGEINT)) AS HUGEINT)
               AS sxy_e6,
             CAST(sum(CAST(round(1e6 * xd * xd, 0) AS HUGEINT)) AS HUGEINT)
               AS sxx_e6
      FROM dem)
    SELECT n AS n_lines,
           round(CAST(sxy_e6 AS DOUBLE) / CAST(sxx_e6 AS DOUBLE), 6)
             AS fe_slope_cents_per_pct
    FROM sums
    """,
    tags=("econ", "panel", "exact-arith"),
)
def q_twoway_fe_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within estimator: revenue-per-line on discount percent, with
    part and order-month fixed effects removed by double demeaning.
    Group means come from exact HUGEINT sums (so the demeaned doubles
    are identical cross-engine); each cross term rounds to an e6
    integer before the order-free sums. Plan: two grouped dims joined
    back (part means shuffle-join, month means broadcast -- ~80 rows),
    one closing aggregate."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    base = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_partkey").alias("pk"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint").alias("mth"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("x_pct"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
        .cast("bigint")
        .alias("y_cents"),
    )

    def means(df, key):
        return df.groupBy(key).agg(
            F.count(F.lit(1)).cast("bigint").alias(f"n_{key}"),
            F.sum("x_pct").cast(_DEC).alias(f"sx_{key}"),
            F.sum("y_cents").cast(_DEC).alias(f"sy_{key}"),
        )

    gp = means(base, "pk")
    gm = means(base, "mth")
    gt = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_t"),
        F.sum("x_pct").cast(_DEC).alias("sx_t"),
        F.sum("y_cents").cast(_DEC).alias("sy_t"),
    )
    dem = (
        base.join(gp, "pk")
        .join(F.broadcast(gm), "mth")
        .crossJoin(F.broadcast(gt))
        .select(
            (
                F.col("x_pct")
                - F.col("sx_pk").cast("double") / F.col("n_pk")
                - F.col("sx_mth").cast("double") / F.col("n_mth")
                + F.col("sx_t").cast("double") / F.col("n_t")
            ).alias("xd"),
            (
                F.col("y_cents")
                - F.col("sy_pk").cast("double") / F.col("n_pk")
                - F.col("sy_mth").cast("double") / F.col("n_mth")
                + F.col("sy_t").cast("double") / F.col("n_t")
            ).alias("yd"),
        )
    )
    sums = dem.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.lit(1e6) * F.col("xd") * F.col("yd"), 0).cast(_DEC))
        .cast(_DEC)
        .alias("sxy_e6"),
        F.sum(F.round(F.lit(1e6) * F.col("xd") * F.col("xd"), 0).cast(_DEC))
        .cast(_DEC)
        .alias("sxx_e6"),
    )
    return sums.select(
        F.col("n").alias("n_lines"),
        F.round(
            F.col("sxy_e6").cast("double") / F.col("sxx_e6").cast("double"), 6
        ).alias("fe_slope_cents_per_pct"),
    )


# ---------------------------------------------------------------------------
# t-closeness audit over (nation, segment) equivalence classes.
# ---------------------------------------------------------------------------
@register(
    "t_closeness_audit",
    f"""
    WITH base AS (
      SELECT c.c_nationkey AS nation, c.c_mktsegment AS seg,
             CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS prio
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    cls AS (
      SELECT nation, seg, CAST(count(*) AS BIGINT) AS nc,
             CAST(sum(CASE WHEN prio <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
             CAST(sum(CASE WHEN prio <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
             CAST(sum(CASE WHEN prio <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS a3,
             CAST(sum(CASE WHEN prio <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS a4
      FROM base GROUP BY nation, seg),
    gdist AS (
      SELECT CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(CASE WHEN prio <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS g1,
             CAST(sum(CASE WHEN prio <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS g2,
             CAST(sum(CASE WHEN prio <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS g3,
             CAST(sum(CASE WHEN prio <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS g4
      FROM base),
    emd AS (
      SELECT c.nation, c.seg, c.nc,
             CAST(abs(CAST(c.a1 AS HUGEINT) * g.ng - CAST(g.g1 AS HUGEINT) * c.nc)
                + abs(CAST(c.a2 AS HUGEINT) * g.ng - CAST(g.g2 AS HUGEINT) * c.nc)
                + abs(CAST(c.a3 AS HUGEINT) * g.ng - CAST(g.g3 AS HUGEINT) * c.nc)
                + abs(CAST(c.a4 AS HUGEINT) * g.ng - CAST(g.g4 AS HUGEINT) * c.nc)
                AS HUGEINT) AS num,
             g.ng
      FROM cls c CROSS JOIN gdist g)
    SELECT CAST(nation AS BIGINT) AS nation, seg,
           nc AS n_class,
           CAST((1000000 * num) // (CAST(nc AS HUGEINT) * ng * 4) AS BIGINT)
             AS emd_ppm,
           CASE WHEN CAST((1000000 * num) // (CAST(nc AS HUGEINT) * ng * 4)
                     AS BIGINT) > {int(_T_CLOSE * 1000000)}
                THEN 1 ELSE 0 END AS violates_t
    FROM emd
    """,
    tags=("privacy", "t-closeness", "exact-arith"),
)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness for the ordered order-priority attribute: per
    (nation, segment) equivalence class, EMD to the global distribution
    = mean |cumulative gap| over the 4 interior cuts, computed DENSELY
    as conditional sums (a class missing a priority value still
    contributes that cut -- the first windowed formulation skipped
    absent cuts and understated the EMD; both engines shared the bug
    until the literal re-derivation caught it). All exact
    cross-multiplied integers; classes with EMD > t = 0.2 flagged."""
    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    base = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("prio"),
    )

    def cuts(prefix):
        return [
            F.sum(F.when(F.col("prio") <= p, 1).otherwise(0))
            .cast("bigint")
            .alias(f"{prefix}{p}")
            for p in range(1, 5)
        ]

    cls = base.groupBy("nation", "seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("nc"), *cuts("a")
    )
    gdist = base.agg(F.count(F.lit(1)).cast("bigint").alias("ng"), *cuts("g"))
    num = sum(
        F.abs(
            F.col(f"a{p}").cast(_DEC) * F.col("ng")
            - F.col(f"g{p}").cast(_DEC) * F.col("nc")
        )
        for p in range(1, 5)
    )
    emd = cls.crossJoin(F.broadcast(gdist)).select(
        F.col("nation").cast("bigint").alias("nation"),
        "seg",
        F.col("nc").alias("n_class"),
        num.cast(_DEC).alias("num"),
        "ng",
    )
    emd_ppm = F.expr(
        "CAST((1000000 * num) DIV (CAST(n_class AS DECIMAL(38,0)) * ng * 4)"
        " AS BIGINT)"
    )
    return emd.select(
        "nation",
        "seg",
        "n_class",
        emd_ppm.alias("emd_ppm"),
        F.when(emd_ppm > int(_T_CLOSE * 1000000), 1).otherwise(0).alias("violates_t"),
    )


# ---------------------------------------------------------------------------
# Spiegelhalter's Z calibration test.
# ---------------------------------------------------------------------------
q_spiegelhalter_z = register_sql(
    "spiegelhalter_z",
    """
    WITH binned AS (
      SELECT least(CAST(floor(value / 20.0) AS BIGINT), 12) AS bin,
             CAST(event_id % 2 AS INTEGER) AS half,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    per AS (
      SELECT bin,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tr,
             CAST(sum(CASE WHEN half = 0 THEN y ELSE 0 END) AS BIGINT) AS k_tr,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ev,
             CAST(sum(CASE WHEN half = 1 THEN y ELSE 0 END) AS BIGINT) AS k_ev
      FROM binned GROUP BY bin
      HAVING sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) > 0
         AND sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) > 0),
    terms AS (
      SELECT bin,
             CAST(round(1e9 * (k_ev - CAST(n_ev AS DOUBLE) * k_tr / n_tr)
                        * (1 - 2.0 * k_tr / n_tr), 0) AS BIGINT) AS num_e9,
             CAST(round(1e9 * n_ev * pow(1 - 2.0 * k_tr / n_tr, 2)
                        * (CAST(k_tr AS DOUBLE) / n_tr)
                        * (1 - CAST(k_tr AS DOUBLE) / n_tr), 0) AS BIGINT)
               AS den_e9
      FROM per)
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           round(CAST(sum(num_e9) AS DOUBLE) / 1e9
                 / sqrt(CAST(sum(den_e9) AS DOUBLE) / 1e9), 6) + 0.0
             AS spiegelhalter_z
    FROM terms
    """,
    tags=("ml", "calibration", "exact-arith"),
)
