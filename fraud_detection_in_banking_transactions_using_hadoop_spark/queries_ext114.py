"""Extension batch 114: ranking under uncertainty and network
formation -- the Wilson lower-bound sort, discrete power-law MLE on
co-purchase degrees, and a preferential-attachment check.

- wilson_lower_bound_ranking: sorting parts by raw non-return rate
  lets a 3-for-3 part beat a 195-of-200 one; the Wilson lower bound
  (the 'Reddit sort') prices the sample size in. Exact counts, one
  sqrt, deterministic e6-integer ordering.
- degree_powerlaw_mle: the discrete power-law exponent of the
  co-purchase degree distribution via the closed Clauset-Shalizi-
  Newman MLE alpha = 1 + n / sum ln(k/(kmin - 0.5)) -- e9-integer
  log terms, no fitting loop.
- preferential_attachment_check: 'rich get richer' predicts older
  parts accumulate more co-purchase partners; the exact-moment
  correlation between a part's debut date and its degree measures
  it (negative = earlier debut, higher degree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_WILSON_MIN_N = 20
_Z2 = 3.8415  # z(97.5%)^2 to 4 decimals, shared constant


# ---------------------------------------------------------------------------
# Wilson lower-bound ranking of parts by non-return rate.
# ---------------------------------------------------------------------------
q_wilson_lower_bound_ranking = register_sql(
    "wilson_lower_bound_ranking",
    f"""
    WITH per AS (
      SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag != 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM lineitem GROUP BY l_partkey HAVING count(*) >= {_WILSON_MIN_N}),
    wl AS (
      SELECT pk, n, k,
             CAST(floor(1e6 * ((CAST(k AS DOUBLE) / n + {_Z2} / (2.0 * n)
                    - sqrt({_Z2}) * sqrt((CAST(k AS DOUBLE) / n)
                        * (1.0 - CAST(k AS DOUBLE) / n) / n
                        + {_Z2} / (4.0 * CAST(n AS DOUBLE) * n)))
                   / (1.0 + {_Z2} / n)) + 0.5) AS BIGINT) AS lb_e6
      FROM per)
    SELECT CAST(pk AS BIGINT) AS partkey, n AS n_lines,
           round(CAST(k AS DOUBLE) / n, 6) AS raw_keep_rate,
           round(lb_e6 / 1e6, 6) AS wilson_lower_bound
    FROM wl ORDER BY lb_e6 DESC, pk LIMIT 10
    """,
    tags=("ranking", "uncertainty", "exact-arith"),
)


# ---------------------------------------------------------------------------
# Discrete power-law MLE on co-purchase degrees.
# ---------------------------------------------------------------------------
@register(
    "degree_powerlaw_mle",
    """
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (
      SELECT DISTINCT a.p AS x, b.p AS y
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
    deg AS (
      SELECT node, CAST(sum(d) AS BIGINT) AS k FROM (
        SELECT x AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY x
        UNION ALL
        SELECT y AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY y) u
      GROUP BY node),
    sel AS (SELECT k FROM deg WHERE k >= 2),
    mle AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(1e9 * ln(CAST(k AS DOUBLE) / 1.5) + 0.5)
                           AS BIGINT)) AS HUGEINT) AS slog,
             CAST(max(k) AS BIGINT) AS kmax
      FROM sel)
    SELECT n AS n_nodes_tail,
           kmax AS max_degree,
           round(1.0 + CAST(n AS DOUBLE)
                 / (CAST(slog AS DOUBLE) / 1e9), 4) AS alpha_mle,
           round(CAST(n AS DOUBLE)
                 / (CAST(slog AS DOUBLE) / 1e9)
                 / sqrt(CAST(n AS DOUBLE)), 4) AS alpha_se
    FROM mle
    """,
    tags=("graph", "power-law", "exact-arith"),
)
def q_degree_powerlaw_mle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clauset-Shalizi-Newman discrete MLE for the co-purchase degree
    tail (kmin = 2): alpha = 1 + n / sum ln(k/(kmin - 0.5)) with
    e9-integer log terms, and the asymptotic SE (alpha-1)/sqrt(n).
    Real co-purchase networks sit near alpha ~ 2-3; a flat alpha
    near 1 would say the basket graph is NOT scale-free and hub-based
    merchandising heuristics don't apply."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("x"), F.col("b.p").alias("y"))
        .distinct()
    )
    deg = (
        e.groupBy(F.col("x").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .unionByName(
            e.groupBy(F.col("y").alias("node")).agg(
                F.count(F.lit(1)).cast("bigint").alias("d")
            )
        )
        .groupBy("node")
        .agg(F.sum("d").cast("bigint").alias("k"))
    )
    sel = deg.where(F.col("k") >= 2)
    mle = sel.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.floor(
                F.lit(1e9) * F.log(F.col("k").cast("double") / 1.5) + 0.5
            ).cast("bigint")
        )
        .cast(_DEC)
        .alias("slog"),
        F.max("k").cast("bigint").alias("kmax"),
    )
    alpha_m1 = F.col("n").cast("double") / (F.col("slog").cast("double") / 1e9)
    return mle.select(
        F.col("n").alias("n_nodes_tail"),
        F.col("kmax").alias("max_degree"),
        F.round(1.0 + alpha_m1, 4).alias("alpha_mle"),
        F.round(alpha_m1 / F.sqrt(F.col("n").cast("double")), 4).alias(
            "alpha_se"
        ),
    )


# ---------------------------------------------------------------------------
# Preferential attachment: debut date vs degree correlation.
# ---------------------------------------------------------------------------
@register(
    "preferential_attachment_check",
    """
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (
      SELECT DISTINCT a.p AS x, b.p AS y
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
    deg AS (
      SELECT node, CAST(sum(d) AS BIGINT) AS k FROM (
        SELECT x AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY x
        UNION ALL
        SELECT y AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY y) u
      GROUP BY node),
    debut AS (
      SELECT l.l_partkey AS node,
             CAST(min(epoch(o.o_orderdate)) // 86400 AS BIGINT) AS d0
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY l.l_partkey),
    pts AS (
      SELECT d.k, b.d0 FROM deg d JOIN debut b ON d.node = b.node),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(k) AS HUGEINT) AS sk,
             CAST(sum(d0) AS HUGEINT) AS sd,
             CAST(sum(CAST(k AS HUGEINT) * d0) AS HUGEINT) AS skd,
             CAST(sum(CAST(k AS HUGEINT) * k) AS HUGEINT) AS skk,
             CAST(sum(CAST(d0 AS HUGEINT) * d0) AS HUGEINT) AS sdd
      FROM pts)
    SELECT n AS n_parts,
           round(CAST(n * skd - sk * sd AS DOUBLE)
                 / sqrt(CAST(n * skk - sk * sk AS DOUBLE)
                        * CAST(n * sdd - sd * sd AS DOUBLE)), 6) + 0.0
             AS debut_degree_corr,
           CASE WHEN CAST(n * skd - sk * sd AS DOUBLE) < 0
                THEN 'older-parts-richer' ELSE 'no-age-advantage' END
             AS verdict
    FROM mom
    """,
    tags=("graph", "formation", "exact-arith"),
)
def q_preferential_attachment_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preferential attachment's observable footprint: the Pearson
    correlation between a part's debut day (first order date, exact
    epoch-day integers) and its co-purchase degree, from exact
    integer moments. A clearly negative correlation (earlier debut,
    more partners) is the age advantage rich-get-richer dynamics
    predict -- and its absence would undercut any hub-based
    recommendation story built on this graph."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("x"), F.col("b.p").alias("y"))
        .distinct()
    )
    deg = (
        e.groupBy(F.col("x").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .unionByName(
            e.groupBy(F.col("y").alias("node")).agg(
                F.count(F.lit(1)).cast("bigint").alias("d")
            )
        )
        .groupBy("node")
        .agg(F.sum("d").cast("bigint").alias("k"))
    )
    lif = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    debut = (
        lif.join(o, lif.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_partkey").alias("node"))
        .agg(
            F.expr(
                "CAST(min(unix_date(CAST(o_orderdate AS DATE))) AS BIGINT)"
            ).alias("d0")
        )
    )
    pts = deg.join(debut, "node").select("k", "d0")
    dd = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    mom = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast(_DEC).alias("sk"),
        F.sum("d0").cast(_DEC).alias("sd"),
        F.sum(dd("k") * dd("d0")).cast(_DEC).alias("skd"),
        F.sum(dd("k") * dd("k")).cast(_DEC).alias("skk"),
        F.sum(dd("d0") * dd("d0")).cast(_DEC).alias("sdd"),
    )
    nd = F.col("n").cast(_DEC)
    num = (nd * F.col("skd") - F.col("sk") * F.col("sd")).cast("double")
    corr = num / F.sqrt(
        (nd * F.col("skk") - F.col("sk") * F.col("sk")).cast("double")
        * (nd * F.col("sdd") - F.col("sd") * F.col("sd")).cast("double")
    )
    return mom.select(
        F.col("n").alias("n_parts"),
        (F.round(corr, 6) + 0.0).alias("debut_degree_corr"),
        F.when(num < 0, F.lit("older-parts-richer"))
        .otherwise(F.lit("no-age-advantage"))
        .alias("verdict"),
    )
