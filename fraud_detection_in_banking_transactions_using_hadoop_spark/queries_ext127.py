"""Extension batch 127 (round 6): frequency-domain and alignment
analytics -- spectral entropy of the daily revenue series and dynamic
time warping between year-over-year weekday profiles.

Scale notes (the 100 TB story):
- spectral_entropy_daily follows the goertzel pattern: per-day
  cos/sin product terms round to e-3-of-cents integers (trig 1-ulp
  noise is ~1e-8 of the term, far under the grain), powers close as
  exact integer sums per frequency, and the entropy folds e9-integer
  p*ln(p) terms of exact rationals. K=12 chosen frequencies, one
  bounded-spine aggregate each -- never a full FFT shuffle.
- dtw_weekday_profiles runs the DP over a BOUNDED 7x7 cost grid: the
  Spark side is an Arrow-batched mapInPandas over (series_a,
  series_b) array pairs -- the shape that scales to millions of
  per-key series alignments -- while the oracle unrolls the same
  integer DP as 13 anti-diagonal CTEs. Integer cents end-to-end, so
  the min-recursion is engine-exact.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import _PI
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_K_FREQ = 12
_DTW_N = 7


@register(
    "spectral_entropy_daily",
    f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY o_orderdate),
    idx AS (
      SELECT CAST(date_diff('day', (SELECT min(d) FROM daily), d) AS BIGINT)
               AS t, y
      FROM daily),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
    terms AS (
      SELECT k.k,
             CAST(sum(CAST(round(0.001 * y * cos(2 * {_PI} * k.k * t / nn.n), 0)
                  AS BIGINT)) AS HUGEINT) AS sc,
             CAST(sum(CAST(round(0.001 * y * sin(2 * {_PI} * k.k * t / nn.n), 0)
                  AS BIGINT)) AS HUGEINT) AS ss
      FROM idx CROSS JOIN nn
      CROSS JOIN (SELECT unnest(range(1, {_K_FREQ + 1})) AS k) k
      GROUP BY k.k),
    pw AS (
      SELECT k, sc * sc + ss * ss AS p FROM terms),
    tot AS (SELECT CAST(sum(p) AS HUGEINT) AS sp FROM pw),
    ent AS (
      SELECT CAST(sum(CASE WHEN p = 0 THEN 0
                  ELSE CAST(round(-1000000000.0 * (CAST(p AS DOUBLE) / t.sp)
                            * ln(CAST(p AS DOUBLE) / t.sp), 0) AS BIGINT)
                  END) AS BIGINT) AS h_e9
      FROM pw CROSS JOIN tot t),
    dom AS (
      SELECT k AS dominant_k FROM pw ORDER BY p DESC, k LIMIT 1)
    SELECT (SELECT n FROM nn) AS n_days,
           CAST({_K_FREQ} AS BIGINT) AS n_freqs,
           (SELECT CAST(dominant_k AS BIGINT) FROM dom) AS dominant_k,
           round(e.h_e9 / 1000000000.0, 6) AS spectral_entropy,
           round(e.h_e9 / 1000000000.0 / ln({_K_FREQ}.0), 6)
             AS normalized_entropy
    FROM ent e
    """,
    tags=("timeseries", "spectral", "exact-arith"),
)
def q_spectral_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral entropy of daily revenue over K=12 DFT frequencies:
    low entropy = power concentrated at few frequencies (strong
    cycles), high = white-noise-like. Goertzel-style projections with
    e-3-of-cents integer terms make each power an exact integer; the
    Shannon entropy folds e9-integer p*ln(p) terms; dominant_k is an
    exact-integer argmax (doubles as the periodogram peak)."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    mind = daily.agg(F.min("d").alias("d0"))
    idx = daily.crossJoin(F.broadcast(mind)).select(
        F.datediff("d", "d0").cast("bigint").alias("t"), "y"
    )
    nn = idx.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ks = spark.range(1, _K_FREQ + 1).select(F.col("id").cast("int").alias("k"))
    dec = "decimal(38,0)"
    arg = 2 * _PI * F.col("k") * F.col("t") / F.col("n")
    terms = (
        idx.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(
                F.round(F.lit(0.001) * F.col("y") * F.cos(arg), 0).cast("bigint")
            )
            .cast(dec)
            .alias("sc"),
            F.sum(
                F.round(F.lit(0.001) * F.col("y") * F.sin(arg), 0).cast("bigint")
            )
            .cast(dec)
            .alias("ss"),
        )
    )
    pw = terms.select(
        "k", (F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")).alias("p")
    )
    tot = pw.agg(F.sum("p").cast(dec).alias("sp"))
    pr = F.col("p").cast("double") / F.col("sp").cast("double")
    ent = (
        pw.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.when(F.col("p") == 0, F.lit(0).cast("bigint")).otherwise(
                    F.round(F.lit(-1000000000.0) * pr * F.log(pr), 0).cast(
                        "bigint"
                    )
                )
            )
            .cast("bigint")
            .alias("h_e9")
        )
    )
    dom = pw.orderBy(F.col("p").desc(), "k").limit(1).select(
        F.col("k").cast("bigint").alias("dominant_k")
    )
    return (
        ent.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(dom))
        .select(
            F.col("n").alias("n_days"),
            F.lit(_K_FREQ).cast("bigint").alias("n_freqs"),
            "dominant_k",
            F.round(F.col("h_e9") / 1000000000.0, 6).alias("spectral_entropy"),
            F.round(
                F.col("h_e9") / 1000000000.0 / math.log(_K_FREQ), 6
            ).alias("normalized_entropy"),
        )
    )


def _dtw_sql() -> str:
    n = _DTW_N
    parts = [
        f"""
    cells AS MATERIALIZED (
      SELECT a.dow + 1 AS i, b.dow + 1 AS j, abs(a.v - b.v) AS cost
      FROM prof_a a CROSS JOIN prof_b b)""",
        "dp2 AS MATERIALIZED (SELECT i, j, cost AS d FROM cells WHERE i = 1 AND j = 1)",
    ]
    for k in range(3, 2 * n + 1):
        prevs = []
        joins = [
            f"LEFT JOIN dp{k - 1} pl ON pl.i = c.i - 1 AND pl.j = c.j",
            f"LEFT JOIN dp{k - 1} pu ON pu.i = c.i AND pu.j = c.j - 1",
        ]
        mins = ["pl.d", "pu.d"]
        if k >= 4:
            joins.append(
                f"LEFT JOIN dp{k - 2} pd ON pd.i = c.i - 1 AND pd.j = c.j - 1"
            )
            mins.append("pd.d")
        parts.append(f"""
    dp{k} AS MATERIALIZED (
      SELECT c.i, c.j, c.cost + least({', '.join(mins)}) AS d
      FROM cells c
      {' '.join(joins)}
      WHERE c.i + c.j = {k} AND least({', '.join(mins)}) IS NOT NULL)""")
    return ",\n".join(parts)


@register(
    "dtw_weekday_profiles",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(date_part('year', o_orderdate) AS INTEGER) AS yr,
             CAST(date_diff('day', DATE '1992-01-06',
                  CAST(o_orderdate AS DATE)) % 7 AS INTEGER) AS dow,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2, 3),
    anchor AS (SELECT max(yr) - 1 AS y1 FROM daily),
    prof_a AS (
      SELECT dow, CAST(sum(cents) // count(*) AS BIGINT) AS v
      FROM daily CROSS JOIN anchor WHERE yr = y1 GROUP BY dow),
    prof_b AS (
      SELECT dow, CAST(sum(cents) // count(*) AS BIGINT) AS v
      FROM daily CROSS JOIN anchor WHERE yr = y1 - 1 GROUP BY dow),
    {_dtw_sql()},
    l1 AS (
      SELECT CAST(sum(abs(a.v - b.v)) AS BIGINT) AS l1_cents
      FROM prof_a a JOIN prof_b b ON b.dow = a.dow)
    SELECT (SELECT CAST(y1 AS BIGINT) FROM anchor) AS year_a,
           round((SELECT d FROM dp{2 * _DTW_N} ) / 100.0, 2) AS dtw_dollars,
           round((SELECT l1_cents FROM l1) / 100.0, 2) AS l1_dollars,
           round(((SELECT l1_cents FROM l1) - (SELECT d FROM dp{2 * _DTW_N}))
                 / 100.0, 2) AS alignment_gain_dollars
    """,
    tags=("timeseries", "alignment", "dtw"),
)
def q_dtw_weekday_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic time warping between last year's and the prior year's
    mean weekday-revenue profiles (7-point integer sequences,
    Monday-anchored engine-identical dow): DTW cost with unit steps,
    plus the unaligned L1 distance -- the alignment gain says whether
    the weekly SHAPE shifted phase year over year or genuinely
    changed. Spark runs the integer DP in ONE Arrow-batched
    mapInPandas over the (series_a, series_b) array pair -- the
    per-key shape that scales to millions of series alignments --
    while the oracle unrolls the same DP as 13 anti-diagonal CTEs
    (least() ignoring NULLs gives the edge cases for free)."""
    from pyspark.sql import types as T

    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").alias("d"),
        F.year("o_orderdate").alias("yr"),
        (F.datediff("o_orderdate", F.lit("1992-01-06").cast("date")) % 7)
        .cast("int")
        .alias("dow"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    anchor = daily.agg((F.max("yr") - 1).alias("y1"))
    da = daily.crossJoin(F.broadcast(anchor))

    def prof(cond):
        return (
            da.where(cond)
            .groupBy("dow")
            .agg(
                F.expr("CAST(sum(cents) DIV count(*) AS BIGINT)").alias("v")
            )
            .groupBy()
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dow", "v"))
                ).alias("sv")
            )
            .select(F.transform("sv", lambda s: s["v"]).alias("vals"))
        )

    pa = prof(F.col("yr") == F.col("y1")).select(F.col("vals").alias("va"))
    pb = prof(F.col("yr") == F.col("y1") - 1).select(F.col("vals").alias("vb"))
    pair = pa.crossJoin(F.broadcast(pb))

    out_schema = T.StructType(
        [
            T.StructField("dtw_cents", T.LongType()),
            T.StructField("l1_cents", T.LongType()),
        ]
    )

    def dp(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            outs = {"dtw_cents": [], "l1_cents": []}
            for va, vb in zip(pdf["va"], pdf["vb"]):
                a = np.asarray(va, dtype=np.int64)
                b = np.asarray(vb, dtype=np.int64)
                n, m = len(a), len(b)
                big = np.iinfo(np.int64).max // 4
                d = np.full((n + 1, m + 1), big, dtype=np.int64)
                d[0, 0] = 0
                for i in range(1, n + 1):
                    for j in range(1, m + 1):
                        c = abs(int(a[i - 1]) - int(b[j - 1]))
                        d[i, j] = c + min(
                            d[i - 1, j], d[i, j - 1], d[i - 1, j - 1]
                        )
                outs["dtw_cents"].append(int(d[n, m]))
                outs["l1_cents"].append(int(np.abs(a - b).sum()))
            yield pd.DataFrame(outs)

    res = pair.mapInPandas(dp, schema=out_schema)
    ya = anchor.select(F.col("y1").cast("bigint").alias("year_a"))
    return res.crossJoin(F.broadcast(ya)).select(
        "year_a",
        F.round(F.col("dtw_cents") / 100.0, 2).alias("dtw_dollars"),
        F.round(F.col("l1_cents") / 100.0, 2).alias("l1_dollars"),
        F.round((F.col("l1_cents") - F.col("dtw_cents")) / 100.0, 2).alias(
            "alignment_gain_dollars"
        ),
    )
