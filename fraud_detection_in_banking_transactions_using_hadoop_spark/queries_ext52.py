"""Extension batch 52: Wilson score intervals, intraclass
correlation, and Church-Gale token burstiness.

Scale notes (the 100 TB story per query):
- wilson_score_ci replaces the textbook Wald interval (which
  collapses at extreme rates) with the Wilson score interval for each
  event type's high-value share: exact (k, n) integers from one
  groupBy, the closed-form center/half-width as one deterministic
  double expression. The CI a rate dashboard should actually draw.
- icc_segments is the one-way random-effects intraclass correlation:
  how much of order-value variance lives BETWEEN customer segments?
  Reuses the exact integer (n, sum, sum-sq) moment machinery of the
  ANOVA (whole-dollar units keep every term under 2^53), with the
  unequal-group-size n0 correction -- the clustering-strength number
  that decides whether segment-level modeling is worth it.
- token_burstiness is Church & Gale's adaptation measure: for the top
  tokens, P(2+ occurrences in a doc | 1+) -- bursty words reappear
  once they appear, function words don't. Exact document-frequency
  integers from one (token, doc) groupBy; burstiness in ppm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_Z = 1.959964
_CENTS = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"


# ---------------------------------------------------------------------------
# Wilson score interval per event type.
# ---------------------------------------------------------------------------
q_wilson_score_ci = register_sql(
    "wilson_score_ci",
    f"""
    WITH per AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > 150 THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM events GROUP BY event_type
    )
    SELECT event_type, n, k,
           round(CAST(k AS DOUBLE) / n, 6) AS p_hat,
           round((CAST(k AS DOUBLE) / n + {_Z} * {_Z} / (2 * n))
                 / (1 + {_Z} * {_Z} / n)
                 - {_Z} * sqrt((CAST(k AS DOUBLE) / n)
                               * (1 - CAST(k AS DOUBLE) / n) / n
                               + {_Z} * {_Z} / (4.0 * n * n))
                   / (1 + {_Z} * {_Z} / n), 6) AS lo,
           round((CAST(k AS DOUBLE) / n + {_Z} * {_Z} / (2 * n))
                 / (1 + {_Z} * {_Z} / n)
                 + {_Z} * sqrt((CAST(k AS DOUBLE) / n)
                               * (1 - CAST(k AS DOUBLE) / n) / n
                               + {_Z} * {_Z} / (4.0 * n * n))
                   / (1 + {_Z} * {_Z} / n), 6) AS hi
    FROM per
    """,
    tags=("stats", "ci", "proportion"),
)


# ---------------------------------------------------------------------------
# Intraclass correlation of order value across customer segments.
# ---------------------------------------------------------------------------
@register(
    "icc_segments",
    f"""
    WITH x AS (
      SELECT c.c_mktsegment AS seg, {_CENTS} // 100 AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s,
             CAST(sum(v * v) AS BIGINT) AS q
      FROM x GROUP BY seg
    ),
    terms AS (
      SELECT n, s,
             CAST(round(CAST(s AS DOUBLE) * s / n, 0) AS BIGINT) AS wb,
             CAST(round(CAST(q AS DOUBLE)
                        - CAST(s AS DOUBLE) * s / n, 0) AS BIGINT) AS ww,
             CAST(n AS BIGINT) * n AS n2
      FROM g
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s) AS BIGINT) AS ss,
             CAST(count(*) AS BIGINT) AS kk,
             CAST(sum(wb) AS BIGINT) AS b_sum, CAST(sum(ww) AS BIGINT) AS w_sum,
             CAST(sum(n2) AS BIGINT) AS sn2
      FROM terms
    )
    SELECT nn AS n_total, kk AS n_groups,
           round((CAST(b_sum - CAST(round(CAST(ss AS DOUBLE) * ss / nn, 0)
                                    AS BIGINT) AS DOUBLE) / (kk - 1)
                  - CAST(w_sum AS DOUBLE) / (nn - kk))
                 / (CAST(b_sum - CAST(round(CAST(ss AS DOUBLE) * ss / nn, 0)
                                      AS BIGINT) AS DOUBLE) / (kk - 1)
                    + ((CAST(nn AS DOUBLE)
                        - CAST(sn2 AS DOUBLE) / nn) / (kk - 1) - 1)
                      * CAST(w_sum AS DOUBLE) / (nn - kk)), 6) AS icc
    FROM tot
    """,
    tags=("stats", "icc", "variance-components"),
)
def q_icc_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICC(1) = (MSB - MSW)/(MSB + (n0 - 1) MSW) with the unequal-size
    n0 = (N - sum(n_i^2)/N)/(k-1): the whole-dollar ANOVA moment
    machinery (per-group terms rounded to BIGINT before the order-free
    sums) plus one extra exact integer (sum of squared group sizes).
    Near 0 = segments don't cluster order value."""
    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    x = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), F.expr(f"{_CENTS} DIV 100").alias("v")
    )
    g = x.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("q"),
    )
    s_d = F.col("s").cast("double")
    terms = g.select(
        "n",
        "s",
        F.round(s_d * F.col("s") / F.col("n"), 0).cast("bigint").alias("wb"),
        F.round(F.col("q").cast("double") - s_d * F.col("s") / F.col("n"), 0)
        .cast("bigint")
        .alias("ww"),
        (F.col("n") * F.col("n")).alias("n2"),
    )
    tot = terms.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("s").cast("bigint").alias("ss"),
        F.count(F.lit(1)).cast("bigint").alias("kk"),
        F.sum("wb").cast("bigint").alias("b_sum"),
        F.sum("ww").cast("bigint").alias("w_sum"),
        F.sum("n2").cast("bigint").alias("sn2"),
    )
    grand = F.round(F.col("ss").cast("double") * F.col("ss") / F.col("nn"), 0).cast(
        "bigint"
    )
    msb = (F.col("b_sum") - grand).cast("double") / (F.col("kk") - 1)
    msw = F.col("w_sum").cast("double") / (F.col("nn") - F.col("kk"))
    n0 = (
        F.col("nn").cast("double") - F.col("sn2").cast("double") / F.col("nn")
    ) / (F.col("kk") - 1)
    return tot.select(
        F.col("nn").alias("n_total"),
        F.col("kk").alias("n_groups"),
        F.round((msb - msw) / (msb + (n0 - 1) * msw), 6).alias("icc"),
    )


# ---------------------------------------------------------------------------
# Church-Gale burstiness of the top-20 tokens.
# ---------------------------------------------------------------------------
@register(
    "token_burstiness",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    per AS (
      SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS occ
      FROM toks GROUP BY tok, doc_id
    ),
    top AS (
      SELECT tok FROM per GROUP BY tok
      ORDER BY sum(occ) DESC, tok LIMIT 20
    )
    SELECT p.tok,
           CAST(count(*) AS BIGINT) AS df1,
           CAST(sum(CASE WHEN p.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
           CAST(sum(p.occ) AS BIGINT) AS total_occ,
           CAST((1000000 * sum(CASE WHEN p.occ >= 2 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS burstiness_ppm,
           CAST((1000 * sum(p.occ)) // count(*) AS BIGINT)
             AS mean_occ_e3
    FROM per p JOIN top ON p.tok = top.tok
    GROUP BY p.tok
    """,
    tags=("text", "burstiness", "lexical"),
)
def q_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(2+ occurrences | 1+) per top token: bursty content words
    reappear within a document once they appear, function words
    spread thin. Document frequencies from one (token, doc) groupBy;
    burstiness and mean occurrences in exact fixed-point."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    per = toks.groupBy("tok", "doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("occ"))
    top = (
        per.groupBy("tok")
        .agg(F.sum("occ").alias("t"))
        .orderBy(F.col("t").desc(), "tok")
        .limit(20)
        .select("tok")
    )
    return (
        per.join(F.broadcast(top), "tok")
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df1"),
            F.sum(F.when(F.col("occ") >= 2, 1).otherwise(0)).cast("bigint").alias("df2"),
            F.sum("occ").cast("bigint").alias("total_occ"),
            F.expr(
                "CAST((1000000 * sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END))"
                " DIV count(*) AS BIGINT)"
            ).alias("burstiness_ppm"),
            F.expr("CAST((1000 * sum(occ)) DIV count(*) AS BIGINT)").alias(
                "mean_occ_e3"
            ),
        )
    )
