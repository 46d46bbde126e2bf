"""Extension batch 117 (round 6): agreement metrics -- Matthews
correlation for binary classifiers, and the pair-counting clustering
agreement pair (Adjusted Rand, Fowlkes-Mallows) between two customer
partitions.

Scale notes (the 100 TB story):
- matthews_corr is one conditional-aggregation pass to the four exact
  2x2 cells; MCC closes over integers with a single sqrt. The sqrt
  argument multiplies four ~N/2-sized marginals, so it is computed in
  doubles with engine-identical order (exact products would need
  Int256 at petabyte N for no accuracy gain at round(6)).
- adjusted_rand_index / fowlkes_mallows run ONE groupBy to the
  |nations| x |segments| contingency table (125 cells -- constant in
  data size) plus its two marginal roll-ups; every C(n,2) pair count
  is an exact integer via n*(n-1) DIV 2. Pair-counting agreement over
  billions of rows costs exactly one small-keyed aggregation -- this
  is the scalable form of "compare two clusterings" (never materialize
  pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_THRESH = 150000  # dollars: "predicted returned" = order total above this


# ---------------------------------------------------------------------------
# Matthews correlation coefficient of the price-threshold return
# predictor (same label join as decision_stump_split).
# ---------------------------------------------------------------------------
q_matthews_corr = register_sql(
    "matthews_corr",
    f"""
    WITH lab AS (
      SELECT CASE WHEN o.o_totalprice > {_THRESH} THEN 1 ELSE 0 END AS pred,
             CASE WHEN r.l_orderkey IS NULL THEN 0 ELSE 1 END AS y
      FROM orders o
      LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem
                 WHERE l_returnflag = 'R') r
        ON o.o_orderkey = r.l_orderkey),
    cells AS (
      SELECT CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM lab)
    SELECT tp, fp, fn, tn,
           round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                 / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
                        * (tn + fp) * (tn + fn)), 6) AS mcc,
           round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy,
           round(0.5 * (CAST(tp AS DOUBLE) / (tp + fn)
                        + CAST(tn AS DOUBLE) / (tn + fp)), 6)
             AS balanced_accuracy
    FROM cells
    """,
    tags=("ml", "evaluation", "exact-arith"),
)


# ---------------------------------------------------------------------------
# Pair-counting clustering agreement: nation partition vs segment
# partition of customers.
# ---------------------------------------------------------------------------
_PAIR_CTES = """
    cont AS (
      SELECT c_nationkey AS a, c_mktsegment AS b,
             CAST(count(*) AS BIGINT) AS nij
      FROM customer GROUP BY c_nationkey, c_mktsegment),
    sums AS (
      SELECT CAST(sum(nij * (nij - 1) // 2) AS BIGINT) AS s_cells,
             CAST(sum(nij) AS BIGINT) AS n
      FROM cont),
    ra AS (
      SELECT CAST(sum(ai * (ai - 1) // 2) AS BIGINT) AS s_rows
      FROM (SELECT CAST(sum(nij) AS BIGINT) AS ai FROM cont GROUP BY a)),
    rb AS (
      SELECT CAST(sum(bj * (bj - 1) // 2) AS BIGINT) AS s_cols
      FROM (SELECT CAST(sum(nij) AS BIGINT) AS bj FROM cont GROUP BY b))"""


@register(
    "adjusted_rand_index",
    f"""
    WITH {_PAIR_CTES}
    SELECT s.n, s.s_cells AS pairs_both, ra.s_rows AS pairs_nation,
           rb.s_cols AS pairs_segment,
           round((CAST(s.s_cells AS DOUBLE)
                  - CAST(ra.s_rows AS DOUBLE) * rb.s_cols
                    / (CAST(s.n AS DOUBLE) * (s.n - 1) / 2))
                 / (0.5 * (CAST(ra.s_rows AS DOUBLE) + rb.s_cols)
                    - CAST(ra.s_rows AS DOUBLE) * rb.s_cols
                      / (CAST(s.n AS DOUBLE) * (s.n - 1) / 2)), 6) AS ari
    FROM sums s CROSS JOIN ra CROSS JOIN rb
    """,
    tags=("ml", "clustering", "agreement"),
)
def q_adjusted_rand_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index between the nation partition and the market-
    segment partition of customers: pair-counting agreement corrected
    for chance (Hubert-Arabie). All pair counts C(n,2) are exact
    integers off the 125-cell contingency table; near-zero ARI here is
    the expected answer (the partitions are independent by
    construction) -- the query is the operator template, not the
    finding."""
    cust = read_table(spark, sf_dir, "customer")
    cont = cust.groupBy(
        F.col("c_nationkey").alias("a"), F.col("c_mktsegment").alias("b")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("nij"))

    def pairs(c):
        return F.sum(F.expr(f"CAST({c} * ({c} - 1) DIV 2 AS BIGINT)")).cast("bigint")

    sums = cont.agg(
        pairs("nij").alias("s_cells"), F.sum("nij").cast("bigint").alias("n")
    )
    ra = (
        cont.groupBy("a").agg(F.sum("nij").cast("bigint").alias("ai"))
        .agg(pairs("ai").alias("s_rows"))
    )
    rb = (
        cont.groupBy("b").agg(F.sum("nij").cast("bigint").alias("bj"))
        .agg(pairs("bj").alias("s_cols"))
    )
    j = sums.crossJoin(F.broadcast(ra)).crossJoin(F.broadcast(rb))
    nd = F.col("n").cast("double")
    tot_pairs = nd * (F.col("n") - 1) / 2
    exp = F.col("s_rows").cast("double") * F.col("s_cols") / tot_pairs
    return j.select(
        "n",
        F.col("s_cells").alias("pairs_both"),
        F.col("s_rows").alias("pairs_nation"),
        F.col("s_cols").alias("pairs_segment"),
        F.round(
            (F.col("s_cells").cast("double") - exp)
            / (0.5 * (F.col("s_rows").cast("double") + F.col("s_cols")) - exp),
            6,
        ).alias("ari"),
    )


@register(
    "fowlkes_mallows",
    f"""
    WITH {_PAIR_CTES}
    SELECT s.n, s.s_cells AS pairs_both,
           round(CAST(s.s_cells AS DOUBLE)
                 / sqrt(CAST(ra.s_rows AS DOUBLE) * rb.s_cols), 6) AS fm_index,
           round(CAST(s.s_cells AS DOUBLE) / ra.s_rows, 6) AS precision_pairs,
           round(CAST(s.s_cells AS DOUBLE) / rb.s_cols, 6) AS recall_pairs
    FROM sums s CROSS JOIN ra CROSS JOIN rb
    """,
    tags=("ml", "clustering", "agreement"),
)
def q_fowlkes_mallows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fowlkes-Mallows index for the same partition pair: the geometric
    mean of pair-precision and pair-recall (TP = co-clustered pairs in
    both partitions). Shares the contingency/marginal machinery with
    adjusted_rand_index but answers the 'retrieval view' of clustering
    agreement."""
    cust = read_table(spark, sf_dir, "customer")
    cont = cust.groupBy(
        F.col("c_nationkey").alias("a"), F.col("c_mktsegment").alias("b")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("nij"))

    def pairs(c):
        return F.sum(F.expr(f"CAST({c} * ({c} - 1) DIV 2 AS BIGINT)")).cast("bigint")

    sums = cont.agg(
        pairs("nij").alias("s_cells"), F.sum("nij").cast("bigint").alias("n")
    )
    ra = (
        cont.groupBy("a").agg(F.sum("nij").cast("bigint").alias("ai"))
        .agg(pairs("ai").alias("s_rows"))
    )
    rb = (
        cont.groupBy("b").agg(F.sum("nij").cast("bigint").alias("bj"))
        .agg(pairs("bj").alias("s_cols"))
    )
    j = sums.crossJoin(F.broadcast(ra)).crossJoin(F.broadcast(rb))
    sc = F.col("s_cells").cast("double")
    return j.select(
        "n",
        F.col("s_cells").alias("pairs_both"),
        F.round(
            sc / F.sqrt(F.col("s_rows").cast("double") * F.col("s_cols")), 6
        ).alias("fm_index"),
        F.round(sc / F.col("s_rows"), 6).alias("precision_pairs"),
        F.round(sc / F.col("s_cols"), 6).alias("recall_pairs"),
    )
