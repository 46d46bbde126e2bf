"""Extension batch 65: Cochran-Mantel-Haenszel pooled odds ratio,
grouped five-number (boxplot) summaries, and exact 1-D k-means Lloyd
iterations.

Scale notes (the 100 TB story per query):
- cmh_pooled_odds pools the discount -> return association across
  nation strata (the confounder-adjusted odds ratio; simpsons_paradox
  already shows why pooling raw counts lies). Per-stratum terms
  a*d/n and b*c/n round to e9 integers before the order-free sums;
  strata are one grouped aggregate over the join.
- boxplot_five_number computes exact per-group quartiles, IQR fences,
  and outlier counts from the PER-GROUP value spine: all windows are
  PARTITIONED by o_orderpriority (5 groups), so nothing funnels into a
  single task at any scale -- the per-group spine is the partitioned
  twin of the global-rank machinery.
- kmeans_1d_lloyd runs the exact 1-D Lloyd loop the IVF tier
  approximates: 4 centers seeded at quartile boundaries from
  operators/rank.with_global_rank, two assignment+update rounds where
  assignment is a broadcast nearest-center CASE and the update is an
  exact integer mean (DIV) -- every iterate integer cents, so both
  engines walk the identical center sequence. Fixed iteration count =
  the documented knob, exactly like operators/graph.pagerank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.rank import with_global_rank
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


# ---------------------------------------------------------------------------
# Cochran-Mantel-Haenszel pooled odds ratio across nation strata.
# ---------------------------------------------------------------------------
q_cmh_pooled_odds = register_sql(
    "cmh_pooled_odds",
    """
    WITH base AS (
      SELECT c.c_nationkey AS stratum,
             CASE WHEN l.l_discount >= 0.05 THEN 1 ELSE 0 END AS exposed,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS outcome
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey),
    cells AS (
      SELECT stratum,
             CAST(sum(exposed * outcome) AS BIGINT) AS a,
             CAST(sum(exposed * (1 - outcome)) AS BIGINT) AS b,
             CAST(sum((1 - exposed) * outcome) AS BIGINT) AS c,
             CAST(sum((1 - exposed) * (1 - outcome)) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM base GROUP BY stratum),
    terms AS (
      SELECT CAST(count(*) AS BIGINT) AS n_strata,
             CAST(sum(CAST(round(1e9 * CAST(a AS DOUBLE) * d / n, 0) AS BIGINT))
                  AS BIGINT) AS num_e9,
             CAST(sum(CAST(round(1e9 * CAST(b AS DOUBLE) * c / n, 0) AS BIGINT))
                  AS BIGINT) AS den_e9,
             CAST(sum(a) AS BIGINT) AS sum_a,
             CAST(sum(CAST(round(1e9 * CAST(a + b AS DOUBLE) * (a + c) / n, 0)
                           AS BIGINT)) AS BIGINT) AS e_e9,
             CAST(sum(CAST(round(1e9
                    * (CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d))
                    / (CAST(n AS DOUBLE) * n * (n - 1)), 0) AS BIGINT))
                  AS BIGINT) AS v_e9
      FROM cells WHERE n > 1)
    SELECT n_strata,
           round(CAST(num_e9 AS DOUBLE) / den_e9, 6) AS cmh_odds_ratio,
           round(pow(abs(CAST(sum_a AS DOUBLE) - CAST(e_e9 AS DOUBLE) / 1e9)
                     - 0.5, 2) / (CAST(v_e9 AS DOUBLE) / 1e9), 6)
             AS cmh_chi2_cc
    FROM terms
    """,
    tags=("stats", "stratified", "exact-arith"),
)


# ---------------------------------------------------------------------------
# Per-group five-number summary with IQR fences (boxplot stats).
# ---------------------------------------------------------------------------
@register(
    "boxplot_five_number",
    """
    WITH vals AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
      FROM orders),
    spine AS (
      SELECT grp, v, CAST(count(*) AS BIGINT) AS c
      FROM vals GROUP BY grp, v),
    cum AS (
      SELECT grp, v, c,
             sum(c) OVER (PARTITION BY grp ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
             sum(c) OVER (PARTITION BY grp) AS n
      FROM spine),
    qs AS (
      SELECT grp, CAST(max(n) AS BIGINT) AS n,
             min(CASE WHEN 4 * cc >= n THEN v END) AS q1,
             min(CASE WHEN 2 * cc >= n THEN v END) AS med,
             min(CASE WHEN 4 * cc >= 3 * n THEN v END) AS q3,
             min(v) AS lo, max(v) AS hi
      FROM cum GROUP BY grp),
    fenced AS (
      SELECT q.grp, q.n, q.lo, q.q1, q.med, q.q3, q.hi,
             q.q1 - 3 * (q.q3 - q.q1) // 2 AS lo_fence,
             q.q3 + 3 * (q.q3 - q.q1) // 2 AS hi_fence
      FROM qs q)
    SELECT f.grp AS priority, f.n, f.lo AS min_cents, f.q1, f.med, f.q3,
           f.hi AS max_cents, f.lo_fence, f.hi_fence,
           CAST((SELECT coalesce(sum(s.c), 0) FROM spine s
                 WHERE s.grp = f.grp AND (s.v < f.lo_fence OR s.v > f.hi_fence))
                AS BIGINT) AS n_outliers
    FROM fenced f
    """,
    tags=("stats", "summary", "grouped"),
)
def q_boxplot_five_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boxplot statistics per order priority: exact 'first value whose
    cumulative count reaches the rank' quartiles (ties share, the
    median_ci convention), Tukey fences at 1.5 IQR in integer floor
    arithmetic, and the outlier count outside them. The per-group
    cumulative runs on the GROUPED two-level rank plan
    (with_global_rank(partition_cols=["grp"])): a plain 5-partition
    window would still push rows/5 through single tasks, whereas each
    group here fans out over its bucket ranges."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.rank import with_global_rank

    orders = read_table(spark, sf_dir, "orders")
    vals = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("v"),
    )
    spine = vals.groupBy("grp", "v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    totals = spine.groupBy("grp").agg(F.sum("c").cast("bigint").alias("n"))
    cum = (
        with_global_rank(
            spine, "v", [F.col("v")], prefix_sum={"cc": "c"}, partition_cols=["grp"]
        )
        .drop("global_rank")
        .join(F.broadcast(totals), "grp")
    )
    qs = cum.groupBy("grp").agg(
        F.max("n").cast("bigint").alias("n"),
        F.min(F.when(4 * F.col("cc") >= F.col("n"), F.col("v"))).alias("q1"),
        F.min(F.when(2 * F.col("cc") >= F.col("n"), F.col("v"))).alias("med"),
        F.min(F.when(4 * F.col("cc") >= 3 * F.col("n"), F.col("v"))).alias("q3"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    fenced = qs.select(
        "*",
        F.expr("q1 - 3 * (q3 - q1) DIV 2").alias("lo_fence"),
        F.expr("q3 + 3 * (q3 - q1) DIV 2").alias("hi_fence"),
    )
    out = (
        spine.join(F.broadcast(fenced.select("grp", "lo_fence", "hi_fence")), "grp")
        .where((F.col("v") < F.col("lo_fence")) | (F.col("v") > F.col("hi_fence")))
        .groupBy("grp")
        .agg(F.sum("c").cast("bigint").alias("n_outliers"))
    )
    return (
        fenced.join(out, "grp", "left")
        .select(
            F.col("grp").alias("priority"),
            "n",
            F.col("lo").alias("min_cents"),
            "q1",
            "med",
            "q3",
            F.col("hi").alias("max_cents"),
            "lo_fence",
            "hi_fence",
            F.coalesce(F.col("n_outliers"), F.lit(0)).cast("bigint").alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Exact 1-D k-means: quartile seeding + 2 Lloyd iterations.
# ---------------------------------------------------------------------------
_KM_K = 4
_KM_ITERS = 2


def _kmeans_assign_sql(centers: list[str], v: str = "v") -> str:
    """Nearest-center CASE for 4 centers (ties -> lowest index), over
    integer |v - c| distances."""
    conds = []
    for i in range(_KM_K):
        others = " AND ".join(
            f"abs({v} - {centers[i]}) <= abs({v} - {centers[j]})"
            if j > i
            else f"abs({v} - {centers[i]}) < abs({v} - {centers[j]})"
            for j in range(_KM_K)
            if j != i
        )
        conds.append(f"WHEN {others} THEN {i}")
    return "CASE " + " ".join(conds) + " END"


def _kmeans_sql() -> str:
    # every center table is cross-joined as a 1-row relation (scalar
    # subqueries would make DuckDB re-inline the whole upstream CTE
    # chain per reference -- measured as a file-handle explosion)
    steps = []
    prev = "seed"
    for it in range(1, _KM_ITERS + 1):
        assign = _kmeans_assign_sql([f"p.c{i}" for i in range(_KM_K)])
        steps.append(f"""
    asg{it} AS (
      SELECT s.v, s.c, p.c0, p.c1, p.c2, p.c3, {assign} AS cl
      FROM spine s CROSS JOIN {prev} p),
    upd{it} AS (
      SELECT {', '.join(
          f'CAST(coalesce(sum(CASE WHEN cl = {i} THEN v * c END) '
          f'// nullif(sum(CASE WHEN cl = {i} THEN c END), 0), '
          f'max(c{i})) AS BIGINT) AS c{i}'
          for i in range(_KM_K))}
      FROM asg{it})""")
        prev = f"upd{it}"
    final_assign = _kmeans_assign_sql([f"p.c{i}" for i in range(_KM_K)])
    center_case = (
        "CASE cl WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END"
    )
    return f"""
    WITH vals AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v FROM orders),
    spine AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY v),
    cum AS (
      SELECT v, sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM spine),
    nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM spine),
    seed AS (
      SELECT min(CASE WHEN 8 * cc >= n THEN v END) AS c0,
             min(CASE WHEN 8 * cc >= 3 * n THEN v END) AS c1,
             min(CASE WHEN 8 * cc >= 5 * n THEN v END) AS c2,
             min(CASE WHEN 8 * cc >= 7 * n THEN v END) AS c3
      FROM cum CROSS JOIN nn),
    {','.join(steps)},
    final AS (
      SELECT s.v, s.c, p.c0, p.c1, p.c2, p.c3, {final_assign} AS cl
      FROM spine s CROSS JOIN {prev} p)
    SELECT CAST(cl AS INTEGER) AS cluster,
           CAST(max({center_case}) AS BIGINT) AS center_cents,
           CAST(sum(c) AS BIGINT) AS n_points,
           CAST(sum(CAST(abs(v - {center_case}) AS HUGEINT) * c) // sum(c)
                AS BIGINT) AS mean_abs_dev_cents
    FROM final GROUP BY cl
    """


@register("kmeans_1d_lloyd", _kmeans_sql(), tags=("ml", "clustering", "exact-arith"))
def q_kmeans_1d_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D k-means over order totals: 4 centers seeded at the
    octile midpoint order statistics (spine cumulative counts on
    with_global_rank), then 2 Lloyd rounds where assignment is a
    nearest-center comparison (ties to the lower index) and each update
    is an exact integer mean (DIV) -- the center sequence is identical
    in both engines by construction. Per-cluster size and mean absolute
    deviation close the report. The distributed shape is the IVF
    trainer's: tiny center table broadcast, one aggregate per round."""
    orders = read_table(spark, sf_dir, "orders")
    vals = orders.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("v")
    )
    # r13: the center vector is a BOUNDED EXACT-INTEGER scalar set (4
    # BIGINTs; seed = order statistics, updates = integer DIV means) --
    # collect it per round and re-enter as literals (the established
    # bounded driver-fold pattern) instead of nesting 1-row broadcast
    # cross-joins, whose builds re-ran the whole un-pinned spine
    # lineage per reference (the r5 huber trap: 6+ orders-scan+groupBy
    # evaluations in one plan). The spine itself is pinned once.
    spine = (
        vals.groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    n = spine.agg(F.sum("c").cast("bigint").alias("n")).first()[0]
    cum = with_global_rank(spine, "v", [F.col("v")], prefix_sum={"cc": "c"})
    centers = list(
        cum.agg(
            F.min(F.when(8 * F.col("cc") >= F.lit(n), F.col("v"))).alias("c0"),
            F.min(F.when(8 * F.col("cc") >= F.lit(3 * n), F.col("v"))).alias("c1"),
            F.min(F.when(8 * F.col("cc") >= F.lit(5 * n), F.col("v"))).alias("c2"),
            F.min(F.when(8 * F.col("cc") >= F.lit(7 * n), F.col("v"))).alias("c3"),
        ).first()
    )

    def with_centers(df: DataFrame, cs) -> DataFrame:
        out = df
        for i in range(_KM_K):
            out = out.withColumn(f"c{i}", F.lit(cs[i]).cast("bigint"))
        return out

    def assign(df: DataFrame) -> DataFrame:
        dists = [F.abs(F.col("v") - F.col(f"c{i}")) for i in range(_KM_K)]
        cl = None
        for i in range(_KM_K):
            cond = None
            for j in range(_KM_K):
                if j == i:
                    continue
                term = dists[i] < dists[j] if j < i else dists[i] <= dists[j]
                cond = term if cond is None else (cond & term)
            cl = F.when(cond, i) if cl is None else cl.when(cond, i)
        return df.withColumn("cl", cl)

    for _ in range(_KM_ITERS):
        asg = assign(with_centers(spine, centers))
        centers = list(
            asg.agg(
                *[
                    F.coalesce(
                        F.expr(
                            f"CAST(sum(CASE WHEN cl = {i} THEN v * c END)"
                            f" DIV nullif(sum(CASE WHEN cl = {i} THEN c END), 0) AS BIGINT)"
                        ),
                        F.max(f"c{i}"),
                    )
                    .cast("bigint")
                    .alias(f"c{i}")
                    for i in range(_KM_K)
                ]
            ).first()
        )
    final = assign(with_centers(spine, centers))
    center_of = (
        F.when(F.col("cl") == 0, F.col("c0"))
        .when(F.col("cl") == 1, F.col("c1"))
        .when(F.col("cl") == 2, F.col("c2"))
        .otherwise(F.col("c3"))
    )
    return final.groupBy(F.col("cl").cast("int").alias("cluster")).agg(
        F.max(center_of).cast("bigint").alias("center_cents"),
        F.sum("c").cast("bigint").alias("n_points"),
        F.expr(
            "CAST(sum(CAST(abs(v - CASE cl WHEN 0 THEN c0 WHEN 1 THEN c1"
            " WHEN 2 THEN c2 ELSE c3 END) AS DECIMAL(38,0)) * c)"
            " DIV sum(c) AS BIGINT)"
        ).alias("mean_abs_dev_cents"),
    )
