"""Extension batch 215 (round 9): retrieval quality (NDCG), scaled
forecast errors (MASE/sMAPE), the newsvendor policy, the Clark-Evans
spatial-randomness index on the ext212 grid-kNN spine, resource-
allocation link prediction, and the Rousseeuw-Croux Sn scale.

Parity disciplines (CLAUDE.md): gains/errors quantize to e9/e8
integers before any cross-row sum (float sum order never crosses
engines); log-discount terms share the identical ln() expression text;
all order statistics are exact ranks with unique tiebreaks; scalar
1-row double formulas evaluate the same op sequence on exact integer
inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.similarity import cosine_fold
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext212 import grid_exact_knn
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_NDCG_K = 10
_NQ = 5  # anchor queries: vec_id < 5
_CR_NUM, _CR_DEN = 3, 4  # newsvendor critical ratio 3/4 (cu=3, co=1)
_SN_C = 1.1926  # Sn consistency constant for the normal
_RA_MIN_DEG = 2
_RA_MAX_DEG = 40

# shared discount-term text: rel * log2(pos+1)^-1, e9-quantized.
# ln() is natural log in BOTH engines; the 30 possible (rel, pos)
# values sit far from rounding boundaries.
_DCG_TERM = (
    "CAST(round(1.0e9 * CAST({rel} AS DOUBLE) * ln(CAST(2 AS DOUBLE))"
    " / ln(CAST({pos} + 1 AS DOUBLE)), 0) AS BIGINT)"
)


@register(
    "ndcg_graded_at_k",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS lq
      FROM embeddings WHERE vec_id < {_NQ}),
    base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    sims AS (
      SELECT q.query_id, b.vec_id AS neighbor_id,
             greatest(0, 2 - abs(q.lq - b.label)) AS rel,
             round(list_dot_product(q.qv, b.v) /
                   (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
      FROM q CROSS JOIN base b WHERE b.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, rel,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS pos,
             row_number() OVER (PARTITION BY query_id
               ORDER BY rel DESC, cosine DESC, neighbor_id) AS ipos
      FROM sims),
    dcg AS (
      SELECT query_id,
             CAST(sum(CASE WHEN pos <= {_NDCG_K} THEN
               {_DCG_TERM.format(rel='rel', pos='pos')} ELSE 0 END)
               AS BIGINT) AS dcg_e9,
             CAST(sum(CASE WHEN ipos <= {_NDCG_K} THEN
               {_DCG_TERM.format(rel='rel', pos='ipos')} ELSE 0 END)
               AS BIGINT) AS idcg_e9
      FROM ranked GROUP BY query_id)
    SELECT query_id, dcg_e9, idcg_e9,
           CASE WHEN idcg_e9 = 0 THEN NULL
                ELSE round(CAST(dcg_e9 AS DOUBLE) / idcg_e9, 6)
           END AS ndcg_10
    FROM dcg
    """,
    tags=("retrieval", "eval", "ranking", "exact-arith"),
)
def q_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 for five anchor queries over the embedding corpus:
    candidates rank by (rounded) cosine, graded relevance = 2 minus
    label distance floored at 0, discount 1/log2(pos+1). Every
    discount term quantizes to an e9 integer BEFORE the per-query sum
    (order-free); the ideal ranking reorders the same candidate set by
    relevance, so NDCG = DCG/IDCG divides two exact integers once."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    q = emb.where(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("label").alias("lq"),
    )
    sims = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.greatest(
                F.lit(0), F.lit(2) - F.abs(F.col("lq") - F.col("label"))
            ).alias("rel"),
            F.round(cosine_fold(F.col("qv"), F.col("v")), 6).alias("cosine"),
            F.col("vec_id").alias("neighbor_id"),
        )
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    wi = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("cosine").desc(), "neighbor_id"
    )
    ranked = sims.select(
        "query_id",
        "rel",
        F.row_number().over(wp).alias("pos"),
        F.row_number().over(wi).alias("ipos"),
    )
    dcg = ranked.groupBy("query_id").agg(
        F.sum(
            F.expr(
                f"CASE WHEN pos <= {_NDCG_K} THEN "
                + _DCG_TERM.format(rel="rel", pos="pos")
                + " ELSE 0L END"
            )
        )
        .cast("bigint")
        .alias("dcg_e9"),
        F.sum(
            F.expr(
                f"CASE WHEN ipos <= {_NDCG_K} THEN "
                + _DCG_TERM.format(rel="rel", pos="ipos")
                + " ELSE 0L END"
            )
        )
        .cast("bigint")
        .alias("idcg_e9"),
    )
    return dcg.select(
        "query_id",
        "dcg_e9",
        "idcg_e9",
        F.when(
            F.col("idcg_e9") == 0, F.lit(None).cast("double")
        ).otherwise(
            F.round(F.col("dcg_e9").cast("double") / F.col("idcg_e9"), 6)
        ).alias("ndcg_10"),
    )


@register(
    "mase_smape_backtest",
    """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS r
      FROM orders GROUP BY o_orderdate),
    lagged AS (
      SELECT d, r,
             lag(r, 7) OVER (ORDER BY d) AS f7,
             lag(r, 1) OVER (ORDER BY d) AS f1
      FROM daily),
    scored AS (
      SELECT abs(r - f7) AS ae_m, abs(r - f1) AS ae_n,
             CASE WHEN r + f7 = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(round(1.0e9 * (2.0 * CAST(abs(r - f7) AS DOUBLE))
                       / CAST(r + f7 AS DOUBLE), 0) AS BIGINT)
             END AS st
      FROM lagged WHERE f7 IS NOT NULL)
    SELECT CAST(count(*) AS BIGINT) AS n_days_scored,
           CAST(sum(ae_m) AS BIGINT) AS sum_ae_seasonal_naive7,
           CAST(sum(ae_n) AS BIGINT) AS sum_ae_naive1,
           CASE WHEN sum(ae_n) = 0 THEN NULL
                ELSE round(CAST(sum(ae_m) AS DOUBLE) / sum(ae_n), 6)
           END AS mase,
           round(CAST(sum(st) AS DOUBLE) / count(*) / 1e7, 6) AS smape_pct
    FROM scored
    """,
    tags=("forecast", "eval", "timeseries", "exact-arith"),
)
def q_mase_smape_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-free forecast-error backtest of the weekly seasonal naive
    (forecast = revenue 7 days earlier) on daily revenue: MASE divides
    its MAE by the lag-1 naive's MAE (both exact integer cent sums,
    one division), and sMAPE averages e9-quantized per-day terms
    (integer sum, one division). MASE < 1 = beats the random walk."""
    daily = read_table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderdate").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("r")
    )
    w = Window.orderBy("d")
    scored = (
        daily.select(
            "r",
            F.lag("r", 7).over(w).alias("f7"),
            F.lag("r", 1).over(w).alias("f1"),
        )
        .where(F.col("f7").isNotNull())
        .select(
            F.abs(F.col("r") - F.col("f7")).alias("ae_m"),
            F.abs(F.col("r") - F.col("f1")).alias("ae_n"),
            F.expr(
                "CASE WHEN r + f7 = 0 THEN CAST(0 AS BIGINT)"
                " ELSE CAST(round(1.0e9 * (2.0 * CAST(abs(r - f7) AS DOUBLE))"
                " / CAST(r + f7 AS DOUBLE), 0) AS BIGINT) END"
            ).alias("st"),
        )
    )
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days_scored"),
        F.sum("ae_m").cast("bigint").alias("sum_ae_seasonal_naive7"),
        F.sum("ae_n").cast("bigint").alias("sum_ae_naive1"),
        F.when(F.sum("ae_n") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.sum("ae_m").cast("double") / F.sum("ae_n"), 6
            )
        )
        .alias("mase"),
        F.round(
            F.sum("st").cast("double") / F.count(F.lit(1)) / 1e7, 6
        ).alias("smape_pct"),
    )


@register(
    "newsvendor_critical_fractile",
    f"""
    WITH daily AS (
      SELECT l_shipdate AS d,
             CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
               AS dmd
      FROM lineitem GROUP BY l_shipdate),
    s AS (
      SELECT dmd, row_number() OVER (ORDER BY dmd, d) AS rn FROM daily),
    nn AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             ({_CR_NUM} * CAST(count(*) AS BIGINT) + {_CR_DEN - 1})
               // {_CR_DEN} AS kq,
             CAST(sum(dmd) AS BIGINT) // CAST(count(*) AS BIGINT) AS q_mean
      FROM daily),
    pol AS (
      SELECT t.n, t.kq, t.q_mean, s.dmd AS q_star
      FROM s CROSS JOIN nn t WHERE s.rn = t.kq),
    costs AS (
      SELECT p.n, p.q_star, p.q_mean,
             CAST(sum(CASE WHEN p.q_star > dy.dmd
                  THEN p.q_star - dy.dmd ELSE 3 * (dy.dmd - p.q_star) END)
                  AS BIGINT) AS cost_at_qstar,
             CAST(sum(CASE WHEN p.q_mean > dy.dmd
                  THEN p.q_mean - dy.dmd ELSE 3 * (dy.dmd - p.q_mean) END)
                  AS BIGINT) AS cost_at_mean
      FROM daily dy CROSS JOIN pol p
      GROUP BY p.n, p.q_star, p.q_mean)
    SELECT n AS n_days, q_star, q_mean, cost_at_qstar, cost_at_mean,
           CASE WHEN cost_at_mean = 0 THEN NULL
                ELSE round(CAST(cost_at_mean - cost_at_qstar AS DOUBLE)
                           / cost_at_mean, 6) + 0.0
           END AS saving_frac
    FROM costs
    """,
    tags=("inventory", "newsvendor", "exact-arith"),
)
def q_newsvendor_critical_fractile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Newsvendor order quantity at critical fractile cu/(cu+co) = 3/4
    (underage 3x overage): q* = the ceil(0.75 n)-th order statistic of
    daily shipped quantity -- the EXACT empirical-quantile policy --
    scored against stocking the mean (the classic mistake). Realized
    costs are exact integer unit sums over every day; the saving
    fraction is the value of the quantile policy. Companion to ext80's
    per-part `newsvendor_quantile` (which stops at q*): this one adds
    the COST evaluation -- test_ext215 proves q* minimizes the
    realized cost over every observed demand level."""
    daily = read_table(spark, sf_dir, "lineitem").groupBy(
        F.col("l_shipdate").alias("d")
    ).agg(
        F.sum(F.round(F.col("l_quantity"), 0).cast("bigint"))
        .cast("bigint")
        .alias("dmd")
    )
    s = daily.select(
        "dmd", F.row_number().over(Window.orderBy("dmd", "d")).alias("rn")
    )
    nn = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            f"({_CR_NUM} * CAST(count(1) AS BIGINT) + {_CR_DEN - 1})"
            f" DIV {_CR_DEN}"
        ).alias("kq"),
        F.expr(
            "CAST(sum(dmd) AS BIGINT) DIV CAST(count(1) AS BIGINT)"
        ).alias("q_mean"),
    )
    pol = (
        s.crossJoin(F.broadcast(nn))
        .where(F.col("rn") == F.col("kq"))
        .select("n", "kq", "q_mean", F.col("dmd").alias("q_star"))
    )
    costs = (
        daily.crossJoin(F.broadcast(pol))
        .groupBy("n", "q_star", "q_mean")
        .agg(
            F.sum(
                F.when(
                    F.col("q_star") > F.col("dmd"),
                    F.col("q_star") - F.col("dmd"),
                ).otherwise(3 * (F.col("dmd") - F.col("q_star")))
            )
            .cast("bigint")
            .alias("cost_at_qstar"),
            F.sum(
                F.when(
                    F.col("q_mean") > F.col("dmd"),
                    F.col("q_mean") - F.col("dmd"),
                ).otherwise(3 * (F.col("dmd") - F.col("q_mean")))
            )
            .cast("bigint")
            .alias("cost_at_mean"),
        )
    )
    saving = F.when(F.col("cost_at_mean") == 0, F.lit(None).cast("double")).otherwise(
        F.round(
            (F.col("cost_at_mean") - F.col("cost_at_qstar")).cast("double")
            / F.col("cost_at_mean"),
            6,
        )
        + F.lit(0.0)
    )
    return costs.select(
        F.col("n").alias("n_days"),
        "q_star",
        "q_mean",
        "cost_at_qstar",
        "cost_at_mean",
        saving.alias("saving_frac"),
    )


# shared 1-row Clark-Evans scalar formula text (exact integer/double
# inputs; identical op order both engines)
_CE_EXPRS = {
    "r_index": (
        "round((CAST(mean_nn_e9 AS DOUBLE) / 1.0e9)"
        " / (0.5 / sqrt(CAST(n AS DOUBLE) / area)), 6)"
    ),
    "z_score": (
        "round(((CAST(mean_nn_e9 AS DOUBLE) / 1.0e9)"
        " - (0.5 / sqrt(CAST(n AS DOUBLE) / area)))"
        " / (0.26136 / sqrt(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
        " / area)), 6) + 0.0"
    ),
}


@register(
    "clark_evans_nn_index",
    f"""
    WITH pts AS (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS px,
             CAST(embedding[2] AS DOUBLE) AS py
      FROM embeddings),
    nnm AS (
      SELECT a.vec_id AS i,
             min(CAST(round(1.0e9 * sqrt(
               (a.px - b.px) * (a.px - b.px)
               + (a.py - b.py) * (a.py - b.py)), 0) AS BIGINT)) AS dq
      FROM pts a JOIN pts b ON a.vec_id <> b.vec_id GROUP BY a.vec_id),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dq) AS BIGINT) // CAST(count(*) AS BIGINT)
               AS mean_nn_e9
      FROM nnm),
    bb AS (
      SELECT (max(px) - min(px)) * (max(py) - min(py)) AS area FROM pts)
    SELECT a.n AS n_points, a.mean_nn_e9,
           {_CE_EXPRS['r_index']} AS r_index,
           {_CE_EXPRS['z_score']} AS z_score
    FROM agg a CROSS JOIN bb
    """,
    tags=("spatial", "grid-join", "scale-path", "exact-arith"),
)
def q_clark_evans_nn_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clark-Evans aggregation index R = observed mean nearest-neighbor
    distance / expected under CSR (0.5/sqrt(density)), with the normal
    z-score (SE = 0.26136/sqrt(n^2/area), area = bounding box). R < 1 =
    clustered, R > 1 = overdispersed. The 1-NN comes from the ext212
    PROVABLY-EXACT grid-kNN (k=1) -- output-bounded, no all-pairs scan
    in the Spark plan; the oracle brute-forces the same minimum. Mean
    NN distance is an exact integer division of e9 distances."""
    pts = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("px"),
        F.element_at("embedding", 2).cast("double").alias("py"),
    )
    nn1 = grid_exact_knn(pts, 1, 0.05, 50_000_000)
    agg = nn1.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            "CAST(sum(dq) AS BIGINT) DIV CAST(count(1) AS BIGINT)"
        ).alias("mean_nn_e9"),
    )
    bb = pts.agg(
        (
            (F.max("px") - F.min("px")) * (F.max("py") - F.min("py"))
        ).alias("area")
    )
    return agg.crossJoin(F.broadcast(bb)).select(
        F.col("n").alias("n_points"),
        "mean_nn_e9",
        F.expr(_CE_EXPRS["r_index"]).alias("r_index"),
        F.expr(_CE_EXPRS["z_score"]).alias("z_score"),
    )


q_resource_allocation_linkpred = register_sql(
    "resource_allocation_linkpred",
    f"""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    deg AS (SELECT c, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY c),
    ec AS (
      SELECT e.c, e.p, CAST(round(100000000.0 / deg.d, 0) AS BIGINT) AS ra
      FROM e JOIN deg ON e.c = deg.c
      WHERE deg.d BETWEEN {_RA_MIN_DEG} AND {_RA_MAX_DEG}
    )
    SELECT a.p AS part_a, b.p AS part_b,
           CAST(count(*) AS BIGINT) AS n_common,
           CAST(sum(a.ra) AS BIGINT) AS ra_e8
    FROM ec a JOIN ec b ON a.c = b.c AND a.p < b.p
    GROUP BY a.p, b.p
    HAVING count(*) >= 2
    ORDER BY ra_e8 DESC, part_a, part_b
    LIMIT 100
    """,
    tags=("graph", "link-prediction"),
)


@register(
    "sn_scale_daily",
    f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_orderdate),
    s AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn, cents
      FROM daily),
    nn AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) // 2 + 1 AS h,
             (CAST(count(*) AS BIGINT) + 1) // 2 AS m
      FROM s),
    pr AS (
      SELECT a.rn AS i, abs(a.cents - b.cents) AS dv,
             row_number() OVER (PARTITION BY a.rn
               ORDER BY abs(a.cents - b.cents), b.rn) AS r
      FROM s a JOIN s b ON a.rn <> b.rn),
    him AS (
      SELECT p.i, p.dv AS himed
      FROM pr p CROSS JOIN nn t WHERE p.r = t.h - 1),
    lom AS (
      SELECT h2.himed AS sn_raw
      FROM (SELECT himed, row_number() OVER (ORDER BY himed, i) AS g
            FROM him) h2
      CROSS JOIN nn t WHERE h2.g = t.m)
    SELECT t.n AS n_days, t.h - 1 AS himed_k, t.m AS lomed_k,
           round(l.sn_raw / 100.0, 2) AS sn_raw_dollars,
           round({_SN_C!r} * l.sn_raw / 100.0, 2) AS sn_scaled_dollars
    FROM lom l CROSS JOIN nn t
    """,
    tags=("stats", "robust", "scale"),
)
def q_sn_scale_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rousseeuw-Croux Sn scale of daily revenue: for each day i take
    the high median (the (floor(n/2)+1)-th order stat of the n values
    including the self-difference 0, i.e. the floor(n/2)-th of the n-1
    nonself |x_i - x_j|), then the low median over days of those
    himeds, scaled by 1.1926. Like Qn: 50% breakdown with NO location
    estimate; unlike Qn it keeps a per-row locality (himed_i is a
    per-day robust dispersion). The pair table is the calendar-bounded
    |days|^2 join (hodges_lehmann/qn precedent); every selection is an
    exact rank with unique tiebreaks; integers until the final scale
    multiply."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    s = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("rn"),
        "cents",
    )
    nn = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("CAST(count(1) AS BIGINT) DIV 2 + 1").alias("h"),
        F.expr("(CAST(count(1) AS BIGINT) + 1) DIV 2").alias("m"),
    )
    a, b = s.alias("a"), s.alias("b")
    wr = Window.partitionBy("i").orderBy("dv", "jrn")
    pr = (
        a.join(b, F.col("a.rn") != F.col("b.rn"))
        .select(
            F.col("a.rn").alias("i"),
            F.abs(F.col("a.cents") - F.col("b.cents")).alias("dv"),
            F.col("b.rn").alias("jrn"),
        )
        .select("i", "dv", F.row_number().over(wr).alias("r"))
    )
    him = (
        pr.crossJoin(F.broadcast(nn))
        .where(F.col("r") == F.col("h") - 1)
        .select("i", F.col("dv").alias("himed"))
    )
    lom = (
        him.select(
            "himed",
            F.row_number().over(Window.orderBy("himed", "i")).alias("g"),
        )
        .crossJoin(F.broadcast(nn))
        .where(F.col("g") == F.col("m"))
        .select(F.col("himed").alias("sn_raw"))
    )
    return lom.crossJoin(F.broadcast(nn)).select(
        F.col("n").alias("n_days"),
        (F.col("h") - 1).alias("himed_k"),
        F.col("m").alias("lomed_k"),
        F.round(F.col("sn_raw") / 100.0, 2).alias("sn_raw_dollars"),
        F.round(F.lit(_SN_C) * F.col("sn_raw") / 100.0, 2).alias(
            "sn_scaled_dollars"
        ),
    )
