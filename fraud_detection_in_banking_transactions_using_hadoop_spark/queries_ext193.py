"""Extension batch 193 (round 7): density-based anomaly scoring,
sender-collusion screening, and the burstiness/memory decomposition.

- lof_embedding_plane: the Local Outlier Factor (Breunig et al., k=5)
  over the embedding-plane points, made HASH-EXACT by quantization
  discipline: pairwise distances e9-quantize to integers, k-distances
  and reachability sums are exact integer aggregates, local
  reachability densities quantize through one exact integer division
  (1e15*k DIV sum-reach), and LOF divides two exact integers once.
  The kNN selection tiebreaks on (distance, neighbor id). Exact
  all-pairs estimator over the bounded point set (the ripley/ann
  documented-baseline precedent); the LSH/grid joins are the scale
  path.
- aml_collusion_pairs: pairs of customers whose weekly payment
  counterparty sets overlap -- >= 3 common (supplier, week) cells --
  the collusive-sender screen that fan-in (receiver view) and
  pass-through (middle view) cannot see. Equi-join on the cell key,
  never all-pairs; per-supplier-week fan-in is capped by the data's
  own sender counts.
- burstiness_memory_gaps: Goh-Barabasi (B, M): B = (sd - mu)/(sd + mu)
  of within-day interarrival gaps (1 = extreme bursts, 0 = Poisson,
  -1 = periodic) and M = lag-1 gap correlation, both from exact
  integer moment sums (consecutive-gap pairs via the same partitioned
  lag spine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_LOF_K = 5

# Exact all-pairs LOF SQL, shared: it is lof_embedding_plane's oracle
# AND lof_grid_knn's (queries_ext212.py) -- the grid twin computes the
# IDENTICAL exact kNN via provably-complete cell neighborhoods, so the
# same SQL oracles both.
LOF_EXACT_SQL = f"""
    WITH pts AS (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS px,
             CAST(embedding[2] AS DOUBLE) AS py
      FROM embeddings),
    dist AS (
      SELECT a.vec_id AS i, b.vec_id AS j,
             CAST(floor(1.0e9 * sqrt(
               (a.px - b.px) * (a.px - b.px)
               + (a.py - b.py) * (a.py - b.py)) + 0.5) AS BIGINT) AS dq
      FROM pts a JOIN pts b ON a.vec_id <> b.vec_id),
    knn AS (
      SELECT i, j, dq,
             row_number() OVER (PARTITION BY i ORDER BY dq, j) AS rn
      FROM dist),
    kd AS (
      SELECT i, max(dq) AS kdist FROM knn WHERE rn <= {_LOF_K} GROUP BY i),
    reach AS (
      SELECT n.i, n.j, greatest(kj.kdist, n.dq) AS rd
      FROM knn n JOIN kd kj ON kj.i = n.j
      WHERE n.rn <= {_LOF_K}),
    lrd AS (
      SELECT i,
             (1000000000000000 * {_LOF_K})
               // greatest(CAST(sum(rd) AS BIGINT), 1) AS lrdq
      FROM reach GROUP BY i),
    lof AS (
      SELECT n.i,
             CAST(sum(lj.lrdq) AS BIGINT) AS slrd,
             max(li.lrdq) AS lrdi
      FROM knn n
      JOIN lrd lj ON lj.i = n.j
      JOIN lrd li ON li.i = n.i
      WHERE n.rn <= {_LOF_K}
      GROUP BY n.i)
    SELECT i AS vec_id,
           round(CAST(slrd AS DOUBLE) / ({_LOF_K} * CAST(lrdi AS DOUBLE)),
                 6) AS lof_score
    FROM lof
    ORDER BY CAST(slrd AS DOUBLE) / ({_LOF_K} * CAST(lrdi AS DOUBLE)) DESC,
             i
    LIMIT 10
    """


def lof_chain_from_knn(knn: DataFrame) -> DataFrame:
    """The LOF scoring chain downstream of an EXACT kNN frame with
    columns (i, j, dq, rn<=k): k-distance -> reachability -> integer
    lrd -> LOF, top 10 by score. Shared by the exact all-pairs query
    below and the grid-cell scale twin (queries_ext212.lof_grid_knn),
    which produce identical kNN sets by construction."""
    kd = knn.groupBy("i").agg(F.max("dq").alias("kdist"))
    reach = knn.join(
        kd.select(F.col("i").alias("j"), F.col("kdist").alias("kdist_j")),
        "j",
    ).select("i", "j", F.greatest("kdist_j", "dq").alias("rd"))
    lrd = reach.groupBy("i").agg(
        F.expr(
            f"(1000000000000000 * {_LOF_K})"
            f" DIV greatest(CAST(sum(rd) AS BIGINT), 1L)"
        ).alias("lrdq")
    )
    lof = (
        knn.join(
            lrd.select(F.col("i").alias("j"), F.col("lrdq").alias("lrd_j")),
            "j",
        )
        .join(lrd, "i")
        .groupBy("i", "lrdq")
        .agg(F.sum("lrd_j").cast("bigint").alias("slrd"))
    )
    score = F.col("slrd").cast("double") / (
        _LOF_K * F.col("lrdq").cast("double")
    )
    return (
        lof.select(
            F.col("i").alias("vec_id"), F.round(score, 6).alias("lof_score")
        )
        .orderBy(F.col("lof_score").desc(), "vec_id")
        .limit(10)
    )


@register(
    "lof_embedding_plane",
    LOF_EXACT_SQL,
    tags=("anomaly", "density", "embedding", "brute-baseline"),
)
def q_lof_embedding_plane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Outlier Factor (k=5) over the embedding-plane points: a
    point in a sparse region surrounded by dense clusters scores
    LOF >> 1. Quantization discipline makes the whole chain hash-exact:
    e9-integer distances, exact integer k-distances and reachability
    sums, lrd = 1e15*k DIV sum-reach (one exact integer division), and
    LOF = sum(lrd_neighbors) / (k * lrd_self) dividing two exact
    integers once. Top 10 outliers, deterministic (dq, j) kNN ties."""
    pts = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("px"),
        F.element_at("embedding", 2).cast("double").alias("py"),
    )
    a = pts.alias("a")
    b = pts.select(
        F.col("vec_id").alias("j"),
        F.col("px").alias("bx"),
        F.col("py").alias("by"),
    )
    dist = a.join(F.broadcast(b), F.col("a.vec_id") != F.col("j")).select(
        F.col("a.vec_id").alias("i"),
        "j",
        F.expr(
            "CAST(floor(1.0e9 * sqrt((px - bx) * (px - bx)"
            " + (py - by) * (py - by)) + 0.5) AS BIGINT)"
        ).alias("dq"),
    )
    knn = dist.select(
        "*",
        F.row_number()
        .over(Window.partitionBy("i").orderBy("dq", "j"))
        .alias("rn"),
    ).where(F.col("rn") <= _LOF_K)
    return lof_chain_from_knn(knn)


q_aml_collusion_pairs = register_sql(
    "aml_collusion_pairs",
    """
    WITH pay AS (
      SELECT DISTINCT o_custkey AS sender, l_suppkey AS recv,
             CAST(date_trunc('week', o_orderdate) AS DATE) AS wk
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
    pairs AS (
      SELECT a.sender AS s1, b.sender AS s2,
             CAST(count(*) AS BIGINT) AS n_common
      FROM pay a JOIN pay b
        ON b.recv = a.recv AND b.wk = a.wk AND b.sender > a.sender
      GROUP BY a.sender, b.sender
      HAVING count(*) >= 3),
    deg AS (
      SELECT sender, CAST(count(*) AS BIGINT) AS n_cells
      FROM pay GROUP BY sender)
    SELECT p.s1, p.s2, p.n_common,
           d1.n_cells AS s1_cells, d2.n_cells AS s2_cells,
           round(CAST(p.n_common AS DOUBLE)
                 / (d1.n_cells + d2.n_cells - p.n_common), 6) AS jaccard
    FROM pairs p
    JOIN deg d1 ON d1.sender = p.s1
    JOIN deg d2 ON d2.sender = p.s2
    ORDER BY p.n_common DESC, jaccard DESC, p.s1, p.s2
    LIMIT 10
    """,
    tags=("fraud", "aml", "collusion"),
)


@register(
    "burstiness_memory_gaps",
    """
    WITH gaps AS (
      SELECT CAST(ts AS DATE) AS day, ts, event_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY CAST(ts AS DATE)
               ORDER BY ts, event_id) AS g
      FROM events),
    gs AS (SELECT day, ts, event_id, g FROM gaps WHERE g IS NOT NULL),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(g) AS HUGEINT) AS s,
             CAST(sum(CAST(g AS HUGEINT) * g) AS HUGEINT) AS s2
      FROM gs),
    cons AS (
      SELECT g AS g1,
             lead(g) OVER (PARTITION BY day ORDER BY ts, event_id) AS g2
      FROM gs),
    cp AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(g1) AS HUGEINT) AS s1,
             CAST(sum(g2) AS HUGEINT) AS sb,
             CAST(sum(CAST(g1 AS HUGEINT) * g1) AS HUGEINT) AS s11,
             CAST(sum(CAST(g2 AS HUGEINT) * g2) AS HUGEINT) AS s22,
             CAST(sum(CAST(g1 AS HUGEINT) * g2) AS HUGEINT) AS s12
      FROM cons WHERE g2 IS NOT NULL)
    SELECT m.n AS n_gaps,
           round((sqrt((CAST(m.s2 AS DOUBLE) * m.n
                        - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE))
                       / (CAST(m.n AS DOUBLE) * m.n))
                  - CAST(m.s AS DOUBLE) / m.n)
                 / (sqrt((CAST(m.s2 AS DOUBLE) * m.n
                          - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE))
                         / (CAST(m.n AS DOUBLE) * m.n))
                    + CAST(m.s AS DOUBLE) / m.n), 6) + 0.0 AS burstiness_b,
           round((CAST(c.s12 AS DOUBLE) * c.m
                  - CAST(c.s1 AS DOUBLE) * CAST(c.sb AS DOUBLE))
                 / (sqrt(CAST(c.s11 AS DOUBLE) * c.m
                         - CAST(c.s1 AS DOUBLE) * CAST(c.s1 AS DOUBLE))
                    * sqrt(CAST(c.s22 AS DOUBLE) * c.m
                           - CAST(c.sb AS DOUBLE) * CAST(c.sb AS DOUBLE))),
                 6) + 0.0 AS memory_m
    FROM mom m CROSS JOIN cp c
    """,
    tags=("timeseries", "bursts", "exact-arith"),
)
def q_burstiness_memory_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness/memory decomposition of event
    interarrival gaps: B = (sd - mu)/(sd + mu) (1 = extreme bursts,
    0 = Poisson, -1 = clockwork) and M = lag-1 correlation of
    consecutive gaps (positive = long gaps follow long gaps). Both
    close over exact integer micro-second moment sums from partitioned
    within-day lag/lead spines; human activity classically sits at
    B > 0, M slightly > 0."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy(F.col("ts").cast("date")).orderBy(
        "ts", "event_id"
    )
    gaps = events.select(
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "g"
        ),
    ).where(F.col("g").isNotNull())
    mom = gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("g").cast(_DEC).alias("s"),
        F.sum(F.col("g").cast(_DEC) * F.col("g").cast(_DEC))
        .cast(_DEC)
        .alias("s2"),
    )
    w2 = Window.partitionBy("day").orderBy("ts", "event_id")
    cons = gaps.select(
        F.col("g").alias("g1"), F.lead("g").over(w2).alias("g2")
    ).where(F.col("g2").isNotNull())
    cp = cons.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("g1").cast(_DEC).alias("s1"),
        F.sum("g2").cast(_DEC).alias("sb"),
        F.sum(F.col("g1").cast(_DEC) * F.col("g1").cast(_DEC))
        .cast(_DEC)
        .alias("s11"),
        F.sum(F.col("g2").cast(_DEC) * F.col("g2").cast(_DEC))
        .cast(_DEC)
        .alias("s22"),
        F.sum(F.col("g1").cast(_DEC) * F.col("g2").cast(_DEC))
        .cast(_DEC)
        .alias("s12"),
    )
    sd = F.sqrt(
        (
            F.col("s2").cast("double") * F.col("n")
            - F.col("s").cast("double") * F.col("s").cast("double")
        )
        / (F.col("n").cast("double") * F.col("n"))
    )
    mu = F.col("s").cast("double") / F.col("n")
    mcorr = (
        F.col("s12").cast("double") * F.col("m")
        - F.col("s1").cast("double") * F.col("sb").cast("double")
    ) / (
        F.sqrt(
            F.col("s11").cast("double") * F.col("m")
            - F.col("s1").cast("double") * F.col("s1").cast("double")
        )
        * F.sqrt(
            F.col("s22").cast("double") * F.col("m")
            - F.col("sb").cast("double") * F.col("sb").cast("double")
        )
    )
    return mom.crossJoin(F.broadcast(cp)).select(
        F.col("n").alias("n_gaps"),
        (F.round((sd - mu) / (sd + mu), 6) + F.lit(0.0)).alias(
            "burstiness_b"
        ),
        (F.round(mcorr, 6) + F.lit(0.0)).alias("memory_m"),
    )
