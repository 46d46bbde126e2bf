"""Extension batch 161 (round 6): three more embedding-space health
diagnostics -- hubness (the skewness of the k-occurrence distribution:
high-dimensional metric spaces grow 'hub' points that appear in
everyone's neighbor lists and anti-hubs that appear in nobody's --
the silent killer of k-NN retrieval quality), the Levina-Bickel
local-intrinsic-dimensionality MLE (the k-NN-radius counterpart of
twonn_intrinsic_dim's two-neighbor estimator), and linear CKA between
the embedding's two 32-d halves (centered-kernel-alignment redundancy:
1 = the halves encode the same geometry, 0 = orthogonal information).

Cross-engine discipline:
- Pair dots ride DuckDB list_dot_product == Spark's sequential fold
  (ann_cosine_topk precedent); neighbor ranks tie-break on (d2, qb).
- Hubness moments: k-occurrence counts are exact integers; the three
  raw moments fold in HUGEINT/DECIMAL(38,0) and the zero-count mass
  enters through N (corpus size) exactly.
- LID: per-anchor -(k-1)/sum(0.5 ln(d2_i/d2_k)) with each anchor's
  log-sum e9-quantized before the cross-anchor mean.
- CKA: Gram cells quantize products at e12, per-dim sums at e6
  (identical recipe both engines); centered-cell squares re-quantize
  at e12 before the three Frobenius sums, so the final ratio is a
  pure function of shared integers.

Scale notes: hubness/LID are bounded ANCHOR joins (200/50 anchors x
corpus -- the hard_negative_mining pattern); CKA is the map-side
d(d+1)/2 Gram expansion with a 2080-cell aggregate shuffle
(participation_ratio path). Nothing all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table, spread

_DEC = "decimal(38,0)"
_DIM = 64
_HALF = 32
_K_HUB = 10
_N_Q_HUB = 200
_K_LID = 10
_N_ANCH_LID = 50


_D2_SQL = (
    "list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v)"
    " - 2.0 * list_dot_product(a.v, b.v)"
)


@register(
    "hubness_skewness",
    f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    anch AS (SELECT * FROM base WHERE vec_id < {_N_Q_HUB}),
    dists AS (
      SELECT a.vec_id AS qa, b.vec_id AS qb, {_D2_SQL} AS d2
      FROM anch a JOIN base b ON a.vec_id <> b.vec_id),
    topk AS (
      SELECT qa, qb FROM (
        SELECT qa, qb,
               row_number() OVER (PARTITION BY qa ORDER BY d2, qb) AS rk
        FROM dists) r
      WHERE rk <= {_K_HUB}),
    occ AS (
      SELECT qb, CAST(count(*) AS BIGINT) AS c FROM topk GROUP BY qb),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_vec FROM base),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nonzero,
             CAST(max(c) AS BIGINT) AS cmax,
             CAST(sum(c) AS HUGEINT) AS s1,
             CAST(sum(c * c) AS HUGEINT) AS s2,
             CAST(sum(c * c * c) AS HUGEINT) AS s3
      FROM occ),
    st AS (
      SELECT t.n_vec, m.n_nonzero, m.cmax,
             CAST(m.s1 AS DOUBLE) / t.n_vec AS mu,
             CAST(m.s2 AS DOUBLE) / t.n_vec
               - (CAST(m.s1 AS DOUBLE) / t.n_vec)
                 * (CAST(m.s1 AS DOUBLE) / t.n_vec) AS m2,
             CAST(m.s3 AS DOUBLE) / t.n_vec
               - 3.0 * (CAST(m.s1 AS DOUBLE) / t.n_vec)
                 * (CAST(m.s2 AS DOUBLE) / t.n_vec)
               + 2.0 * (CAST(m.s1 AS DOUBLE) / t.n_vec)
                 * (CAST(m.s1 AS DOUBLE) / t.n_vec)
                 * (CAST(m.s1 AS DOUBLE) / t.n_vec) AS m3
      FROM mom m CROSS JOIN tot t)
    SELECT n_vec AS n_vectors, {_K_HUB} AS k, {_N_Q_HUB} AS n_queries,
           cmax AS max_k_occurrence,
           CAST(n_vec - n_nonzero AS BIGINT) AS n_antihubs,
           round(mu, 6) AS mean_k_occurrence,
           round(m3 / (m2 * sqrt(m2)), 6) + 0.0 AS skewness
    FROM st
    """,
    tags=("embedding", "quality", "hubness"),
)
def q_hubness_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness of the embedding k-NN graph (Radovanovic et al.): for
    200 deterministic query anchors, take each one's 10 nearest
    neighbors over the whole corpus and count per-point k-occurrences
    N_k. The population skewness of N_k (zero-count anti-hubs enter
    through the corpus size N) is THE hubness measure -- skewness >> 0
    means a few hub vectors dominate every neighbor list and k-NN
    retrieval is degenerating; it rises with intrinsic dimension.
    Raw moments are exact integer folds; anti-hub mass is exact."""
    base = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # the BNLJ below broadcasts the corpus and STREAMS the anchors: on a
    # one-row-group scan all 200 x n expansion rows (and the per-anchor
    # top-k WindowGroupLimit) land in a single task -- fan the anchor
    # side out first (readers.spread, no-op when already parallel)
    anch = spread(
        base.where(F.col("vec_id") < _N_Q_HUB).select(
            F.col("vec_id").alias("qa"), F.col("v").alias("va")
        )
    )
    # r13: the three 64-dim dots over 200 x n pairs ran as interpreted
    # higher-order folds (CodegenFallback, ~5x/element) on the scan's
    # single partition; dot_unrolled is the codegen'd left-assoc chain,
    # VALUE-IDENTICAL to the fold incl. the 0.0 seed (similarity.py)
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.similarity import (
        dot_unrolled,
    )

    dists = anch.join(base, F.col("vec_id") != F.col("qa")).select(
        "qa",
        F.col("vec_id").alias("qb"),
        (
            dot_unrolled("va", "va")
            + dot_unrolled("v", "v")
            - 2.0 * dot_unrolled("va", "v")
        ).alias("d2"),
    )
    w = Window.partitionBy("qa").orderBy("d2", "qb")
    topk = (
        dists.select("qa", "qb", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= _K_HUB)
        .select("qa", "qb")
    )
    occ = topk.groupBy("qb").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = base.agg(F.count(F.lit(1)).cast("bigint").alias("n_vec"))
    mom = occ.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nonzero"),
        F.max("c").cast("bigint").alias("cmax"),
        F.sum("c").cast(_DEC).alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast(_DEC).alias("s2"),
        F.sum(F.col("c") * F.col("c") * F.col("c")).cast(_DEC).alias("s3"),
    )
    mu = F.col("s1").cast("double") / F.col("n_vec")
    m2 = F.col("s2").cast("double") / F.col("n_vec") - mu * mu
    m3 = (
        F.col("s3").cast("double") / F.col("n_vec")
        - 3.0 * mu * (F.col("s2").cast("double") / F.col("n_vec"))
        + 2.0 * mu * mu * mu
    )
    st = mom.crossJoin(F.broadcast(tot)).select(
        "n_vec", "n_nonzero", "cmax", mu.alias("mu"), m2.alias("m2"),
        m3.alias("m3"),
    )
    return st.select(
        F.col("n_vec").alias("n_vectors"),
        F.lit(_K_HUB).alias("k"),
        F.lit(_N_Q_HUB).alias("n_queries"),
        F.col("cmax").alias("max_k_occurrence"),
        (F.col("n_vec") - F.col("n_nonzero")).cast("bigint").alias(
            "n_antihubs"
        ),
        F.round(F.col("mu"), 6).alias("mean_k_occurrence"),
        (
            F.round(F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2"))), 6)
            + F.lit(0.0)
        ).alias("skewness"),
    )


@register(
    "lid_mle_anchors",
    f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    anch AS (SELECT * FROM base WHERE vec_id < {_N_ANCH_LID}),
    dists AS (
      SELECT a.vec_id AS qa, b.vec_id AS qb, {_D2_SQL} AS d2
      FROM anch a JOIN base b ON a.vec_id <> b.vec_id),
    ranked AS (
      SELECT qa, d2,
             row_number() OVER (PARTITION BY qa ORDER BY d2, qb) AS rk
      FROM dists WHERE d2 > 1e-12),
    kk AS (
      SELECT qa, max(CASE WHEN rk = {_K_LID} THEN d2 END) AS dk
      FROM ranked WHERE rk <= {_K_LID} GROUP BY qa),
    lsum AS (
      SELECT r.qa,
             CAST(sum(CAST(floor(0.5 * ln(r.d2 / k.dk) * 1e9 + 0.5)
                  AS BIGINT)) AS BIGINT) AS ls_e9
      FROM ranked r JOIN kk k ON k.qa = r.qa
      WHERE r.rk < {_K_LID}
      GROUP BY r.qa),
    lid AS (
      SELECT qa,
             CAST(floor(-CAST({_K_LID - 1} AS DOUBLE)
                  / (CAST(ls_e9 AS DOUBLE) / 1e9) * 1e6 + 0.5) AS BIGINT)
               AS lid_e6
      FROM lsum)
    SELECT CAST(count(*) AS BIGINT) AS n_anchors,
           {_K_LID} AS k,
           round(CAST(sum(lid_e6) AS DOUBLE) / 1e6 / count(*), 4)
             AS mean_lid,
           round(CAST(min(lid_e6) AS DOUBLE) / 1e6, 4) AS min_lid,
           round(CAST(max(lid_e6) AS DOUBLE) / 1e6, 4) AS max_lid
    FROM lid
    """,
    tags=("embedding", "quality", "dimension"),
)
def q_lid_mle_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levina-Bickel local intrinsic dimensionality at k=10 over 50
    anchors: LID(x) = -(k-1) / sum_{i<k} ln(d_i/d_k), with the log
    ratios taken as 0.5 ln(d2_i/d2_k) straight from squared distances.
    Each log ratio e9-quantizes per row (the per-anchor sum is then an
    exact integer fold) before the inversion; per-anchor LIDs
    e6-quantize before the mean. Reads next to twonn_intrinsic_dim: TwoNN uses 2
    neighbors, this pools 10 -- agreement between them is the sanity
    check that the manifold estimate isn't a k artifact."""
    base = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    anch = base.where(F.col("vec_id") < _N_ANCH_LID).select(
        F.col("vec_id").alias("qa"), F.col("v").alias("va")
    )
    # r13: the three 64-dim dots over 200 x n pairs ran as interpreted
    # higher-order folds (CodegenFallback, ~5x/element) on the scan's
    # single partition; dot_unrolled is the codegen'd left-assoc chain,
    # VALUE-IDENTICAL to the fold incl. the 0.0 seed (similarity.py)
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.similarity import (
        dot_unrolled,
    )

    dists = anch.join(base, F.col("vec_id") != F.col("qa")).select(
        "qa",
        F.col("vec_id").alias("qb"),
        (
            dot_unrolled("va", "va")
            + dot_unrolled("v", "v")
            - 2.0 * dot_unrolled("va", "v")
        ).alias("d2"),
    )
    w = Window.partitionBy("qa").orderBy("d2", "qb")
    ranked = dists.where(F.col("d2") > 1e-12).select(
        "qa", "d2", F.row_number().over(w).alias("rk")
    )
    kk = (
        ranked.where(F.col("rk") <= _K_LID)
        .groupBy("qa")
        .agg(F.max(F.when(F.col("rk") == _K_LID, F.col("d2"))).alias("dk"))
    )
    lsum = (
        ranked.where(F.col("rk") < _K_LID)
        .join(kk, "qa")
        .groupBy("qa")
        .agg(
            F.sum(
                F.floor(
                    0.5 * F.log(F.col("d2") / F.col("dk")) * 1e9 + 0.5
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("ls_e9")
        )
    )
    lid = lsum.select(
        "qa",
        F.floor(
            -F.lit(float(_K_LID - 1))
            / (F.col("ls_e9").cast("double") / 1e9)
            * 1e6
            + 0.5
        )
        .cast("bigint")
        .alias("lid_e6"),
    )
    return lid.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        F.lit(_K_LID).alias("k"),
        F.round(
            F.sum("lid_e6").cast("double") / 1e6 / F.count(F.lit(1)), 4
        ).alias("mean_lid"),
        F.round(F.min("lid_e6").cast("double") / 1e6, 4).alias("min_lid"),
        F.round(F.max("lid_e6").cast("double") / 1e6, 4).alias("max_lid"),
    )


@register(
    "cka_feature_halves",
    f"""
    WITH x AS (
      SELECT i, j,
             CAST(floor(CAST(embedding[i] AS DOUBLE)
                  * CAST(embedding[j] AS DOUBLE) * 1e12 + 0.5) AS BIGINT)
               AS p_e12
      FROM embeddings,
           (SELECT unnest(range(1, {_DIM + 1})) AS i) ii,
           (SELECT unnest(range(1, {_DIM + 1})) AS j) jj
      WHERE j >= i),
    cells AS (
      SELECT i, j, CAST(sum(p_e12) AS HUGEINT) AS s_e12
      FROM x GROUP BY i, j),
    dimsum AS (
      SELECT i, CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5)
                   AS BIGINT)) AS HUGEINT) AS s_e6
      FROM embeddings,
           (SELECT unnest(range(1, {_DIM + 1})) AS i) ii
      GROUP BY i),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
    cent AS (
      SELECT c.i, c.j,
             CAST(floor((CAST(c.s_e12 AS DOUBLE) / 1e12
                  - (CAST(si.s_e6 AS DOUBLE) / 1e6)
                    * (CAST(sj.s_e6 AS DOUBLE) / 1e6) / t.n)
                  * (CAST(c.s_e12 AS DOUBLE) / 1e12
                  - (CAST(si.s_e6 AS DOUBLE) / 1e6)
                    * (CAST(sj.s_e6 AS DOUBLE) / 1e6) / t.n)
                  * 1e12 + 0.5) AS BIGINT) AS q_e12
      FROM cells c
      JOIN dimsum si ON si.i = c.i
      JOIN dimsum sj ON sj.i = c.j
      CROSS JOIN tot t),
    blocks AS (
      SELECT CAST(sum(CASE WHEN j <= {_HALF} THEN
                    (CASE WHEN i = j THEN 1 ELSE 2 END) * q_e12 END)
                  AS HUGEINT) AS xx,
             CAST(sum(CASE WHEN i > {_HALF} THEN
                    (CASE WHEN i = j THEN 1 ELSE 2 END) * q_e12 END)
                  AS HUGEINT) AS yy,
             CAST(sum(CASE WHEN i <= {_HALF} AND j > {_HALF} THEN q_e12 END)
                  AS HUGEINT) AS xy
      FROM cent)
    SELECT t.n AS n_vectors,
           round(CAST(b.xy AS DOUBLE) / 1e12, 9) AS hsic_cross,
           round(CAST(b.xx AS DOUBLE) / 1e12, 9) AS hsic_x,
           round(CAST(b.yy AS DOUBLE) / 1e12, 9) AS hsic_y,
           round(CAST(b.xy AS DOUBLE)
                 / sqrt(CAST(b.xx AS DOUBLE) * CAST(b.yy AS DOUBLE)), 6)
             AS cka_linear
    FROM blocks b CROSS JOIN tot t
    """,
    tags=("embedding", "quality", "redundancy"),
)
def q_cka_feature_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear centered-kernel alignment between the embedding's first
    and last 32 dimensions: CKA = ||cov(X,Y)||_F^2 / (||cov(X,X)||_F
    ||cov(Y,Y)||_F) over column-centered blocks -- 1 means the halves
    encode the same geometry (redundant capacity), near 0 means
    complementary information. Entirely from the map-side Gram
    expansion: products e12-quantized, per-dim sums e6-quantized,
    centered-cell squares re-quantized e12 before the three block
    Frobenius sums -- the final ratio is a pure function of shared
    integers, no eigensolve, one 2080-cell shuffle."""
    emb = read_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    x = (
        emb.select(v.alias("v"))
        .select("v", F.explode(F.sequence(F.lit(1), F.lit(_DIM))).alias("i"))
        .select(
            "v", "i", F.explode(F.sequence(F.col("i"), F.lit(_DIM))).alias("j")
        )
        .select(
            "i",
            "j",
            F.floor(
                F.try_element_at("v", F.col("i"))
                * F.try_element_at("v", F.col("j"))
                * 1e12
                + 0.5
            )
            .cast("bigint")
            .alias("p_e12"),
        )
    )
    cells = x.groupBy("i", "j").agg(F.sum("p_e12").cast(_DEC).alias("s_e12"))
    dimsum = (
        emb.select(v.alias("v"))
        .select(F.explode(F.sequence(F.lit(1), F.lit(_DIM))).alias("i"), "v")
        .select(
            "i",
            F.floor(F.try_element_at("v", F.col("i")) * 1e6 + 0.5)
            .cast("bigint")
            .alias("e_e6"),
        )
        .groupBy("i")
        .agg(F.sum("e_e6").cast(_DEC).alias("s_e6"))
    )
    tot = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    si = dimsum.select(F.col("i").alias("ii"), F.col("s_e6").alias("si_e6"))
    sj = dimsum.select(F.col("i").alias("jj"), F.col("s_e6").alias("sj_e6"))
    cdev = (
        F.col("s_e12").cast("double") / 1e12
        - (F.col("si_e6").cast("double") / 1e6)
        * (F.col("sj_e6").cast("double") / 1e6)
        / F.col("n")
    )
    cent = (
        cells.join(F.broadcast(si), F.col("ii") == F.col("i"))
        .join(F.broadcast(sj), F.col("jj") == F.col("j"))
        .crossJoin(F.broadcast(tot))
        .select(
            "i",
            "j",
            F.floor(cdev * cdev * 1e12 + 0.5).cast("bigint").alias("q_e12"),
        )
    )
    wgt = F.when(F.col("i") == F.col("j"), 1).otherwise(2)
    blocks = cent.agg(
        F.sum(F.when(F.col("j") <= _HALF, wgt * F.col("q_e12")))
        .cast(_DEC)
        .alias("xx"),
        F.sum(F.when(F.col("i") > _HALF, wgt * F.col("q_e12")))
        .cast(_DEC)
        .alias("yy"),
        F.sum(
            F.when(
                (F.col("i") <= _HALF) & (F.col("j") > _HALF), F.col("q_e12")
            )
        )
        .cast(_DEC)
        .alias("xy"),
    )
    return blocks.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_vectors"),
        F.round(F.col("xy").cast("double") / 1e12, 9).alias("hsic_cross"),
        F.round(F.col("xx").cast("double") / 1e12, 9).alias("hsic_x"),
        F.round(F.col("yy").cast("double") / 1e12, 9).alias("hsic_y"),
        F.round(
            F.col("xy").cast("double")
            / F.sqrt(F.col("xx").cast("double") * F.col("yy").cast("double")),
            6,
        ).alias("cka_linear"),
    )
