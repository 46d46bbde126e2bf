"""Extension batch 153 (round 6): the matrix profile (top motif +
discord of 7-day z-normalized windows -- THE modern time-series
primitive: the most-repeated weekly shape and the week least like any
other), an energy-distance two-sample test between embedding label
groups (does the representation actually separate the classes --
the multivariate cousin of energy_distance's 1-D spine version), and
the PIT calibration histogram (probability integral transform of
daily revenue under its fitted normal: if the model were right the
histogram is uniform; the shared A&S erf makes both engines transform
identically).

Cross-engine discipline:
- matrix profile: each pair's dot is ONE explicit 7-term chain over
  the same lead columns (deterministic order), window moments are
  exact integer sums, distances are compared (min/argmin with rn
  tiebreaks), never summed -- no float-accumulation hazard at all.
- energy: every pairwise distance is e9-quantized before the three
  group sums; the vector set is capped at vec_id < 400 (documented:
  the exact-pairs variant; at cluster scale the anchor/LSH tiers
  take over).
- PIT: bin = floor(10 * Phi(z)), an integer from identical doubles.

Scale notes: the matrix-profile pair table is |days|^2 (calendar-
bounded, the hoeffding precedent); energy is capped-pairs by
construction; PIT is one aggregation + 10-cell histogram.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import _erf_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_M = 7          # motif window length (one week)
_EXCL = 4       # trivial-match exclusion half-width
_ENERGY_CAP = 400


_MP_BASE_SQL = f"""
    daily AS (
      SELECT o_orderdate AS d,
             CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) // 100 AS BIGINT) AS v
      FROM orders GROUP BY o_orderdate),
    s AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn, v,
             {", ".join(f"lead(v, {k}) OVER (ORDER BY d) AS x{k}" for k in range(_M))}
      FROM daily),
    win AS (
      SELECT rn, {", ".join(f"CAST(x{k} AS DOUBLE) AS x{k}" for k in range(_M))},
             CAST({" + ".join(f"x{k}" for k in range(_M))} AS BIGINT) AS sw,
             CAST({" + ".join(f"x{k} * x{k}" for k in range(_M))} AS BIGINT)
               AS qw
      FROM s WHERE x{_M - 1} IS NOT NULL),
    pairs AS (
      SELECT a.rn AS ta, b.rn AS tb,
             2.0 * {_M} * (1.0 - least(1.0,
               ({_M}.0 * ({" + ".join(f"a.x{k} * b.x{k}" for k in range(_M))})
                - CAST(a.sw AS DOUBLE) * b.sw)
               / (sqrt({_M}.0 * a.qw - CAST(a.sw AS DOUBLE) * a.sw)
                  * sqrt({_M}.0 * b.qw - CAST(b.sw AS DOUBLE) * b.sw))))
               AS d2
      FROM win a JOIN win b ON b.rn > a.rn + {_EXCL})
"""


@register(
    "matrix_profile_motifs",
    f"""
    WITH {_MP_BASE_SQL},
    motif AS (
      SELECT ta, tb, d2 FROM pairs ORDER BY d2, ta, tb LIMIT 1),
    perwin AS (
      SELECT w.rn, min(p.d2) AS nn_d2
      FROM win w JOIN pairs p ON p.ta = w.rn OR p.tb = w.rn
      GROUP BY w.rn),
    discord AS (
      SELECT rn, nn_d2 FROM perwin ORDER BY nn_d2 DESC, rn LIMIT 1)
    SELECT m.ta AS motif_start_day_a, m.tb AS motif_start_day_b,
           round(sqrt(greatest(m.d2, 0.0)), 6) AS motif_znorm_dist,
           d.rn AS discord_start_day,
           round(sqrt(greatest(d.nn_d2, 0.0)), 6) AS discord_znorm_dist
    FROM motif m CROSS JOIN discord d
    """,
    tags=("timeseries", "matrix-profile", "motif"),
)
def q_matrix_profile_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile over 7-day windows of daily revenue: the MOTIF
    (closest z-normalized window pair outside the +/-4-day trivial
    zone -- the most faithfully repeated weekly shape) and the DISCORD
    (the window whose nearest neighbor is farthest -- the most
    anomalous week). z-distance^2 = 2m(1 - corr) with corr assembled
    from exact integer window moments and one 7-term dot chain per
    pair; distances are only COMPARED (rn tiebreaks), so there is no
    float-sum hazard. Pair table is calendar-bounded |days|^2."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
            " AS BIGINT) DIV 100 AS BIGINT)"
        ).alias("v")
    )
    wd = Window.orderBy("d")
    s = daily.select(
        F.row_number().over(wd).cast("bigint").alias("rn"),
        "v",
        *[F.lead("v", k).over(wd).alias(f"x{k}") for k in range(_M)],
    )
    sw = " + ".join(f"x{k}" for k in range(_M))
    qw = " + ".join(f"x{k} * x{k}" for k in range(_M))
    win = s.where(F.col(f"x{_M - 1}").isNotNull()).select(
        "rn",
        *[F.col(f"x{k}").cast("double").alias(f"x{k}") for k in range(_M)],
        F.expr(f"CAST({sw} AS BIGINT)").alias("sw"),
        F.expr(f"CAST({qw} AS BIGINT)").alias("qw"),
    )
    a = win.alias("a")
    b = win.alias("b")
    dot = " + ".join(f"a.x{k} * b.x{k}" for k in range(_M))
    d2 = F.expr(
        f"2.0 * {_M} * (1.0 - least(1.0,"
        f" ({_M}.0 * ({dot}) - CAST(a.sw AS DOUBLE) * b.sw)"
        f" / (sqrt({_M}.0 * a.qw - CAST(a.sw AS DOUBLE) * a.sw)"
        f"    * sqrt({_M}.0 * b.qw - CAST(b.sw AS DOUBLE) * b.sw))))"
    )
    # NOTE: pairs is referenced 3x (motif scan + both NN-union sides);
    # an eager checkpoint of PAIRS was MEASURED SLOWER (29.5 s vs 21 s
    # at sf0.01) -- materializing the |days|^2 rows costs more than
    # recomputing the broadcast-NL join, so pairs stays lazy. What IS
    # worth materializing (r7) is the 2.4k-row WINDOW frame: the global
    # window leaves it in ONE partition, and the BNLJ stream side
    # inherits that, so all |days|^2/2 dot products ran in a single
    # task per evaluation (bench: 13 s wall, parallelism 1.45). A
    # localCheckpoint + repartition fans the scan across the cluster
    # and cuts the window-job lineage out of the 3 re-evaluations
    # (13.0 -> 3.9 s at sf0.1).
    win = win.repartition(32, "rn").localCheckpoint(eager=True)
    a = win.alias("a")
    b = win.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("b.rn") > F.col("a.rn") + _EXCL
    ).select(
        F.col("a.rn").alias("ta"), F.col("b.rn").alias("tb"), d2.alias("d2")
    )
    # ONE evaluation of the pair scan: emit both endpoints of every
    # pair (symmetric explode), aggregate the per-window nearest
    # neighbor WITH its partner, and derive motif AND discord from the
    # 2.4k-row aggregate (checkpointed -- it is read twice). The motif
    # derivation is tiebreak-equivalent to the old ORDER BY d2, ta, tb
    # over ta<tb pairs: the smallest endpoint of any min-distance pair
    # is necessarily a `ta`, and its min_by partner is the min tb.
    sides = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("ta").alias("rn"),
                    F.col("tb").alias("partner"),
                    F.col("d2"),
                ),
                F.struct(
                    F.col("tb").alias("rn"),
                    F.col("ta").alias("partner"),
                    F.col("d2"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    perwin = sides.groupBy("rn").agg(
        F.min("d2").alias("nn_d2"),
        F.expr("min_by(partner, struct(d2, partner))").alias("nn"),
    )
    perwin = perwin.localCheckpoint(eager=True)
    motif = (
        perwin.orderBy("nn_d2", "rn", "nn")
        .limit(1)
        .select(
            F.col("rn").alias("motif_start_day_a"),
            F.col("nn").alias("motif_start_day_b"),
            F.col("nn_d2").alias("m_d2"),
        )
    )
    discord = (
        perwin.orderBy(F.col("nn_d2").desc(), "rn")
        .limit(1)
        .select(
            F.col("rn").alias("discord_start_day"),
            F.col("nn_d2").alias("dd2"),
        )
    )
    return motif.crossJoin(F.broadcast(discord)).select(
        "motif_start_day_a",
        "motif_start_day_b",
        F.round(F.sqrt(F.greatest(F.col("m_d2"), F.lit(0.0))), 6).alias(
            "motif_znorm_dist"
        ),
        "discord_start_day",
        F.round(F.sqrt(F.greatest(F.col("dd2"), F.lit(0.0))), 6).alias(
            "discord_znorm_dist"
        ),
    )


@register(
    "embedding_energy_2sample",
    f"""
    WITH base AS (
      SELECT vec_id, label % 2 AS grp, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < {_ENERGY_CAP}),
    pairs AS (
      SELECT a.grp AS ga, b.grp AS gb,
             CAST(floor(sqrt(greatest(
               list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v)
               - 2.0 * list_dot_product(a.v, b.v), 0.0)) * 1e9 + 0.5)
               AS BIGINT) AS d_e9
      FROM base a JOIN base b ON a.vec_id < b.vec_id),
    sums AS (
      SELECT
        CAST(sum(CASE WHEN ga <> gb THEN d_e9 END) AS HUGEINT) AS s_xy,
        CAST(sum(CASE WHEN ga = 0 AND gb = 0 THEN d_e9 END) AS HUGEINT)
          AS s_xx,
        CAST(sum(CASE WHEN ga = 1 AND gb = 1 THEN d_e9 END) AS HUGEINT)
          AS s_yy,
        CAST(sum(CASE WHEN ga <> gb THEN 1 ELSE 0 END) AS BIGINT) AS n_xy,
        CAST(sum(CASE WHEN ga = 0 AND gb = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_xx,
        CAST(sum(CASE WHEN ga = 1 AND gb = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_yy
      FROM pairs)
    SELECT n_xy AS n_cross_pairs, n_xx AS n_within_0, n_yy AS n_within_1,
           round(2.0 * CAST(s_xy AS DOUBLE) / 1e9 / n_xy
                 - CAST(s_xx AS DOUBLE) / 1e9 / n_xx
                 - CAST(s_yy AS DOUBLE) / 1e9 / n_yy, 6) + 0.0
             AS energy_statistic
    FROM sums
    """,
    tags=("embedding", "two-sample", "energy"),
)
def q_embedding_energy_2sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Szekely energy two-sample statistic between the even and odd
    label groups in EMBEDDING SPACE: E = 2 E||X-Y|| - E||X-X'|| -
    E||Y-Y'|| over all pairs of the first 400 vectors (the exact
    variant; E > 0 iff the group distributions differ). Per-pair
    Euclidean distances come from three fold-dots and are e9-quantized
    before the three group sums, so the statistic is one deterministic
    double expression. The multivariate upgrade of the 1-D
    energy_distance spine query."""
    base = read_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < _ENERGY_CAP
    ).select(
        "vec_id",
        (F.col("label") % 2).alias("grp"),
        F.col("embedding").cast("array<double>").alias("v"),
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, z: acc + z
        )

    a = base.select(
        F.col("vec_id").alias("ia"), F.col("grp").alias("ga"), F.col("v").alias("va")
    )
    b = base.select(
        F.col("vec_id").alias("ib"), F.col("grp").alias("gb"), F.col("v").alias("vb")
    )
    pairs = a.join(b, F.col("ia") < F.col("ib")).select(
        "ga",
        "gb",
        F.floor(
            F.sqrt(
                F.greatest(
                    dot(F.col("va"), F.col("va"))
                    + dot(F.col("vb"), F.col("vb"))
                    - 2.0 * dot(F.col("va"), F.col("vb")),
                    F.lit(0.0),
                )
            )
            * 1e9
            + 0.5
        )
        .cast("bigint")
        .alias("d_e9"),
    )
    sums = pairs.agg(
        F.sum(F.when(F.col("ga") != F.col("gb"), F.col("d_e9")))
        .cast(_DEC)
        .alias("s_xy"),
        F.sum(
            F.when((F.col("ga") == 0) & (F.col("gb") == 0), F.col("d_e9"))
        )
        .cast(_DEC)
        .alias("s_xx"),
        F.sum(
            F.when((F.col("ga") == 1) & (F.col("gb") == 1), F.col("d_e9"))
        )
        .cast(_DEC)
        .alias("s_yy"),
        F.sum(F.when(F.col("ga") != F.col("gb"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_xy"),
        F.sum(
            F.when((F.col("ga") == 0) & (F.col("gb") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_xx"),
        F.sum(
            F.when((F.col("ga") == 1) & (F.col("gb") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_yy"),
    )
    return sums.select(
        F.col("n_xy").alias("n_cross_pairs"),
        F.col("n_xx").alias("n_within_0"),
        F.col("n_yy").alias("n_within_1"),
        (
            F.round(
                2.0 * F.col("s_xy").cast("double") / 1e9 / F.col("n_xy")
                - F.col("s_xx").cast("double") / 1e9 / F.col("n_xx")
                - F.col("s_yy").cast("double") / 1e9 / F.col("n_yy"),
                6,
            )
            + F.lit(0.0)
        ).alias("energy_statistic"),
    )


@register(
    "pit_histogram_calibration",
    f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) // 100 AS BIGINT) AS v
      FROM orders GROUP BY o_orderdate),
    mom AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS sxx
      FROM daily),
    pit AS (
      SELECT least(9, greatest(0, CAST(floor(10.0 * 0.5 * (1.0 + {_erf_sql(
          "(CAST(d2.v AS DOUBLE) - CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))"
          " / sqrt((CAST(m.n AS DOUBLE) * m.sxx - CAST(m.sx AS DOUBLE) * m.sx)"
          "        / CAST(m.n AS DOUBLE) / (CAST(m.n AS DOUBLE) - 1.0))"
          " / sqrt(2.0)")})) AS BIGINT))) AS bin
      FROM daily d2 CROSS JOIN mom m),
    hist AS (
      SELECT g.bin, CAST(coalesce(p.c, 0) AS BIGINT) AS n_days
      FROM (SELECT unnest(range(0, 10)) AS bin) g
      LEFT JOIN (SELECT bin, CAST(count(*) AS BIGINT) AS c
                 FROM pit GROUP BY bin) p ON p.bin = g.bin),
    tot AS (SELECT CAST(sum(n_days) AS BIGINT) AS n FROM hist)
    SELECT h.bin AS pit_decile, h.n_days,
           round(CAST(h.n_days AS DOUBLE) / t.n, 6) AS share,
           round(CAST(10 * h.n_days - t.n AS DOUBLE)
                 * (10 * h.n_days - t.n) / (10.0 * t.n * t.n), 6)
             AS chi2_term_x_n
    FROM hist h CROSS JOIN tot t
    ORDER BY h.bin
    """,
    tags=("stats", "calibration", "forecast"),
)
def q_pit_histogram_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-integral-transform check of the fitted normal for
    daily revenue: PIT = Phi((x - mu_hat)/s_hat) bucketed into
    deciles. A correct model gives a flat histogram; the U-shape this
    data shows is the fat-tails signature (echoing lilliefors/
    cornish_fisher). Bins are integers from identical doubles (shared
    A&S erf); the chi-square contribution per cell is emitted n-scaled
    so the oracle compares exact expressions."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
            " AS BIGINT) DIV 100 AS BIGINT)"
        ).alias("v")
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum(F.col("v").cast(_DEC)).cast(_DEC).alias("sx"),
        F.sum(F.col("v").cast(_DEC) * F.col("v")).cast(_DEC).alias("sxx"),
    )
    z = (
        "(CAST(v AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
        " / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
        "        / CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0))"
        " / sqrt(2.0)"
    )
    pit = daily.crossJoin(F.broadcast(mom)).select(
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0),
                F.expr(
                    f"CAST(floor(10.0 * 0.5 * (1.0 + {_erf_sql(z)})) AS BIGINT)"
                ),
            ),
        ).alias("bin")
    )
    grid = spark.range(0, 10).select(F.col("id").alias("bin"))
    counts = pit.groupBy("bin").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    hist = grid.join(F.broadcast(counts), "bin", "left").select(
        "bin", F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("n_days")
    )
    tot = hist.agg(F.sum("n_days").cast("bigint").alias("n"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").alias("pit_decile"),
            "n_days",
            F.round(F.col("n_days").cast("double") / F.col("n"), 6).alias(
                "share"
            ),
            F.round(
                (10 * F.col("n_days") - F.col("n")).cast("double")
                * (10 * F.col("n_days") - F.col("n"))
                / (10.0 * F.col("n") * F.col("n")),
                6,
            ).alias("chi2_term_x_n"),
        )
        .orderBy("pit_decile")
    )
