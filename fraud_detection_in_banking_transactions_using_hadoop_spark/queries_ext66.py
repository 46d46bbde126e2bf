"""Extension batch 66: partial autocorrelation (Durbin-Levinson),
ordinal association (Goodman-Kruskal gamma + Somers' D), vocabulary
richness (Chao1 + Good-Turing), and an A/B sample-size calculator.

Scale notes (the 100 TB story per query):
- pacf_daily_revenue: PACF answers "does lag k add signal BEYOND lags
  < k" -- the AR-order picker. Autocovariances c1..c3 accumulate as
  exact n-scaled HUGEINT sums over the row-numbered daily series (the
  autocorr_daily_revenue machinery; the lag shift is an equi-join on
  the day index), then the Durbin-Levinson recursion for phi11, phi22,
  phi33 closes in one double expression from identical integers.
- goodman_kruskal_gamma: concordant/discordant pair counts over the
  5x3 (priority x quantity-tercile) contingency table -- the pair scan
  is over CELLS (15 rows, constant), never rows; gamma and both
  Somers' D asymmetries come from the same exact integer C/D/ties.
- chao1_richness: how much vocabulary is UNSEEN per source -- Chao1's
  bias-corrected estimate S + f1(f1-1)/(2(f2+1)) plus the Good-Turing
  unseen-probability mass f1/N, both from the hapax/dis-legomena
  frequency spectrum (two map-side groupBys, the hapax_ratio shape).
- ab_sample_size_power: the planning companion to
  ab_test_proportions -- given the observed arm rates, the standard
  two-proportion formula for n per arm at alpha=0.05 / power=0.80.
  Rates come from exact integer counts; the z constants are spelled
  identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_Z_A = 1.959964  # two-sided alpha = 0.05
_Z_B = 0.841621  # power = 0.80


# ---------------------------------------------------------------------------
# PACF via Durbin-Levinson from exact autocovariances (lags 1..3).
# ---------------------------------------------------------------------------
@register(
    "pacf_daily_revenue",
    """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(round(o_totalprice * 100, 0)) AS BIGINT) AS x
      FROM orders GROUP BY o_orderdate),
    s AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
             CAST(x AS HUGEINT) AS x
      FROM daily),
    tot AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx FROM s),
    c0 AS (
      SELECT sum((t.n * a.x - t.sx) * (t.n * a.x - t.sx)) AS c
      FROM s a CROSS JOIN tot t),
    ck AS (
      SELECT k.k,
             sum((t.n * a.x - t.sx) * (t.n * b.x - t.sx)) AS c
      FROM s a CROSS JOIN tot t
      JOIN (SELECT unnest(range(1, 4)) AS k) k ON TRUE
      JOIN s b ON b.rn = a.rn + k.k
      GROUP BY k.k),
    r AS (
      SELECT max(CASE WHEN k = 1 THEN CAST(ck.c AS DOUBLE) / CAST(c0.c AS DOUBLE) END) AS r1,
             max(CASE WHEN k = 2 THEN CAST(ck.c AS DOUBLE) / CAST(c0.c AS DOUBLE) END) AS r2,
             max(CASE WHEN k = 3 THEN CAST(ck.c AS DOUBLE) / CAST(c0.c AS DOUBLE) END) AS r3
      FROM ck CROSS JOIN c0),
    dl AS (
      SELECT r1 AS phi11,
             (r2 - r1 * r1) / (1 - r1 * r1) AS phi22,
             r1 - ((r2 - r1 * r1) / (1 - r1 * r1)) * r1 AS phi21,
             r1, r2, r3
      FROM r)
    SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_days,
           round(r1, 6) AS acf1, round(r2, 6) AS acf2, round(r3, 6) AS acf3,
           round(phi11, 6) AS pacf1,
           round(phi22, 6) AS pacf2,
           round((r3 - phi21 * r2 - phi22 * r1)
                 / (1 - phi21 * r1 - phi22 * r2), 6) AS pacf3
    FROM dl
    """,
    tags=("timeseries", "pacf", "exact-arith"),
)
def q_pacf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelations of daily revenue at lags 1-3 via the
    Durbin-Levinson recursion over autocovariances c_k/c_0, each an
    exact n-scaled HUGEINT sum (mean subtraction multiplied through by
    n, the page_hinkley trick). The lag shift is an equi-join on the
    day index (CALENDAR spine); every double is derived from identical
    integers in both engines."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0)).cast("bigint").alias("x")
    )
    s = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("rn"),
        F.col("x").cast(_DEC).alias("x"),
    )
    tot = s.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"), F.sum("x").cast(_DEC).alias("sx")
    )
    a = s.crossJoin(F.broadcast(tot))
    dev = F.col("n") * F.col("x") - F.col("sx")
    c0 = a.agg(F.sum(dev * dev).cast(_DEC).alias("c"))
    lags = spark_range_lags(a)
    b = s.select(F.col("rn").alias("rn_b"), F.col("x").alias("x_b"))
    ck = (
        lags.join(b, F.col("rn_b") == F.col("rn") + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(dev * (F.col("n") * F.col("x_b") - F.col("sx")))
            .cast(_DEC)
            .alias("c")
        )
    )
    r = ck.crossJoin(F.broadcast(c0.select(F.col("c").alias("c0")))).agg(
        *[
            F.max(
                F.when(
                    F.col("k") == k,
                    F.col("c").cast("double") / F.col("c0").cast("double"),
                )
            ).alias(f"r{k}")
            for k in (1, 2, 3)
        ]
    )
    n_days = s.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    phi22 = (r2 - r1 * r1) / (1 - r1 * r1)
    phi21 = r1 - phi22 * r1
    pacf3 = (r3 - phi21 * r2 - phi22 * r1) / (1 - phi21 * r1 - phi22 * r2)
    return r.crossJoin(F.broadcast(n_days)).select(
        "n_days",
        F.round(r1, 6).alias("acf1"),
        F.round(r2, 6).alias("acf2"),
        F.round(r3, 6).alias("acf3"),
        F.round(r1, 6).alias("pacf1"),
        F.round(phi22, 6).alias("pacf2"),
        F.round(pacf3, 6).alias("pacf3"),
    )


def spark_range_lags(a: DataFrame) -> DataFrame:
    """Explode the row-numbered series to (row, lag k) for k = 1..3 --
    map-side, no nested-loop join (the autocorr lag-spine idiom)."""
    return a.select(
        "*", F.explode(F.array(*[F.lit(k) for k in (1, 2, 3)])).alias("k")
    )


# ---------------------------------------------------------------------------
# Goodman-Kruskal gamma + Somers' D over an ordinal contingency table.
# ---------------------------------------------------------------------------
@register(
    "goodman_kruskal_gamma",
    """
    WITH base AS (
      SELECT CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS xo,
             CASE WHEN l.l_quantity <= 16 THEN 1
                  WHEN l.l_quantity <= 33 THEN 2 ELSE 3 END AS yo
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    cells AS (
      SELECT xo, yo, CAST(count(*) AS HUGEINT) AS n
      FROM base GROUP BY xo, yo),
    pairs AS (
      SELECT CAST(sum(CASE WHEN b.xo > a.xo AND b.yo > a.yo
                           THEN a.n * b.n ELSE 0 END) AS HUGEINT) AS conc,
             CAST(sum(CASE WHEN b.xo > a.xo AND b.yo < a.yo
                           THEN a.n * b.n ELSE 0 END) AS HUGEINT) AS disc,
             CAST(sum(CASE WHEN b.xo > a.xo AND b.yo = a.yo
                           THEN a.n * b.n ELSE 0 END) AS HUGEINT) AS tie_y,
             CAST(sum(CASE WHEN b.xo = a.xo AND b.yo > a.yo
                           THEN a.n * b.n ELSE 0 END) AS HUGEINT) AS tie_x
      FROM cells a JOIN cells b
        ON (b.xo > a.xo) OR (b.xo = a.xo AND b.yo > a.yo))
    SELECT CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           round(CAST(conc - disc AS DOUBLE) / CAST(conc + disc AS DOUBLE), 6)
             AS gk_gamma,
           round(CAST(conc - disc AS DOUBLE)
                 / CAST(conc + disc + tie_y AS DOUBLE), 6) AS somers_d_yx,
           round(CAST(conc - disc AS DOUBLE)
                 / CAST(conc + disc + tie_x AS DOUBLE), 6) AS somers_d_xy
    FROM pairs
    """,
    tags=("stats", "ordinal", "exact-arith"),
)
def q_goodman_kruskal_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal association between order priority (1-URGENT..5-LOW) and
    quantity tercile: concordant/discordant/tied pair counts from cell
    cross-products over the 15-cell contingency table (each unordered
    cell pair counted once via the (xo, yo)-lexicographic condition) --
    exact HUGEINT arithmetic, with gamma ignoring ties and the two
    Somers' D asymmetries penalizing ties on the respective dependent
    variable. The cell pair scan is constant-size at any data scale."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    base = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("xo"),
        F.when(F.col("l_quantity") <= 16, 1)
        .when(F.col("l_quantity") <= 33, 2)
        .otherwise(3)
        .alias("yo"),
    )
    cells = base.groupBy("xo", "yo").agg(F.count(F.lit(1)).cast(_DEC).alias("n"))
    a = cells.alias("a")
    b = cells.alias("b")
    cond = (F.col("b.xo") > F.col("a.xo")) | (
        (F.col("b.xo") == F.col("a.xo")) & (F.col("b.yo") > F.col("a.yo"))
    )
    nn = F.col("a.n") * F.col("b.n")
    pairs = a.join(F.broadcast(b), cond).agg(
        F.sum(
            F.when((F.col("b.xo") > F.col("a.xo")) & (F.col("b.yo") > F.col("a.yo")), nn).otherwise(F.lit(0).cast(_DEC))
        )
        .cast(_DEC)
        .alias("conc"),
        F.sum(
            F.when((F.col("b.xo") > F.col("a.xo")) & (F.col("b.yo") < F.col("a.yo")), nn).otherwise(F.lit(0).cast(_DEC))
        )
        .cast(_DEC)
        .alias("disc"),
        F.sum(
            F.when((F.col("b.xo") > F.col("a.xo")) & (F.col("b.yo") == F.col("a.yo")), nn).otherwise(F.lit(0).cast(_DEC))
        )
        .cast(_DEC)
        .alias("tie_y"),
        F.sum(
            F.when((F.col("b.xo") == F.col("a.xo")) & (F.col("b.yo") > F.col("a.yo")), nn).otherwise(F.lit(0).cast(_DEC))
        )
        .cast(_DEC)
        .alias("tie_x"),
    )
    cd, dd = F.col("conc").cast("double"), F.col("disc").cast("double")
    return pairs.select(
        F.col("conc").cast("bigint").alias("concordant"),
        F.col("disc").cast("bigint").alias("discordant"),
        F.round((cd - dd) / (cd + dd), 6).alias("gk_gamma"),
        F.round((cd - dd) / (cd + dd + F.col("tie_y").cast("double")), 6).alias(
            "somers_d_yx"
        ),
        F.round((cd - dd) / (cd + dd + F.col("tie_x").cast("double")), 6).alias(
            "somers_d_xy"
        ),
    )


# ---------------------------------------------------------------------------
# Chao1 richness + Good-Turing unseen mass per source.
# ---------------------------------------------------------------------------
@register(
    "chao1_richness",
    """
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
    types AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS m
      FROM toks GROUP BY source, tok),
    spectrum AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS s_obs,
             CAST(sum(m) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(sum(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM types GROUP BY source)
    SELECT source, s_obs, n_tokens, f1, f2,
           round(s_obs + CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1)), 6)
             AS chao1,
           round(CAST(f1 AS DOUBLE) / n_tokens, 6) AS good_turing_p0
    FROM spectrum
    """,
    tags=("text", "richness", "lexical"),
)
def q_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much vocabulary does each source still hide? Chao1's
    bias-corrected lower bound S + f1(f1-1)/(2(f2+1)) from the
    singleton/doubleton spectrum, plus Good-Turing's unseen-probability
    mass f1/N -- the data-collection stopping signals for a corpus
    pipeline. Two map-side groupBys; exact integer spectrum, one
    closing double per estimator."""
    docs = read_table(spark, sf_dir, "documents")
    types = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    )
    spectrum = types.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("s_obs"),
        F.sum("m").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("m") == 1, 1).otherwise(0)).cast("bigint").alias("f1"),
        F.sum(F.when(F.col("m") == 2, 1).otherwise(0)).cast("bigint").alias("f2"),
    )
    return spectrum.select(
        "source",
        "s_obs",
        "n_tokens",
        "f1",
        "f2",
        F.round(
            F.col("s_obs")
            + F.col("f1").cast("double") * (F.col("f1") - 1) / (2.0 * (F.col("f2") + 1)),
            6,
        ).alias("chao1"),
        F.round(F.col("f1").cast("double") / F.col("n_tokens"), 6).alias(
            "good_turing_p0"
        ),
    )


# ---------------------------------------------------------------------------
# A/B sample-size / power calculator from observed arm rates.
# ---------------------------------------------------------------------------
q_ab_sample_size_power = register_sql(
    "ab_sample_size_power",
    f"""
    WITH users AS (
      SELECT user_id, CAST(user_id % 2 AS INTEGER) AS variant,
             max(CASE WHEN event_type = 'purchase' AND value > 150
                 THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id),
    arms AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(converted) AS BIGINT) AS x
      FROM users GROUP BY variant),
    wide AS (
      SELECT max(CASE WHEN variant = 0 THEN n END) AS n_a,
             max(CASE WHEN variant = 0 THEN x END) AS x_a,
             max(CASE WHEN variant = 1 THEN n END) AS n_b,
             max(CASE WHEN variant = 1 THEN x END) AS x_b
      FROM arms),
    rates AS (
      SELECT n_a, x_a, n_b, x_b,
             CAST(x_a AS DOUBLE) / n_a AS p_a,
             CAST(x_b AS DOUBLE) / n_b AS p_b,
             CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) AS pbar
      FROM wide)
    SELECT n_a, x_a, n_b, x_b,
           round(p_a, 6) AS p_a, round(p_b, 6) AS p_b,
           round(abs(p_a - p_b), 6) AS observed_delta,
           CAST(CASE WHEN p_a <> p_b THEN ceil(
             pow({_Z_A} * sqrt(2 * pbar * (1 - pbar))
                 + {_Z_B} * sqrt(p_a * (1 - p_a) + p_b * (1 - p_b)), 2)
             / pow(p_a - p_b, 2)) END AS BIGINT) AS n_per_arm_80pct
    FROM rates
    """,
    tags=("stats", "ab-test", "planning"),
)
