"""Extension batch 15: streaming sketch maintenance, epidemiology-style
effect sizes, CUPED variance reduction, a Zipf power-law fit, and
deterministic negative sampling for training data.

Scale notes:
- streaming_cms_replay maintains the count-min sketch INCREMENTALLY:
  each micro-batch folds its (cell -> count) partials into a persisted
  state table behind the crash-safe atomic swap, and the final
  estimates provably equal the batch sketch (the DuckDB oracle IS the
  batch formulation). Sketch merge is addition, so the fold is
  associative -- the property that makes sketches the scale answer.
- The odds-ratio screen and CUPED both reduce to exact integer
  sufficient statistics followed by one closing expression; CUPED's
  theta = cov(x,y)/var(x) reuses the exact-OLS machinery.
- The Zipf fit runs OLS on (ln rank, ln freq) pairs scaled to e8
  integers -- power-law slope estimation with zero cross-engine float
  accumulation.
- Negative sampling generates k pseudo-random candidate parts per user
  from a multiplicative integer hash (reproducible!), then anti-joins
  the user's actual purchases -- the standard recsys/contrastive
  training-data generator, fully deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_P = 2147483647  # Mersenne prime 2^31-1, the CMS/bloom hash modulus


def _bucket(key_col, row_col, width):
    a = F.lit(999983) + F.lit(104729) * row_col
    b = F.lit(12289) * row_col
    return (((key_col % F.lit(_P).cast("bigint")) * a + b) % F.lit(_P).cast("bigint")) % width


# ---------------------------------------------------------------------------
# Streaming count-min sketch maintenance: fold per-batch cell partials
# into persisted state; final estimates == the batch sketch.
# ---------------------------------------------------------------------------
@register(
    "streaming_cms_replay",
    """
    WITH hashed AS (
      SELECT user_id AS k, r.i AS row_id,
             (((user_id % 2147483647) * (999983 + 104729 * r.i) + 12289 * r.i)
              % 2147483647) % 256 AS bucket
      FROM events, (SELECT unnest(range(0, 4)) AS i) r
    ),
    cells AS (
      SELECT row_id, bucket, CAST(count(*) AS BIGINT) AS c
      FROM hashed GROUP BY row_id, bucket
    ),
    keyhash AS (
      SELECT k, r.i AS row_id,
             (((k % 2147483647) * (999983 + 104729 * r.i) + 12289 * r.i)
              % 2147483647) % 256 AS bucket
      FROM (SELECT DISTINCT user_id AS k FROM events),
           (SELECT unnest(range(0, 4)) AS i) r
    ),
    est AS (
      SELECT kh.k, min(ce.c) AS est_cnt
      FROM keyhash kh JOIN cells ce USING (row_id, bucket)
      GROUP BY kh.k
    ),
    exact AS (
      SELECT user_id AS k, CAST(count(*) AS BIGINT) AS exact_cnt
      FROM events GROUP BY user_id
    )
    SELECT CAST(e.k AS BIGINT) AS user_id, CAST(e.est_cnt AS BIGINT) AS est_cnt,
           x.exact_cnt
    FROM est e JOIN exact x USING (k)
    ORDER BY est_cnt DESC, user_id
    LIMIT 20
    """,
    tags=("streaming", "sketch", "cms"),
)
def q_streaming_cms_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS maintained OVER A STREAM: the events table replays in four
    micro-batches; each foreachBatch computes its (row, bucket) cell
    partials and folds them into a parquet state table behind the
    crash-safe atomic swap (operators/merge). Because sketch merge is
    integer addition, the folded sketch is bit-identical to the batch
    sketch -- which is exactly what the DuckDB oracle computes, so this
    live streaming pipeline sits under the full hash gate. Estimates
    probe the final state like the batch CMS (broadcast cells, min
    over rows)."""
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.merge import (
        atomic_overwrite,
        recover_table,
    )
    from fraud_detection_in_banking_transactions_using_hadoop_spark.session import (
        normalize_runtime_conf,
    )

    normalize_runtime_conf(spark)
    base = Path(tempfile.mkdtemp(prefix="cms_stream_"))
    src, state = base / "src", base / "state"
    ev = read_table(spark, sf_dir, "events").select("user_id")
    ev.repartition(4).write.parquet(str(src))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    rows = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("row_id")

    def fold(batch_df, batch_id):
        cells = (
            batch_df.select(F.col("user_id").cast("bigint").alias("k"), rows)
            .select("row_id", _bucket(F.col("k"), F.col("row_id"), 256).alias("bucket"))
            .groupBy("row_id", "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        try:
            recover_table(spark, str(state))
            merged = (
                spark.read.parquet(str(state))
                .unionByName(cells)
                .groupBy("row_id", "bucket")
                .agg(F.sum("c").cast("bigint").alias("c"))
            )
            atomic_overwrite(merged, str(state), f"cms{batch_id}")
        except Exception:
            cells.write.mode("overwrite").parquet(str(state))

    q = stream.writeStream.foreachBatch(fold).trigger(availableNow=True).start()
    q.awaitTermination()

    cells = spark.read.parquet(str(state))
    keys = ev.select(F.col("user_id").cast("bigint").alias("k")).distinct()
    keyhash = keys.select("k", rows).select(
        "k", "row_id", _bucket(F.col("k"), F.col("row_id"), 256).alias("bucket")
    )
    est = (
        keyhash.join(F.broadcast(cells), ["row_id", "bucket"])
        .groupBy("k")
        .agg(F.min("c").alias("est_cnt"))
    )
    exact = ev.groupBy(F.col("user_id").cast("bigint").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_cnt")
    )
    return (
        est.join(exact, "k")
        .select(
            F.col("k").cast("bigint").alias("user_id"),
            F.col("est_cnt").cast("bigint").alias("est_cnt"),
            "exact_cnt",
        )
        .orderBy(F.desc("est_cnt"), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Odds ratio + relative risk of high-value purchase by variant, with
# the log-OR confidence interval.
# ---------------------------------------------------------------------------
q_odds_ratio_screen = register_sql(
    "odds_ratio_screen",
    """
    WITH users AS (
      SELECT user_id, CAST(user_id % 2 AS INTEGER) AS variant,
             max(CASE WHEN event_type = 'purchase' AND value > 150
                 THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    cells AS (
      SELECT CAST(sum(CASE WHEN variant = 0 AND converted = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN variant = 0 AND converted = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(sum(CASE WHEN variant = 1 AND converted = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(sum(CASE WHEN variant = 1 AND converted = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM users
    )
    SELECT a, b, c, d,
           round((CAST(a AS DOUBLE) / b) / (CAST(c AS DOUBLE) / d), 6) AS odds_ratio,
           round((CAST(a AS DOUBLE) / (a + b)) / (CAST(c AS DOUBLE) / (c + d)), 6)
             AS relative_risk,
           round(exp(ln((CAST(a AS DOUBLE) / b) / (CAST(c AS DOUBLE) / d))
                     - 1.959964 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 6)
             AS or_ci_lo,
           round(exp(ln((CAST(a AS DOUBLE) / b) / (CAST(c AS DOUBLE) / d))
                     + 1.959964 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 6)
             AS or_ci_hi
    FROM cells
    """,
    tags=("stats", "odds-ratio", "A1"),
)


# ---------------------------------------------------------------------------
# CUPED variance reduction: regression-adjust the purchase outcome by
# the pre-period view-count covariate, exact sufficient statistics.
# ---------------------------------------------------------------------------
@register(
    "cuped_adjustment",
    """
    WITH users AS (
      SELECT user_id, CAST(user_id % 2 AS INTEGER) AS variant,
             CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM users
    ),
    theta AS (
      SELECT CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
               AS th,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
      FROM stats
    ),
    arms AS (
      SELECT u.variant, CAST(count(*) AS BIGINT) AS n_arm,
             round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS raw_mean_cents,
             round(CAST(sum(y) AS DOUBLE) / count(*)
                   - t.th * (CAST(sum(x) AS DOUBLE) / count(*) - t.xbar), 6)
               AS cuped_mean_cents
      FROM users u CROSS JOIN theta t
      GROUP BY u.variant, t.th, t.xbar
    )
    SELECT CAST(variant AS INTEGER) AS variant, n_arm, raw_mean_cents,
           cuped_mean_cents
    FROM arms
    """,
    tags=("experimentation", "cuped", "exact-arith"),
)
def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED: y_adj = y - theta*(x - xbar) with theta = cov(x,y)/var(x)
    estimated from EXACT integer sufficient statistics (views as the
    pre-period covariate, purchase cents as the outcome). The 1-row
    theta broadcasts onto the per-arm aggregates; each arm reports its
    raw and adjusted mean. The adjusted difference keeps the same
    expectation with lower variance -- the standard experimentation
    trick, here fully deterministic."""
    ev = read_table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    users = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "view", 1)).cast("bigint").alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100, 0).cast("bigint"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("y"),
    ).withColumn("variant", (F.col("user_id") % 2).cast("integer"))
    stats = users.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).cast(dec).alias("sx"),
        F.sum(F.col("y").cast(dec)).cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
    )
    theta = stats.select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("th"),
        (F.col("sx").cast("double") / F.col("n").cast("double")).alias("xbar"),
    )
    arms = (
        users.crossJoin(F.broadcast(theta))
        .groupBy("variant", "th", "xbar")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_arm"),
            F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias(
                "raw_mean_cents"
            ),
            F.round(
                F.sum("y").cast("double") / F.count(F.lit(1))
                - F.max("th")
                * (F.sum("x").cast("double") / F.count(F.lit(1)) - F.max("xbar")),
                6,
            ).alias("cuped_mean_cents"),
        )
    )
    return arms.select(
        F.col("variant").cast("integer").alias("variant"),
        "n_arm",
        "raw_mean_cents",
        "cuped_mean_cents",
    )


# ---------------------------------------------------------------------------
# Zipf power-law fit: OLS slope of ln(frequency) on ln(rank) for part
# popularity, with e8-integer log grids.
# ---------------------------------------------------------------------------
@register(
    "zipf_powerlaw_fit",
    """
    WITH freq AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS f FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT CAST(round(ln(CAST(row_number() OVER (ORDER BY f DESC, l_partkey)
                               AS DOUBLE)) * 1e8, 0) AS BIGINT) AS lr_e8,
             CAST(round(ln(CAST(f AS DOUBLE)) * 1e8, 0) AS BIGINT) AS lf_e8
      FROM freq
    ),
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(lr_e8 AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(lf_e8 AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(sum(CAST(lr_e8 AS HUGEINT) * lf_e8) AS HUGEINT) AS sxy,
             CAST(sum(CAST(lr_e8 AS HUGEINT) * lr_e8) AS HUGEINT) AS sxx
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_parts,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
           round((CAST(sy AS DOUBLE)
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) / 1e8, 6) AS ln_intercept
    FROM s
    """,
    tags=("powerlaw", "zipf", "exact-arith"),
)
def q_zipf_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is part popularity Zipfian? OLS of ln(freq) on ln(rank): both
    logs land on the e8 integer grid before any sum, the sufficient
    statistics are exact (the e8 scale cancels in the slope), and the
    slope/intercept close in one expression each. A slope near -1
    means classic Zipf; synthetic uniform-ish data sits near 0 -- the
    diagnostic either way."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.rank import with_global_rank

    li = read_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    freq = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    # popularity rank via the distributed two-level plan (operators/
    # rank) -- the |parts|-grain table never funnels through one task
    gr = with_global_rank(
        freq,
        "f",
        [F.desc("f"), F.col("l_partkey").asc()],
        ascending=False,
        rank_col="_rk",
    )
    ranked = gr.select(
        F.round(F.log(F.col("_rk").cast("double")) * 1e8, 0)
        .cast("bigint")
        .alias("lr_e8"),
        F.round(F.log(F.col("f").cast("double")) * 1e8, 0).cast("bigint").alias("lf_e8"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("lr_e8").cast(dec)).cast(dec).alias("sx"),
        F.sum(F.col("lf_e8").cast(dec)).cast(dec).alias("sy"),
        F.sum(F.col("lr_e8").cast(dec) * F.col("lf_e8")).cast(dec).alias("sxy"),
        F.sum(F.col("lr_e8").cast(dec) * F.col("lr_e8")).cast(dec).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    return s.select(
        F.col("n").cast("bigint").alias("n_parts"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
            / 1e8,
            6,
        ).alias("ln_intercept"),
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling: k hash-generated candidate parts per
# purchasing customer, anti-joined against actual purchases.
# ---------------------------------------------------------------------------
@register(
    "negative_sampling",
    """
    WITH purchased AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    bounds AS (SELECT max(p_partkey) + 1 AS n_parts FROM part),
    cand AS (
      SELECT c.cust, s.i AS slot,
             (((c.cust % 2147483647) * (999983 + 104729 * s.i) + 12289 * s.i)
              % 2147483647) % (SELECT n_parts FROM bounds) AS part
      FROM (SELECT DISTINCT cust FROM purchased) c,
           (SELECT unnest(range(0, 5)) AS i) s
    )
    SELECT CAST(c.cust AS BIGINT) AS cust, CAST(c.slot AS INTEGER) AS slot,
           CAST(c.part AS BIGINT) AS neg_part
    FROM cand c
    WHERE NOT EXISTS (
      SELECT 1 FROM purchased p WHERE p.cust = c.cust AND p.part = c.part
    )
    """,
    tags=("training-data", "negative-sampling", "anti-join"),
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training negatives: five candidate parts per
    customer drawn by the multiplicative integer hash (reproducible
    across runs AND engines -- no rand()), anti-joined against the
    customer's true purchase set so only genuine negatives survive.
    The anti-join shuffles on (cust, part) like any dedupe; candidate
    generation is pure map-side. The slot index keeps the output
    deterministic and lets a trainer vary negatives per epoch by
    changing the slot range."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    purchased = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    n_parts = part.agg((F.max("p_partkey") + 1).alias("n_parts"))
    slots = F.explode(F.array(*[F.lit(i) for i in range(5)])).alias("slot")
    cand = (
        purchased.select("cust")
        .distinct()
        .select("cust", slots)
        .crossJoin(F.broadcast(n_parts))
        .select(
            "cust",
            "slot",
            (_bucket(F.col("cust"), F.col("slot"), F.col("n_parts"))).alias("part"),
        )
    )
    return cand.join(purchased, ["cust", "part"], "left_anti").select(
        F.col("cust").cast("bigint").alias("cust"),
        F.col("slot").cast("integer").alias("slot"),
        F.col("part").cast("bigint").alias("neg_part"),
    )
