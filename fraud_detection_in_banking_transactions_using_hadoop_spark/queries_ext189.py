"""Extension batch 189 (round 7): AML layering + streaming-sketch +
ranking-fairness + reliability tier.

- aml_pass_through: the LAYERING detector the fan-in/structuring
  screens can't see -- money entering an account and leaving again
  within 48 h at a similar amount (80-120%, the EXACT integer bound
  10*out between 8*in and 12*in -- float casts round differently across
  engines). The events stream is read
  as transfers user_id -> props.k; the in/out match is an EQUI-join on
  (middle account, day bucket) with the day exploded over {d, d+1, d+2}
  (the interval_overlap precedent), so pair growth is bounded by
  per-account-per-day traffic, never |events|^2.
- peeling_chain_lengths: per-account longest run of strictly
  DECREASING consecutive payment amounts -- the classic peeling-chain
  AML signature -- via the run-length break-sum trick on per-user
  partitioned windows (total order ts, event_id; no global window).
- ams_f2_sketch: the Alon-Matias-Szegedy second-frequency-moment
  sketch: 16 deterministic md5-sign counters over the user-frequency
  vector, estimate = mean of squared counter sums, printed against the
  exact F2 -- every quantity an exact integer, so the SKETCH ERROR
  itself is under the hash gate.
- exposure_parity_ranking: position-bias fairness of the
  revenue-ranked nation list: exposure 1/log2(1+rank) (e12-quantized
  integers before the cross-row sum) vs revenue share, disparity
  ratio per nation.
- ttt_exponentiality: Barlow's total-time-on-test statistic for
  exponentiality of event interarrival gaps on the with_global_rank
  spine (bucket_bits fast path): V = sum_k TTT_k / TTT_n, z against
  the null mean (n-1)/2, var (n-1)/12. IFR (aging) pushes V up,
  bursty/DFR traffic pushes it down.

Cross-engine discipline: integer cents/micros end to end; ratios
divide once; the only libm is ln() inside the e12-quantized exposure
weights; signed rounded outputs carry '+ 0.0'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.rank import with_global_rank
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_PT_WINDOW_US = 172_800_000_000  # 48 h
_PT_LO, _PT_HI = 0.8, 1.2
_AMS_K = 16


@register(
    "aml_pass_through",
    f"""
    WITH e AS (
      SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS benef,
             epoch_us(ts) AS us, CAST(ts AS DATE) AS day,
             CAST(round(value * 100, 0) AS BIGINT) AS cents,
             event_id
      FROM events),
    pairs AS (
      SELECT a.benef AS middle,
             a.cents AS cents_in, b.cents AS cents_out,
             b.us - a.us AS gap_us
      FROM e a JOIN e b
        ON b.user_id = a.benef
       AND b.day IN (a.day, a.day + 1, a.day + 2)
       AND b.us > a.us AND b.us <= a.us + {_PT_WINDOW_US}
       AND 10 * b.cents >= 8 * a.cents
       AND 10 * b.cents <= 12 * a.cents),
    agg AS (
      SELECT middle,
             CAST(count(*) AS BIGINT) AS n_pass,
             CAST(sum(cents_in) AS HUGEINT) AS sin,
             CAST(sum(gap_us) AS HUGEINT) AS sgap,
             CAST(sum((1000000 * CAST(cents_out AS HUGEINT))
                      // cents_in) AS HUGEINT) AS sratio
      FROM pairs GROUP BY middle)
    SELECT middle AS middle_account, n_pass,
           CAST(sin // 100 AS BIGINT) AS matched_in_dollars,
           CAST((sgap // n_pass) // 60000000 AS BIGINT) AS mean_gap_minutes,
           CAST(sratio // n_pass AS BIGINT) AS mean_ratio_ppm
    FROM agg
    ORDER BY n_pass DESC, middle LIMIT 10
    """,
    tags=("fraud", "aml", "layering"),
)
def q_aml_pass_through(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pass-through (layering) screen: transfers enter an account
    (user -> props.k) and matching amounts (80-120%) leave it again
    (user_id = that account) within 48 h. The in/out match is an
    equi-join on (middle, day bucket) -- the incoming side explodes its
    day over {d, d+1, d+2}, so the join never degenerates to an
    all-pairs time scan. Top 10 middles by matched transfer count with
    exact integer dollar/gap/ratio summaries."""
    events = read_table(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("benef"),
        F.unix_micros("ts").alias("us"),
        F.col("ts").cast("date").alias("day"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        "event_id",
    )
    a = e.select(
        F.col("benef").alias("middle"),
        F.col("cents").alias("cents_in"),
        F.col("us").alias("us_in"),
        F.explode(
            F.array(
                F.col("day"),
                F.date_add("day", 1),
                F.date_add("day", 2),
            )
        ).alias("jday"),
    )
    b = e.select(
        F.col("user_id").alias("middle"),
        F.col("cents").alias("cents_out"),
        F.col("us").alias("us_out"),
        F.col("day").alias("jday"),
    )
    pairs = a.join(b, ["middle", "jday"]).where(
        (F.col("us_out") > F.col("us_in"))
        & (F.col("us_out") <= F.col("us_in") + F.lit(_PT_WINDOW_US))
        & (10 * F.col("cents_out") >= 8 * F.col("cents_in"))
        & (10 * F.col("cents_out") <= 12 * F.col("cents_in"))
    )
    agg = pairs.groupBy("middle").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pass"),
        F.sum(F.col("cents_in").cast(_DEC)).cast(_DEC).alias("sin"),
        F.sum((F.col("us_out") - F.col("us_in")).cast(_DEC))
        .cast(_DEC)
        .alias("sgap"),
        F.sum(
            F.expr("(1000000 * CAST(cents_out AS decimal(38,0))) DIV cents_in")
        )
        .cast(_DEC)
        .alias("sratio"),
    )
    return (
        agg.select(
            F.col("middle").alias("middle_account"),
            "n_pass",
            F.expr("CAST(sin DIV 100 AS BIGINT)").alias("matched_in_dollars"),
            F.expr("CAST((sgap DIV n_pass) DIV 60000000 AS BIGINT)").alias(
                "mean_gap_minutes"
            ),
            F.expr("CAST(sratio DIV n_pass AS BIGINT)").alias(
                "mean_ratio_ppm"
            ),
        )
        .orderBy(F.col("n_pass").desc(), "middle_account")
        .limit(10)
    )


q_peeling_chain_lengths = register_sql(
    "peeling_chain_lengths",
    """
    WITH e AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events),
    brk AS (
      SELECT user_id, ts, event_id, cents,
             CASE WHEN cents < lag(cents) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                  THEN 0 ELSE 1 END AS brk
      FROM e),
    grp AS (
      SELECT user_id,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS g
      FROM brk),
    runs AS (
      SELECT user_id, g, CAST(count(*) AS BIGINT) AS run_len
      FROM grp GROUP BY user_id, g),
    per_user AS (
      SELECT user_id,
             CAST(max(run_len) AS BIGINT) AS max_peel_chain,
             CAST(sum(CASE WHEN run_len >= 4 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_chains_ge_4,
             CAST(sum(run_len) AS BIGINT) AS n_events
      FROM runs GROUP BY user_id)
    SELECT user_id, n_events, max_peel_chain, n_chains_ge_4
    FROM per_user
    ORDER BY max_peel_chain DESC, user_id LIMIT 10
    """,
    tags=("fraud", "aml", "sequence"),
)


@register(
    "ams_f2_sketch",
    f"""
    WITH freq AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS f
      FROM events GROUP BY user_id),
    exact AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(f) AS BIGINT) AS n_events,
             CAST(sum(CAST(f AS HUGEINT) * f) AS BIGINT) AS f2
      FROM freq),
    signs AS (
      SELECT f.user_id, f.f, j.j,
             1 - 2 * (('0x' || substr(md5(CAST(f.user_id AS VARCHAR)
                        || '#' || CAST(j.j AS VARCHAR)), 1, 1))::BIGINT % 2)
               AS sgn
      FROM freq f CROSS JOIN (SELECT unnest(range({_AMS_K})) AS j) j),
    counters AS (
      SELECT j, CAST(sum(f * sgn) AS BIGINT) AS z
      FROM signs GROUP BY j),
    est AS (
      SELECT CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS sz2 FROM counters)
    SELECT e.n_users, e.n_events, e.f2 AS exact_f2,
           CAST(s.sz2 // {_AMS_K} AS BIGINT) AS ams_estimate,
           round((CAST(s.sz2 // {_AMS_K} AS DOUBLE) - e.f2) / e.f2, 6) + 0.0
             AS rel_error
    FROM exact e CROSS JOIN est s
    """,
    tags=("sketch", "streaming", "exact-arith"),
)
def q_ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alon-Matias-Szegedy F2 sketch: 16 counters z_j = sum_u f_u *
    sgn_j(u) with deterministic +-1 signs from the first md5 hex digit
    of user#counter; the estimate mean_j(z_j^2) is unbiased for
    F2 = sum f^2 (the self-join size / repeat-rate statistic every
    shuffle planner wants). Every quantity is an exact integer, so the
    SKETCH'S OWN ERROR is under the hash gate -- the oracle checks the
    estimator, not just the data."""
    freq = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    exact = freq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("f").cast("bigint").alias("n_events"),
        F.sum(F.col("f").cast(_DEC) * F.col("f").cast(_DEC))
        .cast("bigint")
        .alias("f2"),
    )
    signs = freq.select(
        "user_id",
        "f",
        F.explode(F.sequence(F.lit(0), F.lit(_AMS_K - 1))).alias("j"),
    ).select(
        "j",
        "f",
        (
            1
            - 2
            * (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("user_id").cast("string"),
                                F.lit("#"),
                                F.col("j").cast("string"),
                            )
                        ),
                        1,
                        1,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2
            )
        ).alias("sgn"),
    )
    counters = signs.groupBy("j").agg(
        F.sum(F.col("f") * F.col("sgn")).cast("bigint").alias("z")
    )
    est = counters.agg(
        F.sum(F.col("z").cast(_DEC) * F.col("z").cast(_DEC))
        .cast(_DEC)
        .alias("sz2")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_users",
        "n_events",
        F.col("f2").alias("exact_f2"),
        F.expr(f"CAST(sz2 DIV {_AMS_K} AS BIGINT)").alias("ams_estimate"),
        (
            F.round(
                (
                    F.expr(f"CAST(sz2 DIV {_AMS_K} AS BIGINT)").cast("double")
                    - F.col("f2")
                )
                / F.col("f2"),
                6,
            )
            + F.lit(0.0)
        ).alias("rel_error"),
    )


@register(
    "exposure_parity_ranking",
    """
    WITH rev AS (
      SELECT c_nationkey AS nk,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY c_nationkey),
    ranked AS (
      SELECT nk, cents,
             CAST(row_number() OVER (ORDER BY cents DESC, nk) AS BIGINT)
               AS rnk
      FROM rev),
    ew AS (
      SELECT nk, cents, rnk,
             CAST(round(1.0e12 * ln(2.0) / ln(CAST(rnk + 1 AS DOUBLE)), 0)
                  AS BIGINT) AS e12
      FROM ranked),
    tot AS (
      SELECT CAST(sum(cents) AS HUGEINT) AS tc,
             CAST(sum(e12) AS BIGINT) AS te
      FROM ew)
    SELECT nk AS nationkey, rnk AS revenue_rank,
           round(CAST(cents AS DOUBLE) / CAST(t.tc AS DOUBLE), 6)
             AS revenue_share,
           round(CAST(e12 AS DOUBLE) / t.te, 6) AS exposure_share,
           round((CAST(e12 AS DOUBLE) / t.te)
                 / (CAST(cents AS DOUBLE) / CAST(t.tc AS DOUBLE)), 4)
             AS disparity_ratio
    FROM ew CROSS JOIN tot t
    """,
    tags=("ranking", "fairness"),
)
def q_exposure_parity_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exposure parity of the revenue-ranked nation list: position bias
    gives rank r the exposure 1/log2(1+r) (the NDCG discount), and a
    fair ranking hands each nation exposure proportional to its
    revenue share. Exposure weights e12-quantize BEFORE the cross-row
    sum (exact integer totals; ln() is the only libm call and sits
    inside the quantization). disparity_ratio > 1 = over-exposed for
    its economic weight."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    rev = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    ranked = rev.select(
        "nk",
        "cents",
        F.row_number()
        .over(Window.orderBy(F.col("cents").desc(), "nk"))
        .cast("bigint")
        .alias("rnk"),
    )
    ew = ranked.select(
        "nk",
        "cents",
        "rnk",
        F.expr(
            "CAST(round(1.0e12 * ln(2.0)"
            " / ln(CAST(rnk + 1 AS DOUBLE)), 0) AS BIGINT)"
        ).alias("e12"),
    )
    tot = ew.agg(
        F.sum(F.col("cents").cast(_DEC)).cast(_DEC).alias("tc"),
        F.sum("e12").cast("bigint").alias("te"),
    )
    out = ew.crossJoin(F.broadcast(tot))
    rshare = F.col("cents").cast("double") / F.col("tc").cast("double")
    eshare = F.col("e12").cast("double") / F.col("te")
    return out.select(
        F.col("nk").alias("nationkey"),
        F.col("rnk").alias("revenue_rank"),
        F.round(rshare, 6).alias("revenue_share"),
        F.round(eshare, 6).alias("exposure_share"),
        F.round(eshare / rshare, 4).alias("disparity_ratio"),
    )


@register(
    "ttt_exponentiality",
    """
    WITH gaps AS (
      SELECT event_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY CAST(ts AS DATE)
               ORDER BY ts, event_id) AS g
      FROM events),
    gs AS (SELECT event_id, g FROM gaps WHERE g IS NOT NULL),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(g) AS BIGINT) AS s
      FROM gs),
    rk AS (
      SELECT g,
             CAST(row_number() OVER (ORDER BY g, event_id) AS BIGINT) AS k,
             CAST(sum(g) OVER (ORDER BY g, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS pre
      FROM gs),
    ttt AS (
      SELECT CAST(sum(CAST(pre + (t.n - k) * g AS HUGEINT)) AS HUGEINT)
               AS sv
      FROM rk CROSS JOIN tot t WHERE k < t.n)
    SELECT t.n AS n_gaps,
           round(CAST(v.sv AS DOUBLE) / t.s, 6) AS ttt_v,
           round((CAST(v.sv AS DOUBLE) / t.s - (t.n - 1) / 2.0)
                 / sqrt((t.n - 1) / 12.0), 4) + 0.0 AS z_exponentiality
    FROM ttt v CROSS JOIN tot t
    """,
    tags=("reliability", "queueing", "rank-operator"),
)
def q_ttt_exponentiality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Barlow's total-time-on-test test for exponentiality of event
    interarrival gaps (within-day lags, the kingman_gg1 spine): with
    order statistics g_(1..n), TTT_k = prefix_k + (n-k) g_(k), and
    V = sum_{k<n} TTT_k / TTT_n is uniform-mean (n-1)/2 under the
    exponential null -- z > 0 reads as aging/IFR traffic, z < 0 as
    bursty/DFR. The global order comes off with_global_rank's
    bucket_bits fast path (gap DIV 2^32 projection buckets) with the
    exact inclusive prefix sum; no single-partition window touches the
    fact table."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy(F.col("ts").cast("date")).orderBy(
        "ts", "event_id"
    )
    gaps = events.select(
        "event_id",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "g"
        ),
    ).where(F.col("g").isNotNull())
    tot = gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("s"),
    )
    rk = with_global_rank(
        gaps,
        "g",
        [F.col("g"), F.col("event_id")],
        rank_col="k",
        prefix_sum={"pre": "g"},
        bucket_bits=32,
    )
    ttt = (
        rk.crossJoin(F.broadcast(tot))
        .where(F.col("k") < F.col("n"))
        .agg(
            F.sum(
                (
                    F.col("pre").cast(_DEC)
                    + (F.col("n") - F.col("k")).cast(_DEC)
                    * F.col("g").cast(_DEC)
                )
            )
            .cast(_DEC)
            .alias("sv")
        )
    )
    return ttt.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_gaps"),
        F.round(F.col("sv").cast("double") / F.col("s"), 6).alias("ttt_v"),
        (
            F.round(
                (
                    F.col("sv").cast("double") / F.col("s")
                    - (F.col("n") - 1) / 2.0
                )
                / F.sqrt((F.col("n") - 1) / 12.0),
                4,
            )
            + F.lit(0.0)
        ).alias("z_exponentiality"),
    )
