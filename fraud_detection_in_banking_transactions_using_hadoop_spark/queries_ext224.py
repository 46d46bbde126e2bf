"""Extension batch 224 (round 10): Rice entropy coding, Kneser-Ney
smoothing, and the power-iteration stationary distribution.

- multimodal_rice_stats: the 10th REAL codec -- FLAC-style order-1
  prediction + zigzag + Golomb-Rice coding of the md5-derived random
  walk (prefix sums of byte-128 deltas, so residuals are small and the
  coder actually compresses). The Rice parameter k is an EXHAUSTIVE
  exact-integer argmin over k in 0..15 (smallest-k tiebreak), which
  makes the whole parameter choice plain SQL aggregation -- the first
  codec in the tier whose oracle needs NO recursion: the order-1
  residuals telescope to the deltas themselves (d_0 = s_0 with seed 0),
  so DuckDB scores every k from a 16-row spine and picks the same one.
  The Spark side runs the REAL bit-packing codec
  (operators/multimodal.encode_rice/decode_rice, roundtrip-exact) and
  reports its internal totals.
- kneser_ney_bigrams: interpolated Kneser-Ney bigram smoothing over
  per-user event-type sequences -- the language-model estimator used by
  every LM-data pipeline, in EXACT RATIONAL arithmetic: discount
  D = 3/4, so P_KN(w2|w1) = max(4c-3,0)/(4*c1) + 3*N1+(w1.)/(4*c1)
  * N1+(.w2)/T with a single common denominator 4*c1*T and one scaled
  integer division at the end (prob_kn_e9). The sum-to-1 law over the
  full vocabulary is pinned exactly in integers by the invariant test.
- markov_stationary_distribution: the event-type chain's stationary
  vector by 40 power-iteration rounds -- a bounded-state ALIGNED FLOAT
  FOLD (kalman/holt discipline: Spark = driver fold over the collected
  5x5 count matrix, DuckDB = recursive CTE with the state vector
  pivoted into 5 DOUBLE columns; identical left-associated FMA-free
  arithmetic => bit-identical doubles, outputs quantized by floor(x*1e9
  + 0.5) so no round() parity trap). Emits pi against the EMPIRICAL
  occupancy share -- the ergodicity check markov_entropy_rate (ext~)
  takes on faith -- plus the per-state |v40 - v39| convergence delta.

Reference: beyond-reference multimodal/LLM-pipeline tiers.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.fold import collect_nonempty
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext147 import (
    _MD5_HEX_SQL,
    _md5_media,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_RICE_N = 60  # samples per media (one per md5 byte)
_STATES = ["click", "error", "purchase", "signup", "view"]
_PI_ROUNDS = 40


# ---------------------------------------------------------------------------
# multimodal_rice_stats
# ---------------------------------------------------------------------------
@register(
    "multimodal_rice_stats",
    f"""
    WITH {_MD5_HEX_SQL},
    d AS (SELECT media_id, i AS k, v - 128 AS d FROM b),
    z AS (
      SELECT media_id, k,
             CASE WHEN d >= 0 THEN 2 * d ELSE -2 * d - 1 END AS z
      FROM d),
    kb AS (
      SELECT media_id, kk,
             CAST(sum((z // CAST(power(2, kk) AS BIGINT)) + 1 + kk)
                  AS BIGINT) AS bits,
             CAST(max(z // CAST(power(2, kk) AS BIGINT)) AS BIGINT) AS mu
      FROM z, (SELECT unnest(range(0, 16)) AS kk) ks
      GROUP BY media_id, kk),
    best AS (
      SELECT media_id, kk, bits, mu,
             row_number() OVER (PARTITION BY media_id
                                ORDER BY bits, kk) AS rn
      FROM kb)
    SELECT media_id, CAST({_RICE_N} AS BIGINT) AS n_samples,
           CAST(kk AS BIGINT) AS rice_k,
           bits + 8 AS total_bits,
           (bits + 8 + 7) // 8 AS code_bytes,
           mu AS max_unary,
           ({_RICE_N} * 16 * 1000000) // (bits + 8) AS ratio_e6
    FROM best WHERE rn = 1
    """,
    tags=("multimodal", "arrow", "codec", "audio", "lossless"),
)
def q_multimodal_rice_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golomb-Rice tier (module docstring): the real bit-packing codec
    runs per media through mapInPandas; the signal is the md5 random
    walk (prefix sums of byte-128), whose order-1 residuals the coder
    recovers. Lossless: the decode roundtrip is asserted IN the hot
    path for every media (cheap at 60 samples, and it makes the hash
    gate also a roundtrip gate)."""
    from pyspark.sql import types as T

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.multimodal import (
        decode_rice,
        encode_rice,
        rice_pick_k,
        rice_zigzag,
    )

    raw = _md5_media(read_table(spark, sf_dir, "documents"))
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("rice_k", T.LongType()),
            T.StructField("total_bits", T.LongType()),
            T.StructField("code_bytes", T.LongType()),
            T.StructField("max_unary", T.LongType()),
            T.StructField("ratio_e6", T.LongType()),
        ]
    )

    def op(batches):
        import itertools

        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in schema.fieldNames()}
            for row in pdf.itertuples():
                deltas = [int(x) - 128 for x in bytes(row.content)]
                signal = list(itertools.accumulate(deltas))
                data = encode_rice(signal)
                assert decode_rice(data, len(signal)) == signal
                k, bits, mu = rice_pick_k(rice_zigzag(signal))
                total = bits + 8
                assert len(data) == (total + 7) // 8
                out["media_id"].append(row.media_id)
                out["n_samples"].append(len(signal))
                out["rice_k"].append(k)
                out["total_bits"].append(total)
                out["code_bytes"].append(len(data))
                out["max_unary"].append(mu)
                out["ratio_e6"].append(len(signal) * 16 * 1000000 // total)
            yield pd.DataFrame(out)

    return raw.mapInPandas(op, schema=schema)


# ---------------------------------------------------------------------------
# kneser_ney_bigrams
# ---------------------------------------------------------------------------
_KN_BIGRAMS_SQL = """
    seq AS (
      SELECT user_id, event_type AS w1,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY event_id) AS w2
      FROM events),
    bg AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE w2 IS NOT NULL GROUP BY w1, w2)
"""


@register(
    "kneser_ney_bigrams",
    f"""
    WITH {_KN_BIGRAMS_SQL},
    lft AS (
      SELECT w1, CAST(sum(c) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS n1w
      FROM bg GROUP BY w1),
    cont AS (
      SELECT w2, CAST(count(*) AS BIGINT) AS ncont FROM bg GROUP BY w2),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bg)
    SELECT b.w1, b.w2, b.c AS bigram_count, l.c1 AS left_count,
           l.n1w AS followers, co.ncont AS continuations,
           CAST((CAST(t.t AS HUGEINT)
                   * greatest(4 * b.c - 3, 0)
                 + 3 * CAST(l.n1w AS HUGEINT) * co.ncont)
                * 1000000000
                // (4 * CAST(l.c1 AS HUGEINT) * t.t) AS BIGINT)
             AS prob_kn_e9
    FROM bg b
    JOIN lft l ON l.w1 = b.w1
    JOIN cont co ON co.w2 = b.w2
    CROSS JOIN tt t
    """,
    tags=("text", "language-model", "smoothing", "exact-arith"),
)
def q_kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram table (module docstring): exact
    rational arithmetic with D = 3/4 cleared to the common denominator
    4*c1*T; one scaled integer division emits prob_kn_e9."""
    ev = read_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    seq = ev.select(
        "user_id",
        F.col("event_type").alias("w1"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("event_id"))
        .alias("w2"),
    )
    bg = (
        seq.where(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    lft = bg.groupBy("w1").agg(
        F.sum("c").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1w"),
    )
    cont = bg.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("ncont")
    )
    tt = bg.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    return (
        bg.join(lft, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            F.col("c").alias("bigram_count"),
            F.col("c1").alias("left_count"),
            F.col("n1w").alias("followers"),
            F.col("ncont").alias("continuations"),
            F.expr(
                "CAST((CAST(t AS DECIMAL(38,0))"
                "        * greatest(4 * c - 3, 0)"
                "      + 3 * CAST(n1w AS DECIMAL(38,0)) * ncont)"
                "     * 1000000000"
                "     DIV (4 * CAST(c1 AS DECIMAL(38,0)) * t) AS BIGINT)"
            ).alias("prob_kn_e9"),
        )
    )


# ---------------------------------------------------------------------------
# markov_stationary_distribution
# ---------------------------------------------------------------------------
def _pi_cols() -> list:
    return [f"v{j}" for j in range(len(_STATES))]


def _markov_stationary_sql() -> str:
    ns = len(_STATES)
    state_vals = ", ".join(
        f"({i}, '{s}')" for i, s in enumerate(_STATES)
    )
    # 25 transition probabilities as one 1-row CTE of DOUBLE columns
    p_cols = ", ".join(
        f"coalesce(sum(CASE WHEN w1 = '{_STATES[i]}' AND w2 = '{_STATES[j]}'"
        f" THEN c END), 0) * 1.0"
        f" / greatest(sum(CASE WHEN w1 = '{_STATES[i]}' THEN c END), 1)"
        f" AS p{i}_{j}"
        for i in range(ns)
        for j in range(ns)
    )
    # one power-iteration step per recursion round, left-associated
    # (column names come from the FIRST branch; positions must line up)
    steps = ", ".join(
        "("
        + " + ".join(f"f.v{i} * p.p{i}_{j}" for i in range(ns))
        + ")"
        for j in range(ns)
    )
    init = ", ".join(f"CAST(0.2 AS DOUBLE) AS v{j}" for j in range(ns))
    carry = ", ".join(f"f.v{j}" for j in range(ns))
    return f"""
    WITH RECURSIVE {_KN_BIGRAMS_SQL},
    pm AS (SELECT {p_cols} FROM bg),
    fold AS (
      SELECT 0 AS r, {init},
             {', '.join(f'CAST(0.2 AS DOUBLE) AS pv{j}' for j in range(ns))}
      UNION ALL
      SELECT f.r + 1, {steps},
             {carry}
      FROM fold f CROSS JOIN pm p WHERE f.r < {_PI_ROUNDS}),
    fin AS (
      SELECT * FROM fold WHERE r = {_PI_ROUNDS}),
    emp AS (
      SELECT w1, CAST(sum(c) AS BIGINT) AS occ FROM bg GROUP BY w1),
    tot AS (SELECT CAST(sum(occ) AS BIGINT) AS n FROM emp),
    st AS (SELECT * FROM (VALUES {state_vals}) AS t(i, state)),
    pil AS (
      SELECT st.state,
             CASE st.i {' '.join(f'WHEN {j} THEN fin.v{j}' for j in range(ns))} END AS pi,
             CASE st.i {' '.join(f'WHEN {j} THEN fin.pv{j}' for j in range(ns))} END AS prev
      FROM st CROSS JOIN fin)
    SELECT p.state,
           CAST(floor(p.pi * 1.0e9 + 0.5) AS BIGINT) AS pi_e9,
           CAST(floor(abs(p.pi - p.prev) * 1.0e12 + 0.5) AS BIGINT)
             AS delta_e12,
           (coalesce(e.occ, 0) * 1000000000) // t.n AS empirical_e9,
           CAST(row_number() OVER (ORDER BY p.pi DESC, p.state) AS BIGINT)
             AS pi_rank
    FROM pil p
    LEFT JOIN emp e ON e.w1 = p.state
    CROSS JOIN tot t
    """


@register(
    "markov_stationary_distribution",
    _markov_stationary_sql(),
    tags=("graph", "markov", "stateful", "aligned-fold"),
)
def q_markov_stationary_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Power-iteration stationary distribution of the event-type chain
    (module docstring): bounded driver fold over the collected 5x5
    transition-count matrix, mirroring the oracle's recursive CTE
    arithmetic exactly (same left-associated double sums, same
    floor-quantization)."""
    ev = read_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    seq = ev.select(
        "user_id",
        F.col("event_type").alias("w1"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("event_id"))
        .alias("w2"),
    )
    bg = (
        seq.where(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    rows = collect_nonempty(bg, "markov stationary transition counts")
    ns = len(_STATES)
    idx = {s: i for i, s in enumerate(_STATES)}
    cmat = [[0] * ns for _ in range(ns)]
    for r in rows:
        cmat[idx[r["w1"]]][idx[r["w2"]]] = int(r["c"])
    rsum = [sum(cmat[i]) for i in range(ns)]
    p = [
        [
            cmat[i][j] * 1.0 / max(rsum[i], 1)
            for j in range(ns)
        ]
        for i in range(ns)
    ]
    v = [0.2] * ns
    prev = list(v)
    for _ in range(_PI_ROUNDS):
        prev = list(v)
        nv = []
        for j in range(ns):
            acc = v[0] * p[0][j]
            for i in range(1, ns):
                acc = acc + v[i] * p[i][j]
            nv.append(acc)
        v = nv
    occ = [sum(cmat[i]) for i in range(ns)]  # outgoing occupancy
    n = sum(occ)
    order = sorted(range(ns), key=lambda j: (-v[j], _STATES[j]))
    rank = {j: k + 1 for k, j in enumerate(order)}
    out = [
        (
            _STATES[j],
            int(math.floor(v[j] * 1.0e9 + 0.5)),
            int(math.floor(abs(v[j] - prev[j]) * 1.0e12 + 0.5)),
            occ[j] * 1000000000 // n,
            rank[j],
        )
        for j in range(ns)
    ]
    return spark.createDataFrame(
        out,
        "state string, pi_e9 long, delta_e12 long,"
        " empirical_e9 long, pi_rank long",
    )
