"""Feature-engineering batch: weighted sampling without replacement,
leave-one-out target encoding, and association rules -- the ML-side
operators between the corpus pipeline and the trainer.

Determinism: the weighted sample replaces rand() with an md5-derived
uniform (CLAUDE.md hash-split discipline), so the SAME rows win at any
cluster size and in both engines; target encoding derives its mean from
the round(4)ed group sum (the avg-parity rule) so 1-ulp parallel-sum
noise can't flip the round(6) output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.rank import with_global_rank
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table, spread


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
# key = -ln(u) / w with a deterministic hash uniform u; the k SMALLEST
# keys are the sample. One pass + a global top-k -- no rand(), no
# multi-round rejection.
# ---------------------------------------------------------------------------
@register(
    "weighted_sample_topk",
    """
    WITH t AS (
      SELECT doc_id, n_chars,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1.0)
               / 4294967297.0 AS u
      FROM documents),
    keyed AS (
      SELECT doc_id, n_chars, -ln(u) / n_chars AS k FROM t),
    ranked AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
             round(k, 8) AS sample_key,
             CAST(row_number() OVER (ORDER BY k, doc_id) AS INTEGER) AS rk
      FROM keyed)
    SELECT doc_id, weight, sample_key, rk FROM ranked WHERE rk <= 20
    """,
    tags=("pipeline", "sampling", "weighted"),
)
def q_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-ES weighted sample: P(doc in sample) proportional to n_chars,
    exactly reproducible because u = md5(doc_id)-derived (rand(seed)
    changes with partitioning; the hash never does). Plan: map-side key
    computation + TakeOrderedAndProject for the global k-smallest -- no
    full sort, no shuffle beyond the top-k combine. Keys are md5-spread
    doubles, so the 1-ulp libm ln() difference can't reorder them
    (adjacent keys differ by ~1e-3, not 1e-16)."""
    docs = read_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "double"
        )
        + 1.0
    ) / 4294967297.0
    k = -F.log(u) / F.col("n_chars")
    # orderBy().limit() plans as TakeOrderedAndProject (per-partition
    # heaps + one 20-row merge), NOT a global sort; the rank window then
    # runs on 20 rows only.
    top = docs.select("doc_id", "n_chars", k.alias("k")).orderBy("k", "doc_id").limit(20)
    w = Window.orderBy(F.col("k"), F.col("doc_id"))
    return top.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("weight"),
        F.round("k", 8).alias("sample_key"),
        F.row_number().over(w).cast("int").alias("rk"),
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding: encode a categorical column by the
# mean of the target over the OTHER rows in its category -- the
# standard leakage-free categorical feature.
# ---------------------------------------------------------------------------
q_target_encoding = register_sql(
    "target_encoding",
    """
    WITH s AS (
      SELECT o_orderpriority, round(sum(o_totalprice), 4) AS sm,
             count(*) AS n
      FROM orders GROUP BY o_orderpriority)
    SELECT o_orderkey, o.o_orderpriority,
           round(CASE WHEN n > 1 THEN (sm - o_totalprice) / (n - 1) END, 6)
             AS prio_loo_mean
    FROM orders o JOIN s ON s.o_orderpriority = o.o_orderpriority
    """,
    tags=("feature", "encoding"),
)


# ---------------------------------------------------------------------------
# Association rules (market basket): support / confidence / lift for
# the top co-purchased part pairs. The classic retail analytics shape;
# also the edge-weight twin of khop_reachability's graph.
# ---------------------------------------------------------------------------
@register(
    "association_rules",
    """
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    nb AS (SELECT count(DISTINCT o) AS n_baskets FROM li),
    item AS (SELECT p, count(*) AS cnt FROM li GROUP BY p),
    pair AS (
      SELECT a.p AS pa, b.p AS pb, count(*) AS cnt
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p),
    ranked AS (
      SELECT pa, pb, pair.cnt,
             round(pair.cnt * 1.0 / n_baskets, 6) AS support,
             round(pair.cnt * 1.0 / ia.cnt, 6) AS confidence,
             round((pair.cnt * 1.0 / ia.cnt) / (ib.cnt * 1.0 / n_baskets), 6) AS lift,
             CAST(row_number() OVER (ORDER BY pair.cnt DESC, pa, pb) AS INTEGER) AS rk
      FROM pair
      JOIN item ia ON ia.p = pair.pa
      JOIN item ib ON ib.p = pair.pb
      CROSS JOIN nb)
    SELECT CAST(pa AS BIGINT) AS pa, CAST(pb AS BIGINT) AS pb,
           CAST(cnt AS BIGINT) AS cnt, support, confidence, lift, rk
    FROM ranked WHERE rk <= 20
    """,
    tags=("analytics", "basket"),
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 association rules a->b. Pair counts come from the
    oriented basket self-join (shuffle on the order key, bounded by
    sum(basket^2)); item counts and the basket total are broadcast
    dims. Support/confidence/lift are ratios of exact counts -- same
    doubles in both engines. At retail scale the pair table is the
    hot spot: cap basket size upstream (a 10k-item basket contributes
    5*10^7 pairs) exactly like the LSH bucket cap."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    nb = li.agg(F.count_distinct("o").alias("n_baskets"))
    item = li.groupBy("p").agg(F.count("*").alias("cnt"))
    a = li.alias("a")
    b = li.alias("b")
    pair = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count("*").alias("cnt"))
    )
    ia = item.select(F.col("p").alias("pa"), F.col("cnt").alias("cnt_a"))
    ib = item.select(F.col("p").alias("pb"), F.col("cnt").alias("cnt_b"))
    # Take the top-20 pairs FIRST (TakeOrderedAndProject -- per-partition
    # heaps, no global sort), then join the tiny result against the
    # broadcast dims and rank the 20 survivors.
    top = pair.orderBy(F.col("cnt").desc(), "pa", "pb").limit(20)
    w = Window.orderBy(F.col("cnt").desc(), "pa", "pb")
    return (
        top.join(F.broadcast(ia), "pa")
        .join(F.broadcast(ib), "pb")
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("pa").cast("bigint").alias("pa"),
            F.col("pb").cast("bigint").alias("pb"),
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round(F.col("cnt") * 1.0 / F.col("n_baskets"), 6).alias("support"),
            F.round(F.col("cnt") * 1.0 / F.col("cnt_a"), 6).alias("confidence"),
            F.round(
                (F.col("cnt") * 1.0 / F.col("cnt_a"))
                / (F.col("cnt_b") * 1.0 / F.col("n_baskets")),
                6,
            ).alias("lift"),
            F.row_number().over(w).cast("int").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation: Pearson over average ranks, with the ranks
# computed by the scalable two-phase spine (distinct-value counts +
# prefix sum), not a global per-row rank window.
# ---------------------------------------------------------------------------
_SPEARMAN_SQL = """
    WITH base AS (
      SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
    vx AS (
      SELECT x, count(*) AS c,
             coalesce(sum(count(*)) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM base GROUP BY x),
    vy AS (
      SELECT y, count(*) AS c,
             coalesce(sum(count(*)) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM base GROUP BY y),
    ranked AS (
      SELECT vx.cb + (vx.c + 1.0) / 2 AS rx,
             vy.cb + (vy.c + 1.0) / 2 AS ry,
             base.x, base.y
      FROM base JOIN vx USING (x) JOIN vy USING (y))
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(corr(rx, ry), 6) AS spearman_rho,
           round(corr(x, y), 6) AS pearson_r
    FROM ranked
"""


@register("spearman_corr", _SPEARMAN_SQL, tags=("stats", "rank"))
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rho without a global rank window: average ranks come
    from the distinct-value spine (grouped counts + prefix sum). The
    x spine (l_quantity) is domain-bounded at 50 values and broadcasts;
    the y spine (l_extendedprice) is ~O(rows) (measured 59.8k/583k
    distinct at sf0.01/0.1), so its prefix sum runs on
    operators/rank.with_global_rank's two-level plan and the join-back
    is a plain shuffle equi-join, never a broadcast. Robust to the
    outliers that break Pearson (reported alongside)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )

    def rank_spine(df: DataFrame, col: str) -> DataFrame:
        spine = df.groupBy(col).agg(F.count("*").alias("c"))
        return (
            with_global_rank(spine, col, [F.col(col)], prefix_sum={"cc": "c"})
            .select(
                col,
                (F.col("cc") - F.col("c") + (F.col("c") + 1.0) / 2).alias(f"r_{col}"),
            )
        )

    ranked = li.join(F.broadcast(rank_spine(li, "x")), "x").join(
        rank_spine(li, "y"), "y"
    )
    return ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.corr("r_x", "r_y"), 6).alias("spearman_rho"),
        F.round(F.corr("x", "y"), 6).alias("pearson_r"),
    )


# ---------------------------------------------------------------------------
# Windowed COUNT DISTINCT: Spark windows reject DISTINCT aggregates, so
# the engine's form is size(collect_set() OVER w) -- checked against
# DuckDB's native count(DISTINCT) OVER. Running "how many distinct
# event types has this user produced so far".
# ---------------------------------------------------------------------------
@register(
    "window_count_distinct",
    """
    SELECT event_id, user_id,
           CAST(count(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS distinct_types
    FROM events
    """,
    tags=("window", "distinct"),
)
def q_window_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user distinct count via collect_set over the ordered
    frame (Spark has no DISTINCT window aggregates). State is the set
    per frame -- bounded here by the event-type cardinality, which is
    the condition for using this at scale; for high-cardinality columns
    switch to approx HLL partials (operators/incremental)."""
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w)).cast("bigint").alias("distinct_types"),
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over event sequences: P(next event type |
# current) per user journey -- the first-order sequence model behind
# next-action prediction and anomaly scoring on behavioral data.
# ---------------------------------------------------------------------------
@register(
    "markov_transitions",
    """
    WITH seq AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    c AS (
      SELECT cur, nxt, count(*) AS cnt FROM seq
      WHERE nxt IS NOT NULL GROUP BY cur, nxt)
    SELECT cur, nxt, CAST(cnt AS BIGINT) AS cnt,
           round(cnt * 1.0 / sum(cnt) OVER (PARTITION BY cur), 6) AS p
    FROM c
    """,
    tags=("sequence", "markov"),
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transition probabilities: one lead() window partitioned on
    user_id (the same exchange every per-user sequence op shares), a
    (cur, nxt) count with map-side combine, then normalization by a
    tiny per-cur window -- the output is |types|^2 rows regardless of
    input size, so the whole thing reduces at combiner speed."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c = seq.groupBy("cur", "nxt").agg(F.count("*").alias("cnt"))
    wn = Window.partitionBy("cur")
    return c.select(
        "cur",
        "nxt",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.round(F.col("cnt") * 1.0 / F.sum("cnt").over(wn), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# Multimodal raw8 tier under the hash gate: deterministic 4x4x3 images
# are synthesized in-query (48 md5-derived bytes per doc), decoded by
# the REAL Arrow mapInPandas numpy pipeline (operators/multimodal), and
# the channel statistics are re-derived in the oracle from the same
# bytes via hex arithmetic -- the binary decode path itself is
# hash-checked cross-engine, not just pytest-exercised.
# ---------------------------------------------------------------------------
@register(
    "multimodal_raw8_stats",
    """
    WITH h AS (
      SELECT doc_id AS media_id,
             md5(CAST(doc_id AS VARCHAR) || 'a')
               || md5(CAST(doc_id AS VARCHAR) || 'b')
               || md5(CAST(doc_id AS VARCHAR) || 'c') AS hex
      FROM documents),
    b AS (
      SELECT media_id,
             ('0x' || substr(hex, i * 2 + 1, 2))::BIGINT AS v,
             i % 3 AS channel,
             i // 3 AS pixel
      FROM h, (SELECT unnest(range(0, 48)) AS i) idx),
    px AS (
      SELECT media_id, pixel, avg(v) AS gray FROM b GROUP BY media_id, pixel)
    SELECT b.media_id,
           CAST(48 AS BIGINT) AS n_bytes,
           round(avg(CASE WHEN channel = 0 THEN v END), 6) AS mean_r,
           round(avg(CASE WHEN channel = 1 THEN v END), 6) AS mean_g,
           round(avg(CASE WHEN channel = 2 THEN v END), 6) AS mean_b,
           round((SELECT stddev_pop(gray) FROM px WHERE px.media_id = b.media_id), 6)
             AS std_gray
    FROM b GROUP BY b.media_id
    """,
    tags=("multimodal", "arrow"),
)
def q_multimodal_raw8_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature-extract REAL binary through the sanctioned Arrow
    slow path: bytes never shuffle (stats computed map-side in the same
    batch that decodes), outputs are narrow doubles. The oracle rebuilds
    each byte from the hex digest and aggregates per channel/pixel --
    numpy's float64 means and stddev_pop match SQL's after round(6)."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.multimodal import (
        image_channel_stats,
    )

    docs = spread(read_table(spark, sf_dir, "documents"))
    d = F.col("doc_id").cast("string")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(
            F.concat(
                F.md5(F.concat(d, F.lit("a"))),
                F.md5(F.concat(d, F.lit("b"))),
                F.md5(F.concat(d, F.lit("c"))),
            )
        ).alias("content"),
        F.lit("image/raw8").alias("mime_type"),
        F.lit(4).alias("width"),
        F.lit(4).alias("height"),
    )
    stats = image_channel_stats(media)
    return stats.select(
        "media_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("std_gray", 6).alias("std_gray"),
    )


# ---------------------------------------------------------------------------
# REAL compressed-codec multimodal tier: deterministic 5x4 RGB images are
# encoded to genuine PNG bytes (zlib IDAT, cycling through all five
# scanline filters, real chunk CRCs) and decoded back through the
# stdlib-only decoder in operators/multimodal.py. The oracle rebuilds the
# pixel bytes from the hex digests and aggregates them directly -- so the
# hash gate independently checks that decode(encode(img)) reproduced the
# pixels exactly through a real compressed container.
# ---------------------------------------------------------------------------
@register(
    "multimodal_png_stats",
    """
    WITH h AS (
      SELECT doc_id AS media_id,
             md5(CAST(doc_id AS VARCHAR) || 'a')
               || md5(CAST(doc_id AS VARCHAR) || 'b')
               || md5(CAST(doc_id AS VARCHAR) || 'c')
               || md5(CAST(doc_id AS VARCHAR) || 'd') AS hex
      FROM documents),
    b AS (
      SELECT media_id,
             ('0x' || substr(hex, i * 2 + 1, 2))::BIGINT AS v,
             i % 3 AS channel,
             i // 3 AS pixel
      FROM h, (SELECT unnest(range(0, 60)) AS i) idx),
    px AS (
      SELECT media_id, pixel, avg(v) AS gray FROM b GROUP BY media_id, pixel)
    SELECT b.media_id,
           CAST(60 AS BIGINT) AS n_bytes,
           round(avg(CASE WHEN channel = 0 THEN v END), 6) AS mean_r,
           round(avg(CASE WHEN channel = 1 THEN v END), 6) AS mean_g,
           round(avg(CASE WHEN channel = 2 THEN v END), 6) AS mean_b,
           round((SELECT stddev_pop(gray) FROM px WHERE px.media_id = b.media_id), 6)
             AS std_gray,
           TRUE AS roundtrip_exact
    FROM b GROUP BY b.media_id
    """,
    tags=("multimodal", "arrow", "codec"),
)
def q_multimodal_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG tier of the multimodal surface: 5-row images force the encoder
    through every PNG filter type (row % 5), the decoder reconstructs
    them from the zlib stream, and a second in-op roundtrip asserts
    exactness. The oracle never sees PNG -- it derives the expected
    stats from the deterministic pixel bytes, which is precisely what
    makes the decode REAL: a wrong filter reconstruction shifts every
    mean and fails the hash."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.multimodal import (
        decode_raw8,
        encode_png,
        png_channel_stats,
    )
    from pyspark.sql import types as T

    docs = spread(read_table(spark, sf_dir, "documents"))
    d = F.col("doc_id").cast("string")
    raw = docs.select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.unhex(
                F.concat(
                    F.md5(F.concat(d, F.lit("a"))),
                    F.md5(F.concat(d, F.lit("b"))),
                    F.md5(F.concat(d, F.lit("c"))),
                    F.md5(F.concat(d, F.lit("d"))),
                )
            ),
            1,
            60,
        ).alias("content"),
    )

    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
            T.StructField("mime_type", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
        ]
    )

    def encode_op(batches):
        import pandas as pd

        for pdf in batches:
            png = [
                bytes(encode_png(decode_raw8(bytes(c), 4, 5), filter_mode="cycle"))
                for c in pdf["content"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "content": png,
                    "mime_type": "image/png",
                    "width": 4,
                    "height": 5,
                }
            )

    media = raw.mapInPandas(encode_op, schema=enc_schema)
    stats = png_channel_stats(media)
    return stats.select(
        "media_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("std_gray", 6).alias("std_gray"),
        "roundtrip_exact",
    )


# ---------------------------------------------------------------------------
# Second REAL compressed codec: the same deterministic 60 md5 bytes
# become a 6x10 palette-INDEX image, encoded to a genuine GIF89a (real
# variable-width LZW, 256-entry color table, sub-block framing) and
# decoded back through operators/multimodal.decode_gif. The palette is
# the arithmetic map i -> (i, 2i%256, 7i%256), so the oracle rebuilds
# the expected RGB stats from the hex digests alone -- a wrong LZW
# reconstruction or palette lookup shifts every mean and fails the hash.
# ---------------------------------------------------------------------------
@register(
    "multimodal_gif_stats",
    """
    WITH h AS (
      SELECT doc_id AS media_id,
             md5(CAST(doc_id AS VARCHAR) || 'a')
               || md5(CAST(doc_id AS VARCHAR) || 'b')
               || md5(CAST(doc_id AS VARCHAR) || 'c')
               || md5(CAST(doc_id AS VARCHAR) || 'd') AS hex
      FROM documents),
    b AS (
      SELECT media_id,
             ('0x' || substr(hex, i * 2 + 1, 2))::BIGINT AS v
      FROM h, (SELECT unnest(range(0, 60)) AS i) idx),
    px AS (
      SELECT media_id, v,
             CAST(v AS DOUBLE) AS r,
             CAST((2 * v) % 256 AS DOUBLE) AS g,
             CAST((7 * v) % 256 AS DOUBLE) AS bl
      FROM b)
    SELECT media_id,
           CAST(180 AS BIGINT) AS n_bytes,
           round(avg(r), 6) AS mean_r,
           round(avg(g), 6) AS mean_g,
           round(avg(bl), 6) AS mean_b,
           round(stddev_pop((r + g + bl) / 3.0), 6) AS std_gray,
           TRUE AS roundtrip_exact
    FROM px GROUP BY media_id
    """,
    tags=("multimodal", "arrow", "codec"),
)
def q_multimodal_gif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF tier of the multimodal surface: deterministic md5 bytes are
    palette indices, encode_gif compresses them through real LZW
    (width growth + dictionary resets exercised by the 500-image
    corpus), decode_gif reconstructs them, and a second in-op roundtrip
    asserts exactness. The oracle never sees GIF bytes -- it derives
    the expected channel stats from the deterministic indices through
    the same arithmetic palette."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.multimodal import (
        encode_gif,
        gif_channel_stats,
    )
    from pyspark.sql import types as T

    docs = spread(read_table(spark, sf_dir, "documents"))
    d = F.col("doc_id").cast("string")
    raw = docs.select(
        F.col("doc_id").alias("media_id"),
        F.substring(
            F.unhex(
                F.concat(
                    F.md5(F.concat(d, F.lit("a"))),
                    F.md5(F.concat(d, F.lit("b"))),
                    F.md5(F.concat(d, F.lit("c"))),
                    F.md5(F.concat(d, F.lit("d"))),
                )
            ),
            1,
            60,
        ).alias("content"),
    )

    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
            T.StructField("mime_type", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
        ]
    )

    def encode_op(batches):
        import numpy as np
        import pandas as pd

        pal = ((np.arange(256)[:, None] * np.array([1, 2, 7])) % 256).astype(
            np.uint8
        )
        for pdf in batches:
            gifs = [
                bytes(
                    encode_gif(
                        np.frombuffer(bytes(c), np.uint8).reshape(6, 10), pal
                    )
                )
                for c in pdf["content"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "content": gifs,
                    "mime_type": "image/gif",
                    "width": 10,
                    "height": 6,
                }
            )

    media = raw.mapInPandas(encode_op, schema=enc_schema)
    stats = gif_channel_stats(media)
    return stats.select(
        "media_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("std_gray", 6).alias("std_gray"),
        "roundtrip_exact",
    )


# ---------------------------------------------------------------------------
# EWMA (exponential smoothing) as a WINDOW rewrite: the recursive
# ewma_t = a*x_t + (1-a)*ewma_{t-1} unrolls to a running sum of
# rescaled terms u_i = coef_i * x_i / r^i with one final r^t multiply.
# The canonical "recursive state as prefix-sum" trick.
# ---------------------------------------------------------------------------
q_ewma_smoothing = register_sql(
    "ewma_smoothing",
    """
    WITH seq AS (
      SELECT user_id, event_id, value,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS INTEGER) AS i
      FROM events),
    scaled AS (
      SELECT user_id, event_id, value, i,
             CASE WHEN i = 1 THEN value / power(0.8, 1)
                  ELSE 0.2 * value / power(0.8, i) END AS u
      FROM seq)
    SELECT user_id, event_id, i,
           round(power(0.8, i) * sum(u) OVER (
             PARTITION BY user_id ORDER BY i
             ROWS UNBOUNDED PRECEDING), 6) AS ewma
    FROM scaled
    """,
    tags=("timeseries", "ewma"),
)


# ---------------------------------------------------------------------------
# SQL entry-point parity: ONE ANSI SQL string executed verbatim by BOTH
# engines -- spark.sql() over the fdbts.sql catalog views, and DuckDB as
# the oracle. Proves the SQL surface (the reference's primary interface)
# is drivable without any dialect translation.
# ---------------------------------------------------------------------------
_ANSI_DASHBOARD_SQL = """
    WITH r AS (
      SELECT n_name, year(o_orderdate) AS yr,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name, year(o_orderdate)),
    ranked AS (
      SELECT n_name, yr, revenue,
             CAST(rank() OVER (PARTITION BY yr
                               ORDER BY revenue DESC, n_name) AS INTEGER) AS rk
      FROM r)
    SELECT n_name, yr, revenue, rk FROM ranked WHERE rk <= 5
"""


q_sql_entry_dashboard = register_sql("sql_entry_dashboard", _ANSI_DASHBOARD_SQL, tags=("sql", "catalog"))


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP): each observation weighted by how long
# it remained current. Integer-microsecond durations end-to-end
# (CLAUDE.md: never subtract epoch doubles).
# ---------------------------------------------------------------------------
@register(
    "twap",
    """
    WITH seq AS (
      SELECT user_id, value,
             epoch_us(ts) AS t_us,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY event_id) AS nxt_us
      FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(nxt_us - t_us) AS BIGINT) AS total_dur_us,
           round(sum(value * (nxt_us - t_us)) / sum(nxt_us - t_us), 6) AS twap
    FROM seq WHERE nxt_us IS NOT NULL
    GROUP BY user_id
    """,
    tags=("timeseries", "twap"),
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-weighted mean per user: one lead() window and one
    aggregate on the same user_id exchange. Durations are integer
    microseconds subtracted exactly; the weighted sum is the only
    float arithmetic, and numerator/denominator carry the same 1-ulp
    parallel-sum noise, which cancels in the ratio well below
    round(6)."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    t = F.unix_micros("ts")
    seq = ev.select(
        "user_id",
        "value",
        t.alias("t_us"),
        F.lead(t).over(w).alias("nxt_us"),
    ).filter(F.col("nxt_us").isNotNull())
    dur = F.col("nxt_us") - F.col("t_us")
    return seq.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_intervals"),
        F.sum(dur).cast("bigint").alias("total_dur_us"),
        F.round(F.sum(F.col("value") * dur) / F.sum(dur), 6).alias("twap"),
    )


# ---------------------------------------------------------------------------
# OHLC bars: open/high/low/close candles per user per day -- first/last
# via arg-extrema on the ts-monotone unique event_id (the deterministic
# argmin/argmax discipline).
# ---------------------------------------------------------------------------
@register(
    "ohlc_bars",
    """
    SELECT user_id,
           CAST(datediff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT) AS day,
           arg_min(value, event_id) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, event_id) AS close,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total
    FROM events
    GROUP BY user_id, datediff('day', TIMESTAMP '2024-01-01', ts)
    """,
    tags=("timeseries", "ohlc"),
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick rollup: one grouped aggregate, all six measures
    map-side combinable (min_by/max_by partials carry (value, key)
    pairs). Naturally partition-pruned when the table is date-
    partitioned; open/close are deterministic because event_id is
    unique and ts-monotone."""
    ev = read_table(spark, sf_dir, "events")
    day = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    return ev.groupBy("user_id", day.cast("bigint").alias("day")).agg(
        F.min_by("value", "event_id").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "event_id").alias("close"),
        F.count("*").cast("bigint").alias("n"),
        F.round(F.sum("value"), 4).alias("total"),
    )


# ---------------------------------------------------------------------------
# Hopping (sliding) event-time windows in BATCH: Spark's native
# window(ts, size, slide) operator, oracled by the epoch-floor
# expansion (every event belongs to size/slide windows).
# ---------------------------------------------------------------------------
@register(
    "hopping_window_counts",
    """
    WITH ex AS (
      SELECT event_type, epoch_us(ts) AS e, unnest([0, 1]) AS k
      FROM events),
    w AS (
      SELECT event_type,
             (e // 10800000000 - k) * 10800000000 AS start_us
      FROM ex)
    SELECT strftime(make_timestamp(start_us), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM w GROUP BY start_us, event_type
    """,
    tags=("window", "eventtime"),
)
def q_hopping_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour windows sliding every 3 hours over event time -- the
    batch twin of the streaming tumbling/hopping aggregates. Spark's
    window() explodes each row into size/slide = 2 window structs
    map-side, then one grouped count; both engines align windows to
    the epoch in UTC. The oracle expands the same membership by
    integer floor arithmetic on microseconds."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "6 hours", "3 hours").alias("w"), "event_type"
        )
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
    )


# ---------------------------------------------------------------------------
# Exact money arithmetic with DECIMAL: the counterpoint to the float
# parity discipline used everywhere else -- cast to DECIMAL(18,2) at
# the scan and every downstream sum/avg is EXACT, no round() required
# on either engine. The right answer for financial columns at 100 TB.
# ---------------------------------------------------------------------------
@register(
    "decimal_exact_sums",
    """
    WITH d AS (
      SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders)
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(price) AS DECIMAL(28,2)) AS VARCHAR) AS total,
           CAST(CAST(avg(price) AS DECIMAL(28,6)) AS VARCHAR) AS avg_price,
           CAST(CAST(max(price) - min(price) AS DECIMAL(28,2)) AS VARCHAR) AS spread
    FROM d GROUP BY o_orderstatus
    """,
    tags=("decimal", "agg"),
)
def q_decimal_exact_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point aggregation: DECIMAL sums are associative integers
    underneath, so parallel partial aggregation is bit-exact at any
    partitioning -- no parallel-summation ulp drift, no round()
    parity tricks, and both engines agree to the last cent. The cost
    is wider aggregate state (128-bit), which is why the float queries
    exist for the analytics path and this exists for the money path."""
    orders = read_table(spark, sf_dir, "orders")
    d = orders.select(
        "o_orderstatus", F.col("o_totalprice").cast("decimal(18,2)").alias("price")
    )
    return d.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("price").cast("decimal(28,2)").cast("string").alias("total"),
        F.avg("price").cast("decimal(28,6)").cast("string").alias("avg_price"),
        (F.max("price") - F.min("price")).cast("decimal(28,2)").cast("string").alias("spread"),
    )
