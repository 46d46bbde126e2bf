"""Unpivot, cube grouping sets, and a genuine Structured Streaming replay
exposed through the batch query contract (rows-only check -- the stateful
fold is not SQL-expressible; its correctness gate is the pure-Python
oracle in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import (
    convert_event_ts,
    event_ts_literal,
    events_stream_schema,
    read_table,
)


# ---------------------------------------------------------------------------
# Unpivot (stack): wide per-status sums back to long form
# ---------------------------------------------------------------------------
@register(
    "unpivot_sums",
    """
    WITH wide AS (
      SELECT l_returnflag,
             round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o,
             round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'O' AS linestatus, qty_o AS qty FROM wide
    UNION ALL
    SELECT l_returnflag, 'F' AS linestatus, qty_f AS qty FROM wide
    """,
    tags=("unpivot",),
)
def q_unpivot_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("O", "qty_o")
        .withColumnRenamed("F", "qty_f")
    )
    return wide.selectExpr(
        "l_returnflag",
        "stack(2, 'O', qty_o, 'F', qty_f) AS (linestatus, qty)",
    )


# ---------------------------------------------------------------------------
# CUBE grouping sets (all 4 combinations)
# ---------------------------------------------------------------------------
q_cube_agg = register_sql(
    "cube_agg",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("cube", "A1"),
)


# ---------------------------------------------------------------------------
# Watermarked tumbling-window aggregation over a genuine stream (file
# micro-batch replay of the events table). The aggregation itself is
# SQL-expressible, so unlike the stateful fold this one gets an oracle:
# tumbling windows are deterministic given the same events.
# ---------------------------------------------------------------------------
@register(
    "streaming_windowed_counts",
    """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type, count(*) AS n, round(sum(value), 4) AS total
    FROM events
    GROUP BY time_bucket(INTERVAL '1 hour', ts), event_type
    """,
    tags=("T1", "window", "streaming"),
)
def q_streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the watermarked windowed aggregation as a REAL streaming query
    (readStream over the events parquet, memory sink, complete mode), then
    returns the drained result -- proving the streaming operator computes
    exactly what the batch SQL says."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.session import normalize_runtime_conf
    from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming.windows import windowed_event_counts

    from pyspark.sql import types as T

    normalize_runtime_conf(spark)
    # Schema must mirror the on-disk encoding (nanos-long vs micros
    # timestamp differs across driver testdata generations) -- derive it
    # from a batch read and normalize ts after (readers.py helpers).
    raw_schema = events_stream_schema(spark, sf_dir)
    # streaming file source needs a DIRECTORY; glob-filter to one table
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir.rstrip("/"))
    )
    stream = convert_event_ts(stream)
    agg = windowed_event_counts(
        stream, "ts", window="1 hour", watermark="1 hour",
        keys=["event_type"], value_col="value",
    )
    out = agg.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        F.round("total", 4).alias("total"),
    )
    name = "stream_windowed_counts_out"
    q = out.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


# ---------------------------------------------------------------------------
# IVF approximate nearest neighbors (rows-only: cell assignment depends on
# MLlib KMeans internals; exactness/recall gates live in tests/test_merge_ivf)
# ---------------------------------------------------------------------------
# Watermarked STREAM-STREAM join over a genuine replay: view events joined
# to same-user purchase events within a 60-minute lag. Inner time-bounded
# joins are deterministic given the same events, so this live streaming
# query gets a full DuckDB oracle (a plain time-range self-join).
# ---------------------------------------------------------------------------
@register(
    "streaming_join_replay",
    """
    SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id,
           strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE
    """,
    tags=("T1", "streaming", "join"),
)
def q_streaming_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs stream_stream_join as a REAL streaming query: two readStream
    sources over the events parquet (view / purchase filters), watermarks
    on both sides, time-range inner join, memory sink in append mode --
    proving the streaming operator emits exactly the batch join's rows."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.session import normalize_runtime_conf
    from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming.windows import stream_stream_join

    from pyspark.sql import types as T

    normalize_runtime_conf(spark)
    raw_schema = events_stream_schema(spark, sf_dir)

    def read_events_stream():
        s = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir.rstrip("/"))
        )
        return convert_event_ts(s)

    views = (
        read_events_stream()
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts_t"),
        )
    )
    purchases = (
        read_events_stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts_t"),
        )
    )
    joined = stream_stream_join(
        views, purchases, "user_id", "view_ts_t", "purchase_ts_t",
        left_watermark="1 hour", right_watermark="1 hour", max_lag="60 minutes",
    )
    out = joined.select(
        "view_id", "purchase_id", "user_id",
        F.date_format("view_ts_t", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.date_format("purchase_ts_t", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )
    name = "stream_join_out"
    q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


# ---------------------------------------------------------------------------
# IVF ANN with a FULL generated oracle: the quantizer fit is a
# deterministic numpy code path (md5-bucket sample + seeded Lloyd)
# shared between the Spark operator and this SQL generator, so the
# oracle can refit the identical centroids for any sf_dir and inline
# them as literals. Assignment distances accumulate as the explicit
# left-to-right chain 0.0 + (v[1]-c[1])^2 + ... on BOTH engines
# (numpy per-dim accumulation == SQL addition chain, bit-identical),
# so even argmin near-ties cannot diverge; probe selection and cosine
# rerank reuse the parity machinery proven by ann_lsh_topk.
# ---------------------------------------------------------------------------
_IVF_DIM = 64
_IVF_PARAMS = dict(k=5, n_cells=8, n_probe=2, train_sample_per_cell=256)


def _ivf_sql(sf_dir: str) -> str:
    import hashlib

    import duckdb
    import numpy as np

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.similarity import (
        fit_ivf_quantizer,
        ivf_train_bucket_count,
    )

    con = duckdb.connect()
    rows = con.execute(
        "SELECT vec_id, embedding::DOUBLE[] FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    con.close()
    n_cells = _IVF_PARAMS["n_cells"]
    nb = ivf_train_bucket_count(len(rows), n_cells, _IVF_PARAMS["train_sample_per_cell"])
    if nb is not None:
        rows = [
            r
            for r in rows
            if int(hashlib.md5(str(r[0]).encode()).hexdigest()[:8], 16) % nb == 0
        ]
    X = np.array([r[1] for r in rows], dtype=np.float64)
    C = fit_ivf_quantizer(X, n_cells)
    cent_vals = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in C[i])}]::DOUBLE[])"
        for i in range(len(C))
    )

    def chain(a: str, b: str) -> str:
        return "0.0 + " + " + ".join(
            f"({a}[{t}]-{b}[{t}])*({a}[{t}]-{b}[{t}])" for t in range(1, _IVF_DIM + 1)
        )

    return f"""
    WITH cents AS (SELECT * FROM (VALUES {cent_vals}) AS t(cell, c)),
    base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ad AS (
      SELECT vec_id, v, cell, {chain('v', 'c')} AS d2
      FROM base CROSS JOIN cents),
    asg AS (
      SELECT vec_id, v, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS ar
      FROM ad),
    cells AS (SELECT vec_id, v, cell FROM asg WHERE ar = 1),
    qd AS (
      SELECT b.vec_id AS query_id, b.v AS qv, cell, {chain('b.v', 'c')} AS d2
      FROM base b CROSS JOIN cents WHERE b.vec_id < 10),
    qprobe AS (
      SELECT query_id, qv, cell,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, cell) AS pr
      FROM qd),
    probes AS (SELECT query_id, qv, cell FROM qprobe WHERE pr <= {_IVF_PARAMS["n_probe"]}),
    sims AS (
      SELECT p.query_id, b.vec_id AS neighbor_id,
             round(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
                   6) AS cosine
      FROM cells b JOIN probes p USING (cell)
      WHERE b.vec_id <> p.query_id),
    ranked AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rk
      FROM sims)
    SELECT query_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= {_IVF_PARAMS["k"]}
    """


@register("ann_ivf_topk", _ivf_sql, tags=("similarity", "ann", "ivf"))
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (operators/similarity.ivf_cosine_topk):
    FAISS split -- driver-side numpy quantizer on a bounded md5-hash
    sample, one vectorized Arrow assignment pass, n_probe/n_cells
    pruning. Fully oracled via the generated centroid-literal SQL
    (_ivf_sql), recall tradeoff included in the checked contract."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.similarity import ivf_cosine_topk

    vecs = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = vecs.filter(F.col("vec_id") < 10)
    return ivf_cosine_topk(
        vecs,
        queries,
        k=_IVF_PARAMS["k"],
        n_cells=_IVF_PARAMS["n_cells"],
        n_probe=_IVF_PARAMS["n_probe"],
        train_sample_per_cell=_IVF_PARAMS["train_sample_per_cell"],
    )


# ---------------------------------------------------------------------------
# Structured Streaming replay through the batch contract: payload-ize the
# events table, stream it file-by-file through the stateful per-card fold,
# return the scored table. FULLY ORACLED since round 5: the sequential
# read-your-writes fold IS SQL-expressible as a per-card recursive CTE --
# the replay's lookup is constant (ucl=300, score=500, so the score rule
# is statically false), the geo map has 4 cities whose pairwise
# law-of-cosines distances are inlined below as Python-computed double
# literals (the fold and the oracle therefore share one libm), and the
# state carry (last_postcode, last_second) advances only on GENUINE --
# exactly fold_events (streaming/stateful.py:81). Event order inside the
# fold is (micro-batch half, second-truncated ts, pos_id), deterministic
# because event_id is unique.
# ---------------------------------------------------------------------------
def _stateful_replay_sql() -> str:
    from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming.stateful import law_of_cosines_km

    geo = {
        100: (40.7128, -74.0060), 101: (34.0522, -118.2437),
        102: (51.5074, -0.1278), 103: (35.6762, 139.6503),
    }
    branches = []
    for a, (la1, lo1) in geo.items():
        for b, (la2, lo2) in geo.items():
            d = law_of_cosines_km(la1, lo1, la2, lo2)
            branches.append(f"WHEN s.postcode = {a} AND r.last_pc = {b} THEN {d!r}")
    dist = "CASE " + " ".join(branches) + " END"
    # rule order mirrors fold_events: amount > ucl; dt <= 0 always fires
    # when a previous GENUINE ts exists; the speed rule needs both geos.
    fraud = f"""(
        coalesce(s.amount > 300.0, FALSE)
        OR (r.last_sec IS NOT NULL AND s.ts_sec - r.last_sec <= 0)
        OR (r.last_sec IS NOT NULL AND s.ts_sec - r.last_sec > 0
            AND s.postcode IS NOT NULL AND r.last_pc IS NOT NULL
            AND ({dist}) / (s.ts_sec - r.last_sec) > 0.25)
    )"""
    return f"""
    WITH RECURSIVE base AS (
      SELECT user_id AS card_id, user_id AS member_id, value AS amount,
             event_id AS pos_id,
             TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) % 4 + 100
               AS postcode,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS transaction_dt,
             event_id % 2 AS half,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_sec
      FROM (SELECT * FROM events ORDER BY event_id LIMIT 2000)
    ),
    seq AS (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY card_id ORDER BY half, ts_sec, pos_id) AS BIGINT) AS i
      FROM base
    ),
    rec AS (
      SELECT card_id, member_id, amount, pos_id, postcode, transaction_dt,
             ts_sec, i,
             CASE WHEN coalesce(amount > 300.0, FALSE)
                  THEN 'FRAUD' ELSE 'GENUINE' END AS status,
             CASE WHEN coalesce(amount > 300.0, FALSE)
                  THEN CAST(NULL AS INTEGER) ELSE postcode END AS last_pc,
             CASE WHEN coalesce(amount > 300.0, FALSE)
                  THEN CAST(NULL AS BIGINT) ELSE ts_sec END AS last_sec
      FROM seq WHERE i = 1
      UNION ALL
      SELECT s.card_id, s.member_id, s.amount, s.pos_id, s.postcode,
             s.transaction_dt, s.ts_sec, s.i,
             CASE WHEN {fraud} THEN 'FRAUD' ELSE 'GENUINE' END AS status,
             CASE WHEN {fraud} THEN r.last_pc ELSE s.postcode END AS last_pc,
             CASE WHEN {fraud} THEN r.last_sec ELSE s.ts_sec END AS last_sec
      FROM rec r JOIN seq s ON s.card_id = r.card_id AND s.i = r.i + 1
    )
    SELECT card_id, member_id, amount, pos_id,
           CAST(postcode AS INTEGER) AS postcode, transaction_dt, status
    FROM rec
    """


@register("streaming_stateful_replay", _stateful_replay_sql(), tags=("T2", "T4", "streaming"))
def q_streaming_stateful_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import tempfile
    from pathlib import Path

    from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming.scorer import (
        read_payload_file_stream,
    )
    from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming.stateful import (
        score_stream_stateful,
    )

    ev = (
        read_table(spark, sf_dir, "events")
        .withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .select(
            F.col("user_id").alias("card_id"),
            F.col("user_id").alias("member_id"),
            F.col("value").alias("amount"),
            F.col("event_id").alias("pos_id"),
            (F.col("k") % 4 + 100).alias("postcode"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("transaction_dt"),
            (F.col("event_id") % 2).alias("half"),
        )
        # bound replay size deterministically (event_id is the unique
        # ts-monotone key); semantics, not throughput, is under test
        .orderBy("event_id")
        .limit(2000)
    )
    rows = ev.collect()

    replay_dir = Path(tempfile.mkdtemp(prefix="stream_replay_"))
    for half in (0, 1):  # two deterministic micro-batches
        with open(replay_dir / f"b{half}.json", "w") as f:
            for r in rows:
                if r.half == half:
                    f.write(
                        json.dumps(
                            {
                                "card_id": r.card_id,
                                "member_id": r.member_id,
                                "amount": r.amount,
                                "pos_id": r.pos_id,
                                "postcode": r.postcode,
                                "transaction_dt": r.transaction_dt,
                            }
                        )
                        + "\n"
                    )

    lookup = {cid: (300.0, 500) for cid in {r.card_id for r in rows}}
    geo = {
        "100": (40.7128, -74.0060), "101": (34.0522, -118.2437),
        "102": (51.5074, -0.1278), "103": (35.6762, 139.6503),
    }
    lookup_bc = spark.sparkContext.broadcast(lookup)
    geo_bc = spark.sparkContext.broadcast(geo)

    stream = read_payload_file_stream(spark, str(replay_dir))
    out = score_stream_stateful(stream, lookup_bc, geo_bc)
    name = "stream_replay_out"
    q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


# ---------------------------------------------------------------------------
# Streaming SESSION-WINDOW replay with a full oracle. Session windows only
# emit in append mode once the watermark passes the session end, and a
# bounded replay's watermark never passes the last sessions -- so the
# replay stages the events file plus a later-mtime sentinel file (one
# far-future event from a synthetic user), processed as a second
# micro-batch: the sentinel advances the watermark past every real
# session, the engine's cleanup batch flushes them, and the sentinel
# user's own (never-closed) session is filtered out. The oracle is the
# batch lag+cumsum islands rewrite with Spark's session-end semantics
# (end = last event ts + gap).
# ---------------------------------------------------------------------------
@register(
    "streaming_session_replay",
    """
    WITH e AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL 2 HOUR THEN 0 ELSE 1 END AS is_new
      FROM events),
    s AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM e)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 2 HOUR, '%Y-%m-%d %H:%M:%S')
             AS session_end,
           CAST(count(*) AS BIGINT) AS n
    FROM s GROUP BY user_id, sess_id
    """,
    tags=("T1", "session", "streaming"),
)
def q_streaming_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    from pathlib import Path

    from pyspark.sql import types as T

    from fraud_detection_in_banking_transactions_using_hadoop_spark.session import normalize_runtime_conf
    from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming.windows import session_windows

    normalize_runtime_conf(spark)
    raw_schema = events_stream_schema(spark, sf_dir)

    stage = Path(tempfile.mkdtemp(prefix="sess_replay_"))
    shutil.copy(f"{sf_dir.rstrip('/')}/events.parquet", stage / "aa_events.parquet")
    # sentinel: one event 60 days past the data, synthetic user -1, ts
    # literal matching the on-disk layout (~2026-09 vs Jan-2024 data)
    sent_dir = stage / "_sent"
    far_ts = event_ts_literal(raw_schema, 1_790_000_000)
    spark.createDataFrame(
        [(-1, far_ts, -1, "view", 0.0, "{}")],
        schema=raw_schema,
    ).coalesce(1).write.mode("overwrite").parquet(str(sent_dir))
    part = next(p for p in sent_dir.iterdir() if p.name.endswith(".parquet"))
    shutil.copy(part, stage / "zz_sentinel.parquet")
    now = os.path.getmtime(stage / "aa_events.parquet")
    os.utime(stage / "zz_sentinel.parquet", (now + 60, now + 60))

    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stage))
    )
    stream = convert_event_ts(stream)
    sess = session_windows(
        stream, "ts", gap="2 hours", watermark="1 hour", keys=["user_id"]
    )
    out = sess.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n",
    )
    name = "stream_session_out"
    q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).filter(F.col("user_id") >= 0)


# ---------------------------------------------------------------------------
# Streaming materialized view: a live foreachBatch query maintains the
# per-user aggregate state via mergeable partials (operators/incremental)
# across multiple micro-batches; the final state must equal the one-shot
# SQL aggregate. The full lambda-architecture serving-table story --
# ingest incrementally, read consistently -- under the hash gate.
# ---------------------------------------------------------------------------
@register(
    "streaming_incremental_agg",
    """
    SELECT user_id,
           CAST(count(value) AS BIGINT) AS n,
           round(sum(value), 4) AS total,
           round(round(sum(value), 4) / count(value), 6) AS avg_v,
           round(min(value), 4) AS min_v,
           round(max(value), 4) AS max_v
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "incremental", "T2", "materialized-view"),
)
def q_streaming_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    from pathlib import Path

    from pyspark.sql import types as T

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.incremental import (
        incremental_agg_update,
    )
    from fraud_detection_in_banking_transactions_using_hadoop_spark.session import normalize_runtime_conf

    normalize_runtime_conf(spark)
    base = Path(tempfile.mkdtemp(prefix="inc_agg_"))
    src, state, ckpt = base / "src", base / "state", base / "ckpt"
    # split events into 4 files so the replay is genuinely multi-batch
    events = read_table(spark, sf_dir, "events")
    events.select("user_id", "value").repartition(4).write.parquet(str(src))

    stream = (
        spark.readStream.schema(
            T.StructType([
                T.StructField("user_id", T.LongType()),
                T.StructField("value", T.DoubleType()),
            ])
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )

    def fold(batch_df, batch_id):
        incremental_agg_update(
            spark, str(state), batch_df, "user_id", "value",
            token=f"b{batch_id}",
        )

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    final = spark.read.parquet(str(state))
    return final.select(
        "user_id",
        F.col("n"),
        F.round("sum_v", 4).alias("total"),
        F.round(F.round("sum_v", 4) / F.col("n"), 6).alias("avg_v"),
        F.round("min_v", 4).alias("min_v"),
        F.round("max_v", 4).alias("max_v"),
    )


# ---------------------------------------------------------------------------
# Streaming LEFT-OUTER stream-stream join replay. Outer rows (views
# with no purchase in the next 60 min) only emit once the watermark
# PROVES no match can arrive, so the replay stages the events file plus
# TWO far-future sentinel rows -- one per event_type, because each
# filtered stream computes its own watermark -- and relies on the
# no-data micro-batch to flush evicted state. The oracle is the plain
# batch left join with the same time-range condition.
# ---------------------------------------------------------------------------
@register(
    "streaming_outer_join_replay",
    """
    WITH v AS (SELECT event_id AS view_id, user_id, ts AS vt
               FROM events WHERE event_type = 'view'),
    p AS (SELECT event_id AS purchase_id, user_id, ts AS pt
          FROM events WHERE event_type = 'purchase')
    SELECT v.view_id, v.user_id,
           strftime(v.vt, '%Y-%m-%d %H:%M:%S') AS view_ts,
           CAST(p.purchase_id AS BIGINT) AS purchase_id,
           strftime(p.pt, '%Y-%m-%d %H:%M:%S') AS purchase_ts
    FROM v LEFT JOIN p
      ON p.user_id = v.user_id AND p.pt >= v.vt
     AND p.pt <= v.vt + INTERVAL 60 MINUTE
    """,
    tags=("T1", "streaming", "join", "outer"),
)
def q_streaming_outer_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    from pathlib import Path

    from pyspark.sql import types as T

    from fraud_detection_in_banking_transactions_using_hadoop_spark.session import normalize_runtime_conf
    from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming.windows import stream_stream_join

    normalize_runtime_conf(spark)
    raw_schema = events_stream_schema(spark, sf_dir)

    stage = Path(tempfile.mkdtemp(prefix="outer_join_replay_"))
    shutil.copy(f"{sf_dir.rstrip('/')}/events.parquet", stage / "aa_events.parquet")
    # DUAL sentinels (~2026-09, far past the Jan-2024 data): each filtered
    # stream needs its own watermark advance
    far_ts = event_ts_literal(raw_schema, 1_790_000_000)
    sent_dir = stage / "_sent"
    spark.createDataFrame(
        [(-1, far_ts, -1, "view", 0.0, "{}"), (-2, far_ts, -1, "purchase", 0.0, "{}")],
        schema=raw_schema,
    ).coalesce(1).write.mode("overwrite").parquet(str(sent_dir))
    part = next(p for p in sent_dir.iterdir() if p.name.endswith(".parquet"))
    shutil.copy(part, stage / "zz_sentinel.parquet")
    now = os.path.getmtime(stage / "aa_events.parquet")
    os.utime(stage / "zz_sentinel.parquet", (now + 60, now + 60))

    def read_staged_stream():
        s = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(stage))
        )
        return convert_event_ts(s)

    views = read_staged_stream().filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("vt")
    )
    purchases = read_staged_stream().filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pt")
    )
    joined = stream_stream_join(
        views, purchases, "user_id", "vt", "pt",
        left_watermark="1 hour", right_watermark="1 hour", max_lag="60 minutes",
        how="leftOuter",
    )
    out = joined.select(
        "view_id", "user_id",
        F.date_format("vt", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.col("purchase_id").cast("bigint").alias("purchase_id"),
        F.date_format("pt", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )
    name = "stream_outer_join_out"
    q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).filter(F.col("user_id") >= 0)
