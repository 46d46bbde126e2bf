"""Extension batch 226 (round 10): scheduling, AML round-tripping,
LZ76 complexity, and CRC-32 integrity.

- johnson_two_machine: Johnson's rule for the two-machine flow shop --
  THE classical exact scheduling algorithm: jobs with t1 < t2 go first
  in ascending t1, the rest last in descending t2; the resulting
  makespan is provably minimal. Jobs = the 40 highest-volume parts
  (deterministic TakeOrdered backbone, the bowtie r9 lesson); t1 =
  mean clamped ship-lag days, t2 = mean quantity (a documented
  stand-in -- the testdata has no receipt date). The makespan
  recursion m2_k = max(m2_{k-1}, m1_k) + t2_k UNROLLS to the Lindley
  closed form m2_k = P2_k + max_{j<=k}(P1_j - P2_{j-1}) -- prefix sums
  + one running max, NO recursion and no driver fold; both the
  Johnson and the FIFO (part-key) schedules emit as policy-tagged
  rows so the optimality gap is in the output.
- round_trip_payments: the AML round-tripping (boomerang) typology
  completing the structuring / fan-in / pass-through / peeling /
  collusion / split screens: A pays B, then B pays A back within 7
  days at 80-120% of the amount (PURE integer band, the
  aml_pass_through r7 rule); day-bucket-exploded equi-join, never an
  all-pairs time scan; top 10 (origin, middle) pairs with exact
  integer summaries.
- lz76_complexity: Lempel-Ziv 1976 EXHAUSTIVE-HISTORY production
  complexity of the daily up/down bit sequence -- distinct from the
  LZ78 phrase-dictionary parse (ext203): each component is the
  shortest substring starting at i that does NOT occur in the prefix
  s[1..j-1]; c counts components. Spark = calendar-bounded driver
  fold over the collected bit string; oracle = recursive CTE carrying
  (i, j, c) with one strpos per step. Output sticks to pure integers
  (c, n, c*1e6 DIV n) -- no cross-engine log parity surface.
- crc32_media: CRC-32 (IEEE reflected, poly 0xEDB88320) of each md5
  media stream. Spark runs zlib.crc32 (the REAL battle-tested
  implementation) through mapInPandas; the oracle replays the bitwise
  recursion as a recursive CTE over the per-media byte LIST (the DGIM
  r10 lesson: join the 1-row-per-media list table per level, never
  the byte table), with the 8 shift-xor steps unrolled into one
  nested expression per byte. Hash equality = an independent
  from-scratch CRC implementation agreeing with zlib on every stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.fold import collect_nonempty
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext147 import (
    _MD5_HEX_SQL,
    _md5_media,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_J_JOBS = 40
_RT_WINDOW_US = 604_800_000_000  # 7 days
_CRC_POLY = 0xEDB88320
_CRC_MASK = 0xFFFFFFFF


# ---------------------------------------------------------------------------
# johnson_two_machine
# ---------------------------------------------------------------------------
_J_JOBS_SQL = f"""
    jobs AS (
      SELECT l_partkey AS part,
             CAST(count(*) AS BIGINT) AS n,
             greatest(CAST(sum(greatest(
               datediff('day', o.o_orderdate, l.l_shipdate), 0))
               AS BIGINT) // count(*), 1) AS t1,
             greatest(CAST(sum(CAST(round(l.l_quantity, 0) AS BIGINT))
               AS BIGINT) // count(*), 1) AS t2
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY l_partkey
      ORDER BY n DESC, part LIMIT {_J_JOBS})
"""


def _j_schedule_sql(policy: str, order_expr: str) -> str:
    return f"""
      SELECT '{policy}' AS policy, part, t1, t2,
             CAST(row_number() OVER (ORDER BY {order_expr}) AS BIGINT)
               AS seq,
             CAST(sum(t1) OVER (ORDER BY {order_expr}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS p1,
             CAST(sum(t2) OVER (ORDER BY {order_expr}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS p2
      FROM jobs
"""


_J_ORDER_JOHNSON = (
    "CASE WHEN t1 < t2 THEN 0 ELSE 1 END,"
    " CASE WHEN t1 < t2 THEN t1 ELSE -t2 END, part"
)
_J_ORDER_FIFO = "part"


def _j_close_sql() -> str:
    # Lindley closed form: m2_k = p2_k + max_{j<=k}(p1_j - p2_{j-1})
    return """
    SELECT policy, seq, part, t1, t2,
           p1 AS machine1_done,
           p2 + max(p1 - (p2 - t2)) OVER (PARTITION BY policy
             ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS machine2_done
    FROM sched
"""


@register(
    "johnson_two_machine",
    f"""
    WITH {_J_JOBS_SQL},
    sched AS (
      {_j_schedule_sql('johnson', _J_ORDER_JOHNSON)}
      UNION ALL
      {_j_schedule_sql('fifo', _J_ORDER_FIFO)}
    )
    {_j_close_sql()}
    """,
    tags=("scheduling", "or", "exact-arith"),
)
def q_johnson_two_machine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson's two-machine flow shop (module docstring): per-policy
    per-job machine finish times in exact integer days/units; the last
    johnson row's machine2_done is the provably-minimal makespan, the
    fifo rows show the gap."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    jobs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr(
                "greatest(CAST(sum(greatest("
                "datediff(l_shipdate, o_orderdate), 0)) AS BIGINT)"
                " DIV count(*), 1L)"
            ).alias("t1"),
            F.expr(
                "greatest(CAST(sum(CAST(round(l_quantity, 0) AS BIGINT))"
                " AS BIGINT) DIV count(*), 1L)"
            ).alias("t2"),
        )
        .orderBy(F.col("n").desc(), "part")
        .limit(_J_JOBS)
        .localCheckpoint(eager=True)
    )

    def sched(policy: str, order_cols) -> DataFrame:
        w = Window.orderBy(*order_cols)
        run = w.rowsBetween(Window.unboundedPreceding, 0)
        return jobs.select(
            F.lit(policy).alias("policy"),
            "part",
            "t1",
            "t2",
            F.row_number().over(w).cast("bigint").alias("seq"),
            F.sum("t1").over(run).cast("bigint").alias("p1"),
            F.sum("t2").over(run).cast("bigint").alias("p2"),
        )

    johnson_order = [
        F.expr("CASE WHEN t1 < t2 THEN 0 ELSE 1 END"),
        F.expr("CASE WHEN t1 < t2 THEN t1 ELSE -t2 END"),
        F.col("part"),
    ]
    s = sched("johnson", johnson_order).unionByName(
        sched("fifo", [F.col("part")])
    )
    wrun = (
        Window.partitionBy("policy")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return s.select(
        "policy",
        "seq",
        "part",
        "t1",
        "t2",
        F.col("p1").alias("machine1_done"),
        (
            F.col("p2")
            + F.max(F.col("p1") - (F.col("p2") - F.col("t2"))).over(wrun)
        ).alias("machine2_done"),
    )


# ---------------------------------------------------------------------------
# round_trip_payments
# ---------------------------------------------------------------------------
@register(
    "round_trip_payments",
    f"""
    WITH e AS (
      SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS benef,
             epoch_us(ts) AS us, CAST(ts AS DATE) AS day,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events),
    pairs AS (
      SELECT a.user_id AS origin, a.benef AS middle,
             a.cents AS cents_out, b.cents AS cents_back,
             b.us - a.us AS gap_us
      FROM e a JOIN e b
        ON b.user_id = a.benef AND b.benef = a.user_id
       AND b.day IN (a.day, a.day + 1, a.day + 2, a.day + 3,
                     a.day + 4, a.day + 5, a.day + 6, a.day + 7)
       AND b.us > a.us AND b.us <= a.us + {_RT_WINDOW_US}
       AND a.cents > 0
       AND 10 * b.cents >= 8 * a.cents
       AND 10 * b.cents <= 12 * a.cents),
    agg AS (
      SELECT origin, middle,
             CAST(count(*) AS BIGINT) AS n_round_trips,
             CAST(sum(cents_out) AS HUGEINT) AS sout,
             CAST(sum(gap_us) AS HUGEINT) AS sgap,
             CAST(sum((1000000 * CAST(cents_back AS HUGEINT))
                      // cents_out) AS HUGEINT) AS sratio
      FROM pairs GROUP BY origin, middle)
    SELECT origin, middle, n_round_trips,
           CAST(sout // 100 AS BIGINT) AS out_dollars,
           CAST((sgap // n_round_trips) // 3600000000 AS BIGINT)
             AS mean_gap_hours,
           CAST(sratio // n_round_trips AS BIGINT) AS mean_ratio_ppm
    FROM agg
    ORDER BY n_round_trips DESC, origin, middle LIMIT 10
    """,
    tags=("fraud", "aml", "round-trip"),
)
def q_round_trip_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-tripping screen (module docstring): money out (A -> B)
    and back (B -> A) within 7 days at 80-120% -- the classic
    wash-transfer pattern. Equi-join on the swapped (user, benef) pair
    with day-bucket explosion; pure-integer amount band."""
    events = read_table(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("benef"),
        F.unix_micros("ts").alias("us"),
        F.col("ts").cast("date").alias("day"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    a = e.select(
        F.col("user_id").alias("origin"),
        F.col("benef").alias("middle"),
        F.col("cents").alias("cents_out"),
        F.col("us").alias("us_out"),
        F.explode(
            F.array(*[F.date_add(F.col("day"), d).alias("d") for d in range(8)])
        ).alias("jday"),
    )
    b = e.select(
        F.col("user_id").alias("middle"),
        F.col("benef").alias("origin"),
        F.col("cents").alias("cents_back"),
        F.col("us").alias("us_back"),
        F.col("day").alias("jday"),
    )
    pairs = a.join(b, ["origin", "middle", "jday"]).where(
        (F.col("us_back") > F.col("us_out"))
        & (F.col("us_back") <= F.col("us_out") + F.lit(_RT_WINDOW_US))
        # cents_out > 0 guards the sratio division: the 80-120% band
        # alone admits a 0/0 pair if a zero-value event ever matches
        & (F.col("cents_out") > 0)
        & (10 * F.col("cents_back") >= 8 * F.col("cents_out"))
        & (10 * F.col("cents_back") <= 12 * F.col("cents_out"))
    )
    agg = pairs.groupBy("origin", "middle").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_round_trips"),
        F.sum(F.col("cents_out").cast("decimal(38,0)")).alias("sout"),
        F.sum((F.col("us_back") - F.col("us_out")).cast("decimal(38,0)"))
        .alias("sgap"),
        F.sum(
            F.expr(
                "(1000000 * CAST(cents_back AS DECIMAL(38,0)))"
                " DIV cents_out"
            ).cast("decimal(38,0)")
        ).alias("sratio"),
    )
    return (
        agg.selectExpr(
            "origin",
            "middle",
            "n_round_trips",
            "CAST(sout DIV 100 AS BIGINT) AS out_dollars",
            "CAST((sgap DIV n_round_trips) DIV 3600000000 AS BIGINT)"
            " AS mean_gap_hours",
            "CAST(sratio DIV n_round_trips AS BIGINT) AS mean_ratio_ppm",
        )
        .orderBy(F.col("n_round_trips").desc(), "origin", "middle")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# lz76_complexity
# ---------------------------------------------------------------------------
def lz76_count(s: str) -> int:
    """LZ76 exhaustive-history production complexity: grow the
    candidate s[i..j]; it closes as a component at the first j where
    it does NOT occur in the prefix s[0:j] (the history BEFORE the
    candidate's last character); a trailing partial component counts
    once. Mirrored exactly by the recursive-CTE oracle (1-based
    there): after the scan, final = c + (1 if a component is still
    open, i.e. i < n)."""
    n = len(s)
    c, i, j = 0, 0, 0
    while j < n:
        if s[0:j].find(s[i : j + 1]) >= 0:
            j += 1
        else:
            c += 1
            i = j + 1
            j = j + 1
    return c + (1 if i < n else 0)


_LZ76_ORACLE = """
    WITH RECURSIVE daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_orderdate),
    bits AS (
      SELECT d,
             CASE WHEN cents > lag(cents) OVER (ORDER BY d)
                  THEN '1' ELSE '0' END AS b,
             row_number() OVER (ORDER BY d) AS rn
      FROM daily),
    s_t AS MATERIALIZED (
      SELECT string_agg(b, '' ORDER BY rn) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM bits WHERE rn > 1),
    fold AS (
      SELECT CAST(1 AS BIGINT) AS i, CAST(1 AS BIGINT) AS j,
             CAST(0 AS BIGINT) AS c
      UNION ALL
      SELECT CASE WHEN fnd THEN i ELSE j + 1 END AS i,
             j + 1 AS j,
             CASE WHEN fnd THEN c ELSE c + 1 END AS c
      FROM (
        SELECT f.i, f.j, f.c,
               strpos(substr(t.s, 1, CAST(f.j - 1 AS INTEGER)),
                      substr(t.s, CAST(f.i AS INTEGER),
                             CAST(f.j - f.i + 1 AS INTEGER))) > 0
                 AS fnd
        FROM fold f CROSS JOIN s_t t
        WHERE f.j <= t.n)),
    fin AS (
      SELECT f.c + CASE WHEN f.i <= t.n THEN 1 ELSE 0 END AS c
      FROM fold f CROSS JOIN s_t t
      WHERE f.j = t.n + 1)
    SELECT t.n AS n_bits,
           fin.c AS c_components,
           CASE WHEN t.n = 0 THEN NULL
                ELSE (fin.c * 1000000) // t.n END AS compression_ppm
    FROM s_t t CROSS JOIN fin
"""


@register(
    "lz76_complexity",
    _LZ76_ORACLE,
    tags=("timeseries", "complexity", "stateful", "exact-arith"),
)
def q_lz76_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LZ76 production complexity of the daily up/down sequence
    (module docstring): calendar-bounded driver fold mirroring the
    recursive-CTE scan exactly."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    bits = daily.select(
        F.when(
            F.col("cents") > F.lag("cents").over(Window.orderBy("d")), "1"
        )
        .otherwise("0")
        .alias("b"),
        F.row_number().over(Window.orderBy("d")).alias("rn"),
    ).where(F.col("rn") > 1)
    rows = collect_nonempty(
        bits.orderBy("rn").select("b"), "lz76 daily bit sequence"
    )
    s = "".join(r["b"] for r in rows)
    n = len(s)
    c = lz76_count(s)
    return spark.createDataFrame(
        [(n, c, (c * 1000000 // n) if n else None)],
        "n_bits long, c_components long, compression_ppm long",
    )


# ---------------------------------------------------------------------------
# crc32_media
# ---------------------------------------------------------------------------
# Round-11 oracle rewrite. The r10 form ran one recursion level per
# BYTE per media with the 8-step shift-xor unrolled as nested text --
# the two self-references per step made the level expression ~2^8
# copies of the base term, and the per-level join rebuilt a
# documents-sized hash table each level (the DGIM super-linearity
# class; 78 s of sf0.1 sweep time). The rewrite keeps the from-scratch
# polynomial arithmetic but restructures it the way real
# implementations do:
#   1. tbl: the 256-entry CRC table DERIVED IN-SQL from the bitwise
#      definition (8 shift-xor levels over 256 seed rows -- the same
#      reflected recursion, now run once instead of per byte);
#   2. fold: ALL media advance together -- the state is ONE row
#      carrying the list of running CRCs (ordered by media_id), each
#      level consumes byte position k for every media via the 60-row
#      per-position table and the table-lookup step
#      crc' = xor(crc // 256, T[xor(crc % 256, byte)]).
# 60 levels total (vs 60 * n_media), no data-sized per-level join.
_CRC_ORACLE = f"""
    WITH RECURSIVE {_MD5_HEX_SQL},
    tseed AS (SELECT unnest(range(0, 256)) AS idx),
    tbl AS (
      SELECT idx, CAST(idx AS BIGINT) AS t, CAST(0 AS BIGINT) AS stp
      FROM tseed
      UNION ALL
      SELECT idx,
             xor(t // 2, CASE WHEN t % 2 = 1 THEN {_CRC_POLY}
                              ELSE CAST(0 AS BIGINT) END),
             stp + 1
      FROM tbl WHERE stp < 8),
    tlist AS MATERIALIZED (
      SELECT list(t ORDER BY idx) AS tl FROM tbl WHERE stp = 8),
    idl AS MATERIALIZED (
      SELECT list(media_id ORDER BY media_id) AS ids,
             CAST(count(*) AS BIGINT) AS nm
      FROM h),
    byp AS MATERIALIZED (
      SELECT i, list(v ORDER BY media_id) AS vs
      FROM b GROUP BY i),
    fold AS (
      SELECT CAST(0 AS BIGINT) AS k,
             list_transform(range(1, nm + 1),
               q -> CAST({_CRC_MASK} AS BIGINT)) AS crcs
      FROM idl
      UNION ALL
      SELECT f.k + 1,
             list_transform(range(1, len(f.crcs) + 1),
               q -> xor(f.crcs[q] // 256,
                        t.tl[CAST(xor(f.crcs[q] % 256,
                                      p.vs[q]) AS INTEGER) + 1]))
      FROM fold f
      JOIN byp p ON p.i = f.k
      CROSS JOIN tlist t
      WHERE f.k < 60),
    fin AS (SELECT crcs FROM fold WHERE k = 60)
    SELECT d.ids[CAST(u.q AS INTEGER)] AS media_id,
           CAST(60 AS BIGINT) AS n_bytes,
           xor(f.crcs[CAST(u.q AS INTEGER)], {_CRC_MASK}) AS crc32
    FROM fin f CROSS JOIN idl d,
         LATERAL (SELECT unnest(range(1, d.nm + 1)) AS q) u
"""


@register(
    "crc32_media",
    _CRC_ORACLE,
    tags=("multimodal", "integrity", "codec", "stateful"),
)
def q_crc32_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRC-32 of every md5 media stream: Spark runs zlib.crc32 (the
    real implementation); the oracle replays the reflected bitwise
    recursion from scratch over the per-media byte list -- hash
    equality is a full independent verification of the polynomial
    arithmetic on all streams."""
    from pyspark.sql import types as T

    raw = _md5_media(read_table(spark, sf_dir, "documents"))
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("crc32", T.LongType()),
        ]
    )

    def op(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            out = {"media_id": [], "n_bytes": [], "crc32": []}
            for row in pdf.itertuples():
                data = bytes(row.content)
                out["media_id"].append(row.media_id)
                out["n_bytes"].append(len(data))
                out["crc32"].append(zlib.crc32(data) & _CRC_MASK)
            yield pd.DataFrame(out)

    return raw.mapInPandas(op, schema=schema)


@register(
    "streaming_crc_replay",
    _CRC_ORACLE,
    tags=("streaming", "integrity", "stateful", "replay"),
)
def q_streaming_crc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """31st live replay -- chunked-upload integrity: every media's 60
    bytes arrive as four 15-byte micro-batches and the carried state is
    the RUNNING CRC-32 (zlib.crc32's seed form un-finalizes and
    continues, the multipart-upload pattern), so the final digest must
    equal the one-shot digest byte-for-byte. Same from-scratch
    recursive-CTE oracle as crc32_media -- the replay, the one-shot
    zlib path, and the SQL polynomial recursion must all agree."""
    import tempfile
    import zlib
    from pathlib import Path

    import pandas as pd

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.merge import (
        atomic_overwrite,
        recover_table,
    )
    from fraud_detection_in_banking_transactions_using_hadoop_spark.session import (
        normalize_runtime_conf,
    )

    normalize_runtime_conf(spark)
    base = Path(tempfile.mkdtemp(prefix="crc_stream_"))
    src, state = base / "src", base / "state"
    docs = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    ev = (
        docs.select(
            F.col("doc_id").alias("media_id"),
            F.concat(
                F.md5(F.concat(d, F.lit("a"))),
                F.md5(F.concat(d, F.lit("b"))),
                F.md5(F.concat(d, F.lit("c"))),
                F.md5(F.concat(d, F.lit("d"))),
            ).alias("hexs"),
        )
        .select("media_id", "hexs", F.expr("explode(sequence(0, 59))").alias("i"))
        .select(
            "media_id",
            "i",
            F.expr(
                "CAST(conv(substr(hexs, CAST(i * 2 + 1 AS INT), 2), 16, 10)"
                " AS BIGINT)"
            ).alias("v"),
        )
    )
    for p in range(4):
        ev.where((F.col("i") >= p * 15) & (F.col("i") < (p + 1) * 15)).coalesce(
            1
        ).write.parquet(str(src / f"part{p + 1}"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "part*"))
    )

    state_schema = "media_id long, crc long, n long"

    def fold(batch_df, batch_id):
        # Per-batch state update as collect_list + equi-join + ONE
        # mapInPandas pass (round 11): the r10 form ran
        # groupBy(media_id).applyInPandas over 5000 single-media
        # groups per batch -- 20k tiny pandas frames across the four
        # batches, pure per-group Python overhead. Gathering each
        # media's 15 bytes JVM-side (sort_array over (i, v) structs)
        # and folding the whole 5000-row state frame in one Arrow
        # batch keeps identical semantics: seed = carried crc,
        # zlib.crc32(data, seed) continuation.
        bb = batch_df.groupBy("media_id").agg(
            F.sort_array(F.collect_list(F.struct("i", "v"))).alias("bts")
        )

        def upd(batches):
            for pdf in batches:
                ids, crcs, ns = [], [], []
                for row in pdf.itertuples():
                    seed = 0 if pd.isna(row.crc) else int(row.crc)
                    n0 = 0 if pd.isna(row.n) else int(row.n)
                    data = bytes(int(x["v"]) for x in row.bts)
                    ids.append(int(row.media_id))
                    crcs.append(zlib.crc32(data, seed) & _CRC_MASK)
                    ns.append(n0 + len(data))
                yield pd.DataFrame({"media_id": ids, "crc": crcs, "n": ns})

        try:
            recover_table(spark, str(state))
            prev = spark.read.parquet(str(state))
            merged = bb.join(prev, "media_id", "left").mapInPandas(
                upd, schema=state_schema
            )
            atomic_overwrite(merged, str(state), f"crc{batch_id}")
        except Exception:
            first = (
                bb.withColumn("crc", F.lit(None).cast("long"))
                .withColumn("n", F.lit(None).cast("long"))
                .mapInPandas(upd, schema=state_schema)
            )
            first.write.mode("overwrite").parquet(str(state))

    q = (
        stream.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    return spark.read.parquet(str(state)).select(
        "media_id",
        F.col("n").alias("n_bytes"),
        F.col("crc").alias("crc32"),
    )
