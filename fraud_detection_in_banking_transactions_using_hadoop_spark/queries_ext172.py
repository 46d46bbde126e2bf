"""Extension batch 172 (round 6): a LOSSY-but-exact audio codec, a
third real image container, and Condorcet completion -- G.711 mu-law
(the telephony codec: 2:1 companding whose quantization error is
byte-for-byte the ITU table, verified exhaustively against CPython's
audioop on all 65536 int16 values in the operator tests -- the first
LOSSY codec in the multimodal tier, with the loss itself oracled),
binary netpbm P6/PPM (the simplest real interchange image format,
with proper token-grammar header parsing including comments), and the
Schulze beatpath method over the nation monthly head-to-head matrix
(the Condorcet-completion that picks a winner even with preference
cycles -- widest-path max-min closure, the voting-theory capstone
over borda_copeland_nations' positional scores).

Cross-engine discipline:
- mu-law: the ORACLE replays the full encode+decode pipeline in pure
  integer SQL CASE arithmetic (segment search, mantissa, companding
  expansion), so SNR / max-error match exactly -- the quantization
  noise itself is under the hash gate.
- P6: oracle recomputes channel stats from the md5 hex bytes; the
  71-byte container size is a format constant checked literally.
- Schulze: the max-min closure runs 5 squarings (2^5 > 25 nations)
  over the 625-cell matrix -- integer month-counts end to end;
  Spark checkpoints each squaring (EAGER), DuckDB unrolls 5
  MATERIALIZED CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext147 import (
    _MD5_HEX_SQL,
    _md5_media,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_N_SQUARINGS = 5  # 2^5 = 32 > 25 nations: max-min closure converged


# mu-law encode+decode replay as pure integer SQL over int16 sample s
_ULAW_MAG = (
    "((((m0 // CAST(power(2, useg + 1) AS BIGINT)) % 16) * 8 + 132)"
    " * CAST(power(2, useg) AS BIGINT) - 132)"
)
_ULAW_SHAT = f"""
      CASE WHEN useg >= 8 THEN
             CASE WHEN pcm < 0 THEN -32124 ELSE 32124 END
           WHEN pcm < 0 THEN -{_ULAW_MAG}
           ELSE {_ULAW_MAG}
      END
"""


@register(
    "multimodal_ulaw_stats",
    f"""
    WITH {_MD5_HEX_SQL},
    smp AS (
      SELECT media_id, i // 2 AS k,
             max(CASE WHEN i % 2 = 0 THEN v END)
               + 256 * max(CASE WHEN i % 2 = 1 THEN v END)
               - CASE WHEN max(CASE WHEN i % 2 = 1 THEN v END) >= 128
                      THEN 65536 ELSE 0 END AS s
      FROM b GROUP BY media_id, i // 2),
    enc AS (
      SELECT media_id, s,
             CAST(floor(s / 4.0) AS BIGINT) AS pcm
      FROM smp),
    seg AS (
      SELECT media_id, s, pcm,
             least(CASE WHEN pcm < 0 THEN -pcm ELSE pcm END, 8159) + 33
               AS m0
      FROM enc),
    dec AS (
      SELECT media_id, s, pcm, m0,
             CASE WHEN m0 <= 63 THEN 0 WHEN m0 <= 127 THEN 1
                  WHEN m0 <= 255 THEN 2 WHEN m0 <= 511 THEN 3
                  WHEN m0 <= 1023 THEN 4 WHEN m0 <= 2047 THEN 5
                  WHEN m0 <= 4095 THEN 6 WHEN m0 <= 8191 THEN 7
                  ELSE 8 END AS useg
      FROM seg),
    err AS (
      SELECT media_id, s,
             {_ULAW_SHAT} AS shat
      FROM dec),
    agg AS (
      SELECT media_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(s AS HUGEINT) * s) AS BIGINT) AS ss,
             CAST(sum(CAST(s - shat AS HUGEINT) * (s - shat)) AS BIGINT)
               AS se,
             CAST(max(abs(s - shat)) AS BIGINT) AS maxerr
      FROM err GROUP BY media_id)
    SELECT media_id, n AS n_samples,
           CAST(30 AS BIGINT) AS n_code_bytes,
           round(10.0 * ln(CAST(ss AS DOUBLE) / se) / ln(10.0), 4)
             AS snr_db,
           maxerr AS max_abs_error,
           TRUE AS idempotent_requantize
    FROM agg
    """,
    tags=("multimodal", "arrow", "codec", "audio", "lossy"),
)
def q_multimodal_ulaw_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 mu-law tier -- the first LOSSY codec under the hash gate:
    30 int16 samples per doc compress 2:1 through the real ITU
    companding (encode_ulaw/decode_ulaw, exhaustively byte-identical
    to CPython's audioop reference), and the QUANTIZATION NOISE
    itself is oracled: the DuckDB twin replays the segment/mantissa
    integer pipeline in SQL, so SNR and max-abs-error match exactly.
    Re-encoding the decoded signal must reproduce the code bytes
    (companding idempotence), asserted in-op."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.multimodal import (
        decode_ulaw,
        encode_ulaw,
    )
    from pyspark.sql import types as T

    raw = _md5_media(read_table(spark, sf_dir, "documents"))
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("n_code_bytes", T.LongType()),
            T.StructField("snr_db", T.DoubleType()),
            T.StructField("max_abs_error", T.LongType()),
            T.StructField("idempotent_requantize", T.BooleanType()),
        ]
    )

    def op(batches):
        import math

        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in schema.fieldNames()}
            for row in pdf.itertuples():
                s = np.frombuffer(bytes(row.content), dtype="<i2")
                codes = encode_ulaw(s)
                shat = decode_ulaw(codes).astype(np.int64)
                s64 = s.astype(np.int64)
                ss = int((s64 * s64).sum())
                se = int(((s64 - shat) ** 2).sum())
                out["media_id"].append(row.media_id)
                out["n_samples"].append(len(s))
                out["n_code_bytes"].append(len(codes))
                out["snr_db"].append(round(10.0 * math.log10(ss / se), 4))
                out["max_abs_error"].append(int(np.abs(s64 - shat).max()))
                out["idempotent_requantize"].append(
                    encode_ulaw(shat) == codes
                )
            yield pd.DataFrame(out)

    return raw.mapInPandas(op, schema=schema)


@register(
    "multimodal_pnm_stats",
    f"""
    WITH {_MD5_HEX_SQL},
    px AS (
      SELECT media_id, i // 3 AS p,
             max(CASE WHEN i % 3 = 0 THEN CAST(v AS DOUBLE) END) AS r,
             max(CASE WHEN i % 3 = 1 THEN CAST(v AS DOUBLE) END) AS g,
             max(CASE WHEN i % 3 = 2 THEN CAST(v AS DOUBLE) END) AS bl
      FROM b GROUP BY media_id, i // 3)
    SELECT media_id,
           CAST(71 AS BIGINT) AS n_bytes,
           round(avg(r), 6) AS mean_r,
           round(avg(g), 6) AS mean_g,
           round(avg(bl), 6) AS mean_b,
           round(max((r + g + bl) / 3.0) - min((r + g + bl) / 3.0), 6)
             AS gray_range,
           TRUE AS roundtrip_exact
    FROM px GROUP BY media_id
    """,
    tags=("multimodal", "arrow", "codec"),
)
def q_multimodal_pnm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """netpbm P6 tier: the 60 md5 bytes become a 4x5 RGB image,
    encode_pnm writes a REAL binary PPM ('P6\\n5 4\\n255\\n' + raster
    = the 71-byte size the oracle checks literally), decode_pnm
    parses the token grammar back -- including '#' comments, which
    the decoder roundtrip test exercises -- and the stats come from
    the DECODED pixels with the byte-exact re-encode asserted in-op.
    gray_range (max - min of per-pixel gray) is the contrast reading
    the BMP twin doesn't emit."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.multimodal import (
        decode_pnm,
        encode_pnm,
    )
    from pyspark.sql import types as T

    raw = _md5_media(read_table(spark, sf_dir, "documents"))
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("mean_r", T.DoubleType()),
            T.StructField("mean_g", T.DoubleType()),
            T.StructField("mean_b", T.DoubleType()),
            T.StructField("gray_range", T.DoubleType()),
            T.StructField("roundtrip_exact", T.BooleanType()),
        ]
    )

    def op(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in schema.fieldNames()}
            for row in pdf.itertuples():
                img = np.frombuffer(bytes(row.content), np.uint8).reshape(
                    4, 5, 3
                )
                pnm = encode_pnm(img)
                dec = decode_pnm(pnm)
                # comment-tolerant parse must agree too
                commented = b"P6\n# synthetic\n5 4\n255\n" + img.tobytes()
                dec2 = decode_pnm(commented)
                rgb = dec.astype(np.float64)
                gray = rgb.mean(axis=2)
                out["media_id"].append(row.media_id)
                out["n_bytes"].append(len(pnm))
                out["mean_r"].append(round(float(rgb[..., 0].mean()), 6))
                out["mean_g"].append(round(float(rgb[..., 1].mean()), 6))
                out["mean_b"].append(round(float(rgb[..., 2].mean()), 6))
                out["gray_range"].append(
                    round(float(gray.max() - gray.min()), 6)
                )
                out["roundtrip_exact"].append(
                    bool(
                        (dec == img).all()
                        and (dec2 == img).all()
                        and encode_pnm(dec) == pnm
                    )
                )
            yield pd.DataFrame(out)

    return raw.mapInPandas(op, schema=schema)


@register(
    "schulze_method_nations",
    f"""
    WITH months AS (
      SELECT DISTINCT date_trunc('month', o_orderdate) AS m FROM orders),
    nations AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
    rev AS (
      SELECT c.c_nationkey AS nk, date_trunc('month', o.o_orderdate) AS m,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey, date_trunc('month', o.o_orderdate)),
    grid AS (
      SELECT n.nk, mo.m, coalesce(r.cents, 0) AS cents
      FROM nations n CROSS JOIN months mo
      LEFT JOIN rev r ON r.nk = n.nk AND r.m = mo.m),
    d AS (
      SELECT a.nk AS src, b.nk AS dst,
             CAST(sum(CASE WHEN a.cents > b.cents THEN 1 ELSE 0 END)
                  AS BIGINT) AS w
      FROM grid a JOIN grid b ON a.m = b.m AND a.nk <> b.nk
      GROUP BY a.nk, b.nk),
    p0 AS MATERIALIZED (
      SELECT d.src, d.dst,
             CASE WHEN d.w > r.w THEN d.w ELSE 0 END AS w
      FROM d JOIN d r ON r.src = d.dst AND r.dst = d.src),
    {",".join(f'''
    p{k} AS MATERIALIZED (
      SELECT a.src, b.dst,
             greatest(max(CASE WHEN a.dst = b.src
                          THEN least(a.w, b.w) ELSE 0 END),
                      max(CASE WHEN a.src = b.src AND a.dst = b.dst
                          THEN a.w ELSE 0 END)) AS w
      FROM p{k - 1} a JOIN p{k - 1} b
        ON a.dst = b.src OR (a.src = b.src AND a.dst = b.dst)
      WHERE a.src <> b.dst OR (a.src = b.src AND a.dst = b.dst)
      GROUP BY a.src, b.dst)''' for k in range(1, _N_SQUARINGS + 1))},
    wins AS (
      SELECT p.src AS nk,
             CAST(sum(CASE WHEN p.w >= q.w THEN 1 ELSE 0 END) AS BIGINT)
               AS path_wins,
             CAST(count(*) AS BIGINT) AS n_rivals
      FROM p{_N_SQUARINGS} p
      JOIN p{_N_SQUARINGS} q ON q.src = p.dst AND q.dst = p.src
      GROUP BY p.src)
    SELECT nk AS nationkey, path_wins, n_rivals,
           path_wins = n_rivals AS is_schulze_winner
    FROM wins
    ORDER BY path_wins DESC, nk
    LIMIT 5
    """,
    tags=("voting", "condorcet", "graph"),
)
def q_schulze_method_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schulze beatpath winner over the 25 nations' monthly revenue
    head-to-heads: d[a][b] = months a out-earned b (dense grid,
    absent months count 0), the beatpath base keeps d only where it
    beats the reverse, and 5 max-min squarings (2^5 > 25) close the
    widest-path matrix. A nation whose strongest path to EVERY rival
    is at least as strong as the reverse path is the Schulze winner
    -- the Condorcet completion that resolves cycles, unlike
    borda_copeland_nations' positional tallies.

    Scale split (r8): the head-to-head tally d (the data-dependent
    part) runs distributed; the beatpath base is a BOUNDED 625-cell
    integer matrix, collected once, with the 5 exact-integer max-min
    squarings folded in Python (same closure the oracle unrolls) and
    the final wins tally computed over the closed matrix -- replacing
    5 shuffle-join+checkpoint rounds with one job."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    rev = (
        orders.join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.date_trunc("month", "o_orderdate").alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    months = orders.select(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).distinct()
    nations = customer.select(F.col("c_nationkey").alias("nk")).distinct()
    grid = (
        nations.crossJoin(months)
        .join(
            rev.select(
                F.col("nk").alias("rn"), F.col("m").alias("rm"), "cents"
            ),
            (F.col("rn") == F.col("nk")) & (F.col("rm") == F.col("m")),
            "left",
        )
        .select("nk", "m", F.coalesce(F.col("cents"), F.lit(0)).alias("cents"))
    )
    ga = grid.select(
        F.col("nk").alias("src"), F.col("m").alias("ma"),
        F.col("cents").alias("ca"),
    )
    gb = grid.select(
        F.col("nk").alias("dst"), F.col("m").alias("mb"),
        F.col("cents").alias("cb"),
    )
    d = (
        ga.join(
            gb,
            (F.col("ma") == F.col("mb")) & (F.col("src") != F.col("dst")),
        )
        .groupBy("src", "dst")
        .agg(
            F.sum(F.when(F.col("ca") > F.col("cb"), 1).otherwise(0))
            .cast("bigint")
            .alias("w")
        )
    )
    rvs = d.select(
        F.col("src").alias("rs"), F.col("dst").alias("rd"),
        F.col("w").alias("rw"),
    )
    p = (
        d.join(
            rvs, (F.col("rs") == F.col("dst")) & (F.col("rd") == F.col("src"))
        )
        .select(
            "src",
            "dst",
            F.when(F.col("w") > F.col("rw"), F.col("w"))
            .otherwise(0)
            .alias("w"),
        )
    )
    # Bounded collect (<=625 integer cells): max-min closure is O(1)
    # state -- fold the squarings driver-side, exactly as the oracle's
    # unrolled CTEs do.
    pw = {(r["src"], r["dst"]): r["w"] for r in p.collect()}
    nks = sorted({k[0] for k in pw} | {k[1] for k in pw})
    for _ in range(_N_SQUARINGS):
        new = dict(pw)
        for s in nks:
            for t in nks:
                if s == t:
                    continue
                best = pw.get((s, t), 0)
                for m in nks:
                    if m == s or m == t:
                        continue
                    lw = pw.get((s, m), 0)
                    rw = pw.get((m, t), 0)
                    via = lw if lw < rw else rw
                    if via > best:
                        best = via
                new[(s, t)] = best
        pw = new
    wins_py = []
    for s in nks:
        path_wins = sum(
            1
            for t in nks
            if t != s and pw.get((s, t), 0) >= pw.get((t, s), 0)
        )
        wins_py.append((s, path_wins, len(nks) - 1))
    wins_py.sort(key=lambda x: (-x[1], x[0]))
    return spark.createDataFrame(
        [
            (nk, pwn, nr, pwn == nr)
            for nk, pwn, nr in wins_py[:5]
        ],
        # nationkey stays INT (c_nationkey's width) to match the oracle
        "nationkey INT, path_wins LONG, n_rivals LONG,"
        " is_schulze_winner BOOLEAN",
    )
