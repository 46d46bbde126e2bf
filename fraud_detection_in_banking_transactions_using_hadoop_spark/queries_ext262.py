"""Extension batch 262 (round 13): the MDCT lossy audio codec -- the
r12 verdict's item 4, retiring the repo's last codec stub.

operators/multimodal.py's mdct tier is an mp3-class windowed-MDCT
transform codec without the psychoacoustic model: sine window
(Princen-Bradley), 50% overlapped blocks of 2N=16 samples, N=8
coefficients per hop, per-band scalar quantization coarsening with
frequency. It is FIXED-POINT INTEGER end-to-end (the jfdctint/JPEG
discipline): one rounded 2^12-scaled windowed-cosine table shared
verbatim between the Python codec and this module's generated SQL
literal, symmetric round-half-away integer division at quantize and
synthesis time, exact BIGINT sums everywhere. decode(encode(pcm)) is
therefore an exact integer function of the samples, and the
quantization noise itself -- SNR, max abs error, nonzero-coefficient
count -- is what the DuckDB hash gate checks, the discipline
G.711/ADPCM/JPEG established for every lossy codec in the repo.

Cross-engine notes: Python // floors while SQL integer division
truncates toward zero, so the shared rdiv keeps both operands
non-negative and handles the sign in a CASE (mdct_rdiv docstring);
every per-(media,f,k) and per-(media,f,n) sum is an exact integer sum
over a fixed 16-row (resp. 8-row) spine, so engine aggregation order
cannot matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.multimodal import (
    MDCT_BITS,
    MDCT_N,
    MDCT_QUANT,
    mdct_frame_count,
    mdct_table,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext147 import (
    _MD5_HEX_SQL,
    _md5_media,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_N_SAMPLES = 30  # 60 md5 bytes -> 30 int16 samples per doc (adpcm twin)
_NB = mdct_frame_count(_N_SAMPLES)  # 5 blocks of 2N=16 at hop N=8
_DEN = (MDCT_N // 2) << MDCT_BITS  # synthesis divisor


def _rdiv_sql(a: str, d: str) -> str:
    """The mdct_rdiv CASE: symmetric round-half-away, both branches on
    non-negative operands (SQL // truncates toward zero == floor
    there)."""
    return (
        f"CASE WHEN ({a}) >= 0 THEN (({a}) + ({d}) // 2) // ({d})"
        f" ELSE -((-({a}) + ({d}) // 2) // ({d})) END"
    )


def _mdct_sql() -> str:
    T = mdct_table()
    tt_vals = ", ".join(
        f"({k}, {n}, {T[k][n]})" for k in range(MDCT_N) for n in range(2 * MDCT_N)
    )
    qt_vals = ", ".join(
        f"({k}, {MDCT_QUANT[k] << MDCT_BITS}, {MDCT_QUANT[k]})"
        for k in range(MDCT_N)
    )
    return f"""
    WITH {_MD5_HEX_SQL},
    smp AS MATERIALIZED (
      SELECT media_id, i // 2 AS k,
             max(CASE WHEN i % 2 = 0 THEN v END)
               + 256 * max(CASE WHEN i % 2 = 1 THEN v END)
               - CASE WHEN max(CASE WHEN i % 2 = 1 THEN v END) >= 128
                      THEN 65536 ELSE 0 END AS s
      FROM b GROUP BY media_id, i // 2),
    tt AS MATERIALIZED (SELECT * FROM (VALUES {tt_vals}) AS t(k, n, t)),
    qt AS MATERIALIZED (SELECT * FROM (VALUES {qt_vals}) AS t(k, d, qd)),
    md AS (SELECT DISTINCT media_id FROM smp),
    fr AS (SELECT unnest(range(0, {_NB})) AS f),
    xf AS MATERIALIZED (
      SELECT md.media_id, fr.f, tt.k,
             CAST(coalesce(sum(tt.t * s.s), 0) AS BIGINT) AS xint
      FROM md CROSS JOIN fr CROSS JOIN tt
      LEFT JOIN smp s ON s.media_id = md.media_id
                     AND s.k = fr.f * {MDCT_N} - {MDCT_N} + tt.n
      GROUP BY md.media_id, fr.f, tt.k),
    qz AS MATERIALIZED (
      SELECT media_id, f, xf.k,
             {_rdiv_sql('xf.xint', 'qt.d')} AS q
      FROM xf JOIN qt ON qt.k = xf.k),
    yv AS MATERIALIZED (
      SELECT qz.media_id, qz.f, tt.n,
             CAST(sum(tt.t * qz.q * qt.qd) AS BIGINT) AS y
      FROM qz JOIN qt ON qt.k = qz.k JOIN tt ON tt.k = qz.k
      GROUP BY qz.media_id, qz.f, tt.n),
    rec AS (
      SELECT s.media_id, s.s,
             greatest(-32768, least(32767,
               {_rdiv_sql('y1.y + y2.y', str(_DEN))})) AS shat
      FROM smp s
      JOIN yv y1 ON y1.media_id = s.media_id
                AND y1.f = s.k // {MDCT_N}
                AND y1.n = s.k % {MDCT_N} + {MDCT_N}
      JOIN yv y2 ON y2.media_id = s.media_id
                AND y2.f = s.k // {MDCT_N} + 1
                AND y2.n = s.k % {MDCT_N}),
    nz AS (
      SELECT media_id,
             CAST(sum(CASE WHEN q <> 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS nonzero_coeffs
      FROM qz GROUP BY media_id),
    agg AS (
      SELECT media_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(s AS HUGEINT) * s) AS BIGINT) AS ss,
             CAST(sum(CAST(s - shat AS HUGEINT) * (s - shat)) AS BIGINT)
               AS se,
             CAST(max(abs(s - shat)) AS BIGINT) AS maxerr
      FROM rec GROUP BY media_id)
    SELECT a.media_id, a.n AS n_samples,
           CAST({_NB * MDCT_N} AS BIGINT) AS n_coeffs,
           nz.nonzero_coeffs,
           CASE WHEN a.se = 0 THEN NULL
                ELSE round(10.0 * ln(CAST(a.ss AS DOUBLE) / a.se)
                           / ln(10.0), 4) END AS snr_db,
           a.maxerr AS max_abs_error
    FROM agg a JOIN nz ON nz.media_id = a.media_id
    """


@register(
    "multimodal_mdct_stats",
    _mdct_sql(),
    tags=("multimodal", "arrow", "codec", "audio", "lossy"),
)
def q_multimodal_mdct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDCT transform-codec tier -- the mp3-class lossy path under the
    hash gate: 30 int16 samples per doc go through the real fixed-point
    windowed-MDCT codec (encode_mdct/decode_mdct), and the banded
    quantization noise is oracled exactly: the DuckDB twin replays
    analysis, quantization, synthesis, and overlap-add as pure BIGINT
    SQL from the SAME rounded cosine table, so SNR, max-abs-error AND
    the nonzero-coefficient count match bit-for-bit."""
    from pyspark.sql import types as T

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.multimodal import (
        decode_mdct,
        encode_mdct,
    )

    raw = _md5_media(read_table(spark, sf_dir, "documents"))
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("n_coeffs", T.LongType()),
            T.StructField("nonzero_coeffs", T.LongType()),
            T.StructField("snr_db", T.DoubleType()),
            T.StructField("max_abs_error", T.LongType()),
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
                coeffs = encode_mdct(s)
                shat = decode_mdct(coeffs, len(s)).astype(np.int64)
                s64 = s.astype(np.int64)
                ss = int((s64 * s64).sum())
                se = int(((s64 - shat) ** 2).sum())
                out["media_id"].append(row.media_id)
                out["n_samples"].append(len(s))
                out["n_coeffs"].append(len(coeffs))
                out["nonzero_coeffs"].append(
                    sum(1 for c in coeffs if c != 0)
                )
                out["snr_db"].append(
                    None if se == 0 else round(10.0 * math.log10(ss / se), 4)
                )
                out["max_abs_error"].append(int(np.abs(s64 - shat).max()))
            yield pd.DataFrame(out)

    return raw.mapInPandas(op, schema=schema)
