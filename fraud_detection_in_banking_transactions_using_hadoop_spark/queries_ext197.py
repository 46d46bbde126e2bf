"""Extension batch 197 (round 8): IMA/DVI ADPCM -- the second lossy
audio codec, retiring the last achievable gap in the multimodal tier
(r7 verdict item 4; MP3's MDCT+psychoacoustics needs libs this sandbox
cannot install and stays documented-impossible-offline).

IMA ADPCM is 4-bit adaptive differential PCM: per sample the encoder
quantizes the prediction error to a sign + 3 magnitude bits against an
adaptive step (89-entry table walked by {-1,-1,-1,-1,2,4,6,8}), and --
per the spec -- tracks the decoder's reconstruction exactly, so the
decoder's output IS the encoder's predictor sequence. Every operation
is integer (shifts, adds, clamps), which makes the 4:1 quantization
noise reproducible in pure BIGINT SQL.

Cross-engine discipline: the Spark side runs the REAL packed-nibble
codec (operators/multimodal.py encode_adpcm/decode_adpcm) through
mapInPandas; the DuckDB oracle replays the per-sample recursion as a
RECURSIVE CTE carrying (predictor, step index) per media -- the
streaming_kalman_replay per-user-recursive-CTE precedent, here with
the spec's integer clamp arithmetic. SNR uses the shared
round(10*ln(ss/se)/ln(10), 4) formulation proven by the mu-law tier,
NULL-guarded identically on both engines when the error is zero.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.multimodal import (
    ADPCM_INDEX_INC,
    ADPCM_STEPS,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext147 import (
    _MD5_HEX_SQL,
    _md5_media,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_N_SAMPLES = 30  # 60 md5 bytes -> 30 int16 samples per doc (ulaw twin)

_STEP_LIST = "[" + ", ".join(str(s) for s in ADPCM_STEPS) + "]"
_IDX_INC_CASE = (
    "CASE WHEN mag < 4 THEN -1 WHEN mag = 4 THEN 2 WHEN mag = 5 THEN 4"
    " WHEN mag = 6 THEN 6 ELSE 8 END"
)


@register(
    "multimodal_adpcm_stats",
    f"""
    WITH RECURSIVE {_MD5_HEX_SQL},
    smp AS MATERIALIZED (
      SELECT media_id, i // 2 AS k,
             max(CASE WHEN i % 2 = 0 THEN v END)
               + 256 * max(CASE WHEN i % 2 = 1 THEN v END)
               - CASE WHEN max(CASE WHEN i % 2 = 1 THEN v END) >= 128
                      THEN 65536 ELSE 0 END AS s
      FROM b GROUP BY media_id, i // 2),
    stepst AS (
      SELECT i AS sidx, ({_STEP_LIST})[i + 1] AS st
      FROM (SELECT unnest(range(0, 89)) AS i)),
    fold AS (
      SELECT media_id, CAST(0 AS BIGINT) AS k, CAST(0 AS BIGINT) AS pred,
             CAST(0 AS BIGINT) AS idx, CAST(NULL AS BIGINT) AS s,
             CAST(NULL AS BIGINT) AS shat
      FROM (SELECT DISTINCT media_id FROM smp)
      UNION ALL
      SELECT media_id, kk + 1, newpred, newidx, s, newpred AS shat
      FROM (
        SELECT f.media_id, f.k AS kk, s.s,
               st.st AS step,
               s.s - f.pred AS diff,
               abs(s.s - f.pred) AS adiff,
               CASE WHEN adiff >= step THEN 1 ELSE 0 END AS b4,
               adiff - b4 * step AS r1,
               CASE WHEN r1 >= step // 2 THEN 1 ELSE 0 END AS b2,
               r1 - b2 * (step // 2) AS r2,
               CASE WHEN r2 >= step // 4 THEN 1 ELSE 0 END AS b1,
               (step // 8) + b4 * step + b2 * (step // 2)
                 + b1 * (step // 4) AS vpdiff,
               greatest(-32768, least(32767,
                 f.pred + CASE WHEN diff < 0 THEN -vpdiff
                               ELSE vpdiff END)) AS newpred,
               4 * b4 + 2 * b2 + b1 AS mag,
               greatest(0, least(88, f.idx + {_IDX_INC_CASE})) AS newidx
        FROM fold f
        JOIN smp s ON s.media_id = f.media_id AND s.k = f.k
        JOIN stepst st ON st.sidx = f.idx)),
    fin AS (
      SELECT media_id, idx AS final_idx
      FROM fold WHERE k = {_N_SAMPLES}),
    agg AS (
      SELECT media_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(s AS HUGEINT) * s) AS BIGINT) AS ss,
             CAST(sum(CAST(s - shat AS HUGEINT) * (s - shat)) AS BIGINT)
               AS se,
             CAST(max(abs(s - shat)) AS BIGINT) AS maxerr
      FROM fold WHERE s IS NOT NULL GROUP BY media_id)
    SELECT a.media_id, a.n AS n_samples,
           CAST({_N_SAMPLES // 2} AS BIGINT) AS n_code_bytes,
           CASE WHEN a.se = 0 THEN NULL
                ELSE round(10.0 * ln(CAST(a.ss AS DOUBLE) / a.se)
                           / ln(10.0), 4) END AS snr_db,
           a.maxerr AS max_abs_error,
           CAST(f.final_idx AS BIGINT) AS final_step_index
    FROM agg a JOIN fin f ON f.media_id = a.media_id
    """,
    tags=("multimodal", "arrow", "codec", "audio", "lossy"),
)
def q_multimodal_adpcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMA ADPCM tier -- 4:1 lossy compression under the hash gate: 30
    int16 samples per doc pack into 15 bytes of 4-bit codes through the
    real IMA recursion (encode_adpcm/decode_adpcm, decoder output ==
    encoder predictor trace by construction), and the quantization
    noise itself is oracled: the DuckDB twin replays the adaptive-step
    recursion as a recursive CTE, so SNR, max-abs-error, AND the final
    step-table index (the carried decoder state) match exactly."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.multimodal import (
        decode_adpcm,
        encode_adpcm,
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
            T.StructField("final_step_index", T.LongType()),
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
                codes = encode_adpcm(s)
                shat = decode_adpcm(codes, len(s)).astype(np.int64)
                # final decoder state: replay the index walk
                idx = 0
                for k in range(len(s)):
                    byte = codes[k >> 1]
                    code = (byte >> 4) & 0xF if k & 1 else byte & 0xF
                    idx = max(0, min(88, idx + ADPCM_INDEX_INC[code & 7]))
                s64 = s.astype(np.int64)
                ss = int((s64 * s64).sum())
                se = int(((s64 - shat) ** 2).sum())
                out["media_id"].append(row.media_id)
                out["n_samples"].append(len(s))
                out["n_code_bytes"].append(len(codes))
                out["snr_db"].append(
                    None if se == 0 else round(10.0 * math.log10(ss / se), 4)
                )
                out["max_abs_error"].append(int(np.abs(s64 - shat).max()))
                out["final_step_index"].append(idx)
            yield pd.DataFrame(out)

    return raw.mapInPandas(op, schema=schema)
