"""Extension batch 251 (round 12): the LLM-curation tier extended along
the DSIR axis (r11 verdict item 6).

- quality_classifier_calibration: a TRAINED per-domain quality
  classifier -- logistic regression of the DSIR target-domain label
  (embeddings.label < 2, joined 1:1 on vec_id == doc_id) on the
  document length feature, fitted by 3 in-engine Newton rounds (the
  ext137 e9-integer fold discipline verbatim), then CALIBRATED: exact
  ntile(10) deciles of the feature (operators/rank two-level plan, no
  global window) with per-decile mean predicted probability vs
  empirical target rate in exact ppm (integer division both engines),
  plus the global Brier score. This is the "train a quality classifier
  on a trusted target domain, then check its reliability before using
  it as a curation gate" step every pretraining pipeline runs; at
  100 TB it is one broadcast of 4 coefficients + the rank operator's
  bucketed exchange.

- decontamination_span_filter: n-gram-overlap decontamination BETWEEN
  splits -- the GPT-3-style contiguous-span rule, not the count rule
  contamination_check already covers. Documents are split by a
  deterministic md5 ring (first hex digit 0-2 => eval split, ~19%);
  every 3-word shingle of an eval doc that also occurs anywhere in the
  train split is a hit, and the screen reports each eval doc's LONGEST
  CONTIGUOUS run of hit shingles (gaps-and-islands on shingle
  position: p - row_number() among hits). A doc with a long contiguous
  run shares a verbatim passage with train (remove it); scattered
  single-shingle hits are benign phrase reuse. Plan: one distinct
  train-shingle exchange + a position-keyed left join + a
  doc-partitioned window -- bucketed by shingle, no pair scan, the
  100 TB decontamination shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.rank import (
    ntile_from_rank,
    with_global_rank,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext137 import _e9
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_N_ROUNDS = 3
_E9_SQL = "CAST(floor(({t}) * 1e9 + 0.5) AS HUGEINT)"


# Shared sigmoid text on the (v, y, c) spine x broadcast coefficients.
_P = "1.0 / (1.0 + exp(-(b.b0 + b.b1 * ((CAST(s.v AS DOUBLE) - b.mu) / b.sg))))"
_X = "((CAST(s.v AS DOUBLE) - b.mu) / b.sg)"
_C = "CAST(s.c AS DOUBLE)"


def _round_sql(i: int) -> str:
    """One unrolled Newton round (ext137's public 2x2 IRLS pattern) on
    the document spine."""
    return f"""
    qstat{i} AS (
      SELECT b.b0, b.b1, b.mu, b.sg,
             sum({_E9_SQL.format(t=f"{_C} * (s.y - {_P})")}) AS g0,
             sum({_E9_SQL.format(t=f"{_C} * (s.y - {_P}) * {_X}")}) AS g1,
             sum({_E9_SQL.format(t=f"{_C} * {_P} * (1.0 - {_P})")}) AS h00,
             sum({_E9_SQL.format(t=f"{_C} * {_P} * (1.0 - {_P}) * {_X}")}) AS h01,
             sum({_E9_SQL.format(t=f"{_C} * {_P} * (1.0 - {_P}) * {_X} * {_X}")}) AS h11
      FROM qspine s CROSS JOIN qit{i} b
      GROUP BY b.b0, b.b1, b.mu, b.sg),
    qit{i + 1} AS (
      SELECT mu, sg,
             b0 + (CAST(h11 AS DOUBLE) * g0 - CAST(h01 AS DOUBLE) * g1)
                  / (CAST(h00 AS DOUBLE) * CAST(h11 AS DOUBLE)
                     - CAST(h01 AS DOUBLE) * CAST(h01 AS DOUBLE)) AS b0,
             b1 + (CAST(h00 AS DOUBLE) * g1 - CAST(h01 AS DOUBLE) * g0)
                  / (CAST(h00 AS DOUBLE) * CAST(h11 AS DOUBLE)
                     - CAST(h01 AS DOUBLE) * CAST(h01 AS DOUBLE)) AS b1
      FROM qstat{i})
    """


_QPD = "1.0 / (1.0 + exp(-(b.b0 + b.b1 * ((CAST(d.v AS DOUBLE) - b.mu) / b.sg))))"

_QUALITY_SQL = (
    """
    WITH docs AS MATERIALIZED (
      SELECT d.doc_id, d.n_chars AS v,
             CASE WHEN e.label < 2 THEN 1 ELSE 0 END AS y
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
    qspine AS MATERIALIZED (
      SELECT v, y, CAST(count(*) AS BIGINT) AS c
      FROM docs GROUP BY 1, 2),
    qmom AS (
      SELECT CAST(sum(c) AS HUGEINT) AS n,
             CAST(sum(CAST(v AS HUGEINT) * c) AS HUGEINT) AS sx,
             CAST(sum(CAST(v AS HUGEINT) * v * c) AS HUGEINT) AS sxx,
             CAST(sum(y * c) AS HUGEINT) AS sy
      FROM qspine),
    qit0 AS (
      SELECT CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
             sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / CAST(n AS DOUBLE) AS sg,
             ln(CAST(sy AS DOUBLE) / CAST(n - sy AS DOUBLE)) AS b0,
             0.0 AS b1
      FROM qmom),
    """
    + f"""
    {",".join(_round_sql(i).strip() for i in range(_N_ROUNDS))},
    brier AS (
      SELECT sum({_E9_SQL.format(
          t=f"{_C} * (s.y - {_P}) * (s.y - {_P})")}) AS sq,
             CAST(sum(s.c) AS HUGEINT) AS n
      FROM qspine s CROSS JOIN qit{_N_ROUNDS} b),
    scored AS (
      SELECT d.doc_id, d.y,
             ntile(10) OVER (ORDER BY d.v, d.doc_id) AS decile,
             {_E9_SQL.format(t=_QPD)} AS p_e9
      FROM docs d CROSS JOIN qit{_N_ROUNDS} b)
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(y) AS BIGINT) AS n_target,
           CAST(sum(p_e9) // (1000 * count(*)) AS BIGINT) AS pred_ppm,
           CAST((1000000 * CAST(sum(y) AS HUGEINT)) // count(*) AS BIGINT)
             AS rate_ppm,
           CAST(sum(p_e9) // (1000 * count(*))
                - (1000000 * CAST(sum(y) AS HUGEINT)) // count(*) AS BIGINT)
             AS gap_ppm,
           CAST((SELECT sq // (1000 * n) FROM brier) AS BIGINT)
             AS brier_ppm
    FROM scored GROUP BY decile
    """
)


@register(
    "quality_classifier_calibration",
    _QUALITY_SQL,
    tags=("llm", "data-curation", "ml", "glm", "exact-arith"),
)
def q_quality_classifier_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-domain quality-classifier calibration (module docstring):
    3 Newton rounds on the weighted (n_chars, y, count) spine, then a
    10-decile reliability table -- mean predicted probability vs
    empirical target rate per decile, both in exact ppm (integer
    division), plus the global Brier score. All sufficient statistics
    are e9-quantized per row before DECIMAL(38,0) sums, so the fitted
    coefficients are bit-identical across engines (ext137 discipline);
    deciles come from operators/rank (exact NTILE, no global window)."""
    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", F.col("n_chars").alias("v"))
        .join(
            read_table(spark, sf_dir, "embeddings").select(
                F.col("vec_id").alias("doc_id"),
                F.when(F.col("label") < 2, 1).otherwise(0).alias("y"),
            ),
            "doc_id",
        )
        # consumed 3x: the spine groupBy, the decile rank pass, n_row
        .localCheckpoint(eager=True)
    )
    spine = (
        docs.groupBy("v", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    # r13: same literal driver-fold as logistic_newton_1d (ext137) --
    # moments and iterates are bounded scalars; ln stays in-engine via
    # a 1-row local job; Newton updates are pure IEEE +-*/ on exact
    # DECIMAL sums, identical in Python and JVM.
    mom = spine.agg(
        F.sum("c").cast(_DEC).alias("n"),
        F.sum(F.col("v").cast(_DEC) * F.col("c")).cast(_DEC).alias("sx"),
        F.sum(F.col("v").cast(_DEC) * F.col("v") * F.col("c"))
        .cast(_DEC)
        .alias("sxx"),
        F.sum(F.col("y") * F.col("c")).cast(_DEC).alias("sy"),
    ).first()
    n_i, sx_i, sxx_i, sy_i = (int(mom[k]) for k in ("n", "sx", "sxx", "sy"))
    import math

    mu = float(sx_i) / float(n_i)
    sg = math.sqrt(float(n_i * sxx_i - sx_i * sx_i)) / float(n_i)
    b0 = spark.range(1).select(
        F.log(F.lit(float(sy_i) / float(n_i - sy_i))).alias("b0")
    ).first()["b0"]
    b1 = 0.0

    for _ in range(_N_ROUNDS):
        x = (F.col("v").cast("double") - F.lit(mu)) / F.lit(sg)
        p = 1.0 / (1.0 + F.exp(-(F.lit(b0) + F.lit(b1) * x)))
        cd = F.col("c").cast("double")
        st = spine.agg(
            F.sum(_e9(cd * (F.col("y") - p))).cast(_DEC).alias("g0"),
            F.sum(_e9(cd * (F.col("y") - p) * x)).cast(_DEC).alias("g1"),
            F.sum(_e9(cd * p * (1.0 - p))).cast(_DEC).alias("h00"),
            F.sum(_e9(cd * p * (1.0 - p) * x)).cast(_DEC).alias("h01"),
            F.sum(_e9(cd * p * (1.0 - p) * x * x)).cast(_DEC).alias("h11"),
        ).first()
        g0, g1, h00, h01, h11 = (
            float(st[k]) for k in ("g0", "g1", "h00", "h01", "h11")
        )
        det = h00 * h11 - h01 * h01
        b0, b1 = b0 + (h11 * g0 - h01 * g1) / det, b1 + (
            h00 * g1 - h01 * g0
        ) / det

    x = (F.col("v").cast("double") - F.lit(mu)) / F.lit(sg)
    p = 1.0 / (1.0 + F.exp(-(F.lit(b0) + F.lit(b1) * x)))
    cd = F.col("c").cast("double")
    brier = (
        spine
        .agg(
            F.sum(_e9(cd * (F.col("y") - p) * (F.col("y") - p)))
            .cast(_DEC)
            .alias("sq"),
            F.sum("c").cast(_DEC).alias("n"),
        )
        .select(
            F.expr("CAST(sq DIV (1000 * n) AS BIGINT)").alias("brier_ppm")
        )
    )
    gr = with_global_rank(
        docs,
        "v",
        [F.col("v").asc(), F.col("doc_id").asc()],
        rank_col="_i",
        bucket_bits=4,
    )
    n_row = docs.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    scored = (
        gr.crossJoin(F.broadcast(n_row))
        .select(
            "y",
            ntile_from_rank(F.col("_i"), F.col("_n"), 10).alias("decile"),
            _e9(p).alias("p_e9"),
        )
    )
    return (
        scored.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("y").cast("bigint").alias("n_target"),
            F.sum("p_e9").cast(_DEC).alias("sp"),
        )
        .crossJoin(F.broadcast(brier))
        .select(
            F.col("decile").cast("integer").alias("decile"),
            "n_docs",
            "n_target",
            F.expr("CAST(sp DIV (1000 * n_docs) AS BIGINT)").alias(
                "pred_ppm"
            ),
            F.expr(
                "CAST((1000000 * CAST(n_target AS DECIMAL(38,0)))"
                " DIV n_docs AS BIGINT)"
            ).alias("rate_ppm"),
            F.expr(
                "CAST(sp DIV (1000 * n_docs)"
                " - (1000000 * CAST(n_target AS DECIMAL(38,0))) DIV n_docs"
                " AS BIGINT)"
            ).alias("gap_ppm"),
            "brier_ppm",
        )
    )


_DECON_SQL = """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2')
               AS is_eval
      FROM documents),
    ps AS (
      SELECT doc_id, is_eval, CAST(e.p AS BIGINT) AS p, e.s AS sh
      FROM (
        SELECT doc_id, is_eval,
               unnest(list_transform(
                 range(1, greatest(len(toks) - 2, 1) + 1),
                 i -> struct_pack(p := i,
                        s := concat_ws(' ', toks[i], toks[i + 1],
                                       toks[i + 2])))) AS e
        FROM t)),
    train_sh AS (SELECT DISTINCT sh FROM ps WHERE NOT is_eval),
    hits AS (
      SELECT e.doc_id, e.p,
             CASE WHEN tr.sh IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM (SELECT * FROM ps WHERE is_eval) e
      LEFT JOIN train_sh tr ON tr.sh = e.sh),
    runs AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS run_len
      FROM (
        SELECT doc_id, p,
               p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM hits WHERE hit = 1)
      GROUP BY doc_id, grp),
    per AS (
      SELECT h.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(h.hit) AS BIGINT) AS n_matched,
             coalesce(max(r.longest), 0) AS longest_run
      FROM hits h
      LEFT JOIN (SELECT doc_id, max(run_len) AS longest
                 FROM runs GROUP BY doc_id) r ON r.doc_id = h.doc_id
      GROUP BY h.doc_id, r.longest),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_eval_docs,
             CAST(sum(CASE WHEN longest_run >= 8 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_flagged
      FROM per)
    SELECT p.doc_id, p.n_shingles, p.n_matched, p.longest_run,
           CAST(CASE WHEN p.longest_run >= 8 THEN 1 ELSE 0 END AS INTEGER)
             AS contaminated,
           s.n_eval_docs, s.n_flagged
    FROM per p CROSS JOIN stats s
    ORDER BY p.longest_run DESC, p.n_matched DESC, p.doc_id
    LIMIT 20
    """


@register(
    "decontamination_span_filter",
    _DECON_SQL,
    tags=("llm", "data-curation", "dedup", "decontamination"),
)
def q_decontamination_span_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Span-based train/eval decontamination (module docstring): for
    each md5-ring eval doc, the longest contiguous run of 3-shingles
    that also appear anywhere in the train split, via gaps-and-islands
    over shingle positions. Top-20 most-contaminated eval docs with
    the global flagged count alongside. The train-shingle set is one
    DISTINCT exchange; position shingling is the shingle_rows
    codegen-friendly posexplode shape with the position kept."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        .isin("0", "1", "2")
        .alias("is_eval"),
    )
    toks = F.split(F.col("text"), " ")
    ps = (
        docs.select(
            "doc_id",
            "is_eval",
            toks.alias("_tk"),
            F.size(toks).alias("_n"),
        )
        .select(
            "doc_id",
            "is_eval",
            "_tk",
            "_n",
            F.posexplode("_tk").alias("_p", "_tok"),
        )
        .where(F.col("_p") <= F.greatest(F.col("_n") - 3, F.lit(0)))
        .select(
            "doc_id",
            "is_eval",
            (F.col("_p") + 1).cast("bigint").alias("p"),
            F.concat_ws(
                " ",
                F.col("_tok"),
                F.try_element_at("_tk", F.col("_p") + 2),
                F.try_element_at("_tk", F.col("_p") + 3),
            ).alias("sh"),
        )
    )
    train_sh = ps.where(~F.col("is_eval")).select("sh").distinct()
    hits = (
        ps.where(F.col("is_eval"))
        .join(
            train_sh.select(F.col("sh"), F.lit(1).alias("_hit")),
            "sh",
            "left",
        )
        .select(
            "doc_id",
            "p",
            F.coalesce(F.col("_hit"), F.lit(0)).alias("hit"),
        )
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    runs = (
        hits.where(F.col("hit") == 1)
        .select("doc_id", "p", (F.col("p") - F.row_number().over(w)).alias("grp"))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("run_len"))
        .groupBy("doc_id")
        .agg(F.max("run_len").alias("longest"))
    )
    per = (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum("hit").cast("bigint").alias("n_matched"),
        )
        .join(runs, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            "n_matched",
            F.coalesce(F.col("longest"), F.lit(0))
            .cast("bigint")
            .alias("longest_run"),
        )
        .localCheckpoint(eager=True)
    )
    stats = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval_docs"),
        F.sum(F.when(F.col("longest_run") >= 8, 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged"),
    )
    return (
        per.select(
            "doc_id",
            "n_shingles",
            "n_matched",
            "longest_run",
            F.when(F.col("longest_run") >= 8, 1)
            .otherwise(0)
            .cast("integer")
            .alias("contaminated"),
        )
        .crossJoin(F.broadcast(stats))
        .orderBy(
            F.col("longest_run").desc(), F.col("n_matched").desc(), "doc_id"
        )
        .limit(20)
    )
