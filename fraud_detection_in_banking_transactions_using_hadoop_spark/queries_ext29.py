"""Extension batch 29: l-diversity privacy audit, an alternating
bias recommendation model in exact integers, RAKE keyphrase
extraction, and a paired sign test.

Scale notes (the 100 TB story per query):
- l_diversity_audit extends the k-anonymity audit: within each
  quasi-identifier equivalence class, how diverse is the SENSITIVE
  attribute? Distinct-l and entropy-l come from one
  (class, sensitive) groupBy followed by a class rollup; each
  -p*ln(p) term is an e9 integer so the per-class entropy sums are
  exact. Release gates read min(l) -- small classes with one segment
  value leak membership.
- item_bias_model is the classic mu + b_item + b_user baseline
  recommender fitted by two alternating passes (item residual means,
  then user residual means) -- each pass is ONE groupBy, the shape ALS
  iterations take at scale. Every quantity is e6 fixed-point with
  floor division, so the fit and its MAE are bit-exact cross-engine;
  the invariant test checks the model beats the global-mean baseline.
- rake_keyphrases is RAKE: token stream split into candidate phrases
  at stopwords (prefix-count of stopwords = phrase id, a per-doc
  partitioned window), word score = degree/frequency in integer ppm,
  phrase score = sum of member word scores. Shuffles on (doc, phrase)
  and word keys only; the top-20 is a bounded ordered limit.
- sign_test_weekly is the distribution-free paired test: sign of
  revenue(d+7) - revenue(d) over the bounded daily spine, exact
  integer counts into one closing z expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_CENTS = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"


# ---------------------------------------------------------------------------
# l-diversity audit over the k-anonymity equivalence classes.
# ---------------------------------------------------------------------------
q_l_diversity_audit = register_sql(
    "l_diversity_audit",
    """
    WITH cells AS (
      SELECT c_nationkey AS nk,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
             c_mktsegment AS sens,
             CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2, 3
    ),
    terms AS (
      SELECT nk, bal_bucket, sens, n,
             CAST(sum(n) OVER (PARTITION BY nk, bal_bucket) AS BIGINT)
               AS class_n
      FROM cells
    )
    SELECT nk, bal_bucket,
           CAST(max(class_n) AS BIGINT) AS class_size,
           CAST(count(*) AS BIGINT) AS l_distinct,
           CAST(sum(CAST(round(-1000000000.0
                 * (CAST(n AS DOUBLE) / class_n)
                 * ln(CAST(n AS DOUBLE) / class_n), 0) AS BIGINT))
                AS BIGINT) AS entropy_e9
    FROM terms GROUP BY nk, bal_bucket
    """,
    tags=("privacy", "l-diversity", "governance"),
)


# ---------------------------------------------------------------------------
# Alternating bias model: mu + b_item + b_user in e6 fixed-point.
# ---------------------------------------------------------------------------
@register(
    "item_bias_model",
    """
    WITH r AS (
      SELECT o.o_custkey AS u, l.l_partkey AS i,
             CAST(l.l_quantity AS BIGINT) AS q
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    mu AS (SELECT (1000000 * CAST(sum(q) AS BIGINT)) // count(*) AS mu_e6,
                  CAST(count(*) AS BIGINT) AS n FROM r),
    bi AS (
      SELECT i, CAST(sum(1000000 * q - (SELECT mu_e6 FROM mu))
                     // count(*) AS BIGINT) AS bi_e6
      FROM r GROUP BY i
    ),
    bu AS (
      SELECT u, CAST(sum(1000000 * q - (SELECT mu_e6 FROM mu) - bi.bi_e6)
                     // count(*) AS BIGINT) AS bu_e6
      FROM r JOIN bi ON r.i = bi.i GROUP BY u
    ),
    scored AS (
      SELECT r.q, (SELECT mu_e6 FROM mu) + bi.bi_e6 + bu.bu_e6 AS pred_e6
      FROM r JOIN bi ON r.i = bi.i JOIN bu ON r.u = bu.u
    )
    SELECT (SELECT n FROM mu) AS n_interactions,
           (SELECT mu_e6 FROM mu) AS mu_e6,
           CAST(sum(abs(1000000 * q - (SELECT mu_e6 FROM mu))) // count(*)
                AS BIGINT) AS mae_baseline_e6,
           CAST(sum(abs(1000000 * q - pred_e6)) // count(*) AS BIGINT)
             AS mae_model_e6
    FROM scored
    """,
    tags=("ml", "recsys", "bias"),
)
def q_item_bias_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two alternating bias passes (the ALS iteration shape, one
    groupBy each): b_item = mean item residual, then b_user = mean
    residual after item bias. All arithmetic is e6 fixed-point with
    floor division -- bit-exact cross-engine -- and the output compares
    model MAE against the global-mean baseline MAE on the training
    interactions. Scalar mu broadcasts (whitelisted 1-row
    crossJoin)."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    r = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("u"),
        F.col("l_partkey").alias("i"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    mu = r.agg(
        F.expr("(1000000 * CAST(sum(q) AS BIGINT)) DIV count(*)").alias("mu_e6"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    rm = r.crossJoin(F.broadcast(mu))
    bi = rm.groupBy("i", "mu_e6").agg(
        F.expr("CAST(sum(1000000 * q - mu_e6) DIV count(*) AS BIGINT)").alias("bi_e6")
    ).select("i", "bi_e6")
    bu = (
        rm.join(bi, "i")
        .groupBy("u")
        .agg(
            F.expr(
                "CAST(sum(1000000 * q - mu_e6 - bi_e6) DIV count(*) AS BIGINT)"
            ).alias("bu_e6")
        )
    )
    scored = rm.join(bi, "i").join(bu, "u").select(
        "q", "mu_e6", "n", (F.col("mu_e6") + F.col("bi_e6") + F.col("bu_e6")).alias("pred_e6")
    )
    return scored.groupBy("n", "mu_e6").agg(
        F.expr("CAST(sum(abs(1000000 * q - mu_e6)) DIV count(*) AS BIGINT)").alias(
            "mae_baseline_e6"
        ),
        F.expr("CAST(sum(abs(1000000 * q - pred_e6)) DIV count(*) AS BIGINT)").alias(
            "mae_model_e6"
        ),
    ).select(
        F.col("n").alias("n_interactions"),
        "mu_e6",
        "mae_baseline_e6",
        "mae_model_e6",
    )


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction.
# ---------------------------------------------------------------------------
_STOPWORDS = ("the", "a", "of", "and", "to", "in")
_SW_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


@register(
    "rake_keyphrases",
    f"""
    WITH toks AS (
      SELECT doc_id, i.i AS pos, t.toks[i.i] AS tok,
             CASE WHEN t.toks[i.i] IN ({_SW_SQL}) THEN 1 ELSE 0 END AS is_stop
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
           (SELECT unnest(range(1, 1001)) AS i) i
      WHERE i.i <= len(t.toks)
    ),
    marked AS (
      SELECT doc_id, pos, tok, is_stop,
             sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
      FROM toks
    ),
    content AS (SELECT doc_id, pid, pos, tok FROM marked WHERE is_stop = 0),
    phrases AS (
      SELECT doc_id, pid,
             string_agg(tok, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM content GROUP BY doc_id, pid
      HAVING count(*) BETWEEN 2 AND 4
    ),
    members AS (
      SELECT c.tok, p.doc_id, p.pid, p.plen
      FROM content c JOIN phrases p
        ON c.doc_id = p.doc_id AND c.pid = p.pid
    ),
    wordscore AS (
      SELECT tok,
             CAST((1000000 * sum(plen)) // count(*) AS BIGINT) AS ws
      FROM members GROUP BY tok
    ),
    scored AS (
      SELECT p.phrase, CAST(sum(w.ws) AS BIGINT) AS score
      FROM members m
      JOIN phrases p ON m.doc_id = p.doc_id AND m.pid = p.pid
      JOIN wordscore w ON m.tok = w.tok
      GROUP BY p.doc_id, p.pid, p.phrase
    )
    SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(max(score) AS BIGINT) AS score
    FROM scored GROUP BY phrase
    ORDER BY score DESC, phrase
    LIMIT 20
    """,
    tags=("llm", "keyphrase", "rake"),
)
def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE: stopwords delimit candidate phrases (phrase id = per-doc
    prefix count of stopwords), word score = 1e6*degree/frequency with
    floor division, phrase score = sum of member word scores
    (multiplicity included). Identical phrase strings collapse
    (max(score) is well-defined: equal strings produce equal scores).
    Shuffles only on (doc, phrase) and word keys; top-20 via
    (score, phrase) deterministic order."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "tok")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        "tok",
        F.when(F.col("tok").isin(*_STOPWORDS), 1).otherwise(0).alias("is_stop"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    marked = toks.withColumn("pid", F.sum("is_stop").over(w))
    content = marked.where(F.col("is_stop") == 0).select("doc_id", "pid", "pos", "tok")
    phrases = (
        content.groupBy("doc_id", "pid")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.tok,
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("bigint").alias("plen"),
        )
        .where(F.col("plen").between(2, 4))
    )
    members = content.join(phrases, ["doc_id", "pid"]).select(
        "tok", "doc_id", "pid", "plen", "phrase"
    )
    wordscore = members.groupBy("tok").agg(
        F.expr("CAST((1000000 * sum(plen)) DIV count(*) AS BIGINT)").alias("ws")
    )
    scored = (
        members.join(wordscore, "tok")
        .groupBy("doc_id", "pid", "phrase")
        .agg(F.sum("ws").cast("bigint").alias("score"))
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.max("score").cast("bigint").alias("score"),
        )
        .orderBy(F.col("score").desc(), "phrase")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Paired sign test: revenue(d+7) vs revenue(d).
# ---------------------------------------------------------------------------
@register(
    "sign_test_weekly",
    f"""
    WITH days AS (
      SELECT o_orderdate AS d, CAST(sum({_CENTS}) AS BIGINT) AS c
      FROM orders GROUP BY o_orderdate
    ),
    paired AS (
      SELECT c AS cur, lead(c, 7) OVER (ORDER BY d) AS nxt FROM days
    ),
    signs AS (
      SELECT CAST(sum(CASE WHEN nxt > cur THEN 1 ELSE 0 END) AS BIGINT) AS k_plus,
             CAST(sum(CASE WHEN nxt < cur THEN 1 ELSE 0 END) AS BIGINT) AS k_minus
      FROM paired WHERE nxt IS NOT NULL AND nxt <> cur
    )
    SELECT k_plus, k_minus,
           CAST(k_plus + k_minus AS BIGINT) AS n_pairs,
           CASE WHEN k_plus + k_minus = 0 THEN NULL
                ELSE round((CAST(k_plus AS DOUBLE)
                            - CAST(k_plus + k_minus AS DOUBLE) / 2)
                           / sqrt(CAST(k_plus + k_minus AS DOUBLE) / 4), 6)
           END AS z_score
    FROM signs
    """,
    tags=("stats", "nonparametric", "timeseries"),
)
def q_sign_test_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free paired test of week-over-week revenue drift:
    exact plus/minus sign counts over (d, d+7) pairs on the bounded
    daily spine (zero-differences dropped, the standard treatment),
    one closing normal-approximation z from exact integers."""
    orders = read_table(spark, sf_dir, "orders")
    days = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.expr(_CENTS)).cast("bigint").alias("c")
    )
    paired = days.select(
        F.col("c").alias("cur"), F.lead("c", 7).over(Window.orderBy("d")).alias("nxt")
    ).where(F.col("nxt").isNotNull() & (F.col("nxt") != F.col("cur")))
    signs = paired.agg(
        F.sum(F.when(F.col("nxt") > F.col("cur"), 1).otherwise(0))
        .cast("bigint")
        .alias("k_plus"),
        F.sum(F.when(F.col("nxt") < F.col("cur"), 1).otherwise(0))
        .cast("bigint")
        .alias("k_minus"),
    )
    n = (F.col("k_plus") + F.col("k_minus")).cast("bigint")
    z = (F.col("k_plus").cast("double") - n.cast("double") / 2) / F.sqrt(
        n.cast("double") / 4
    )
    return signs.select(
        "k_plus",
        "k_minus",
        n.alias("n_pairs"),
        F.when(n == 0, F.lit(None).cast("double")).otherwise(F.round(z, 6)).alias("z_score"),
    )
