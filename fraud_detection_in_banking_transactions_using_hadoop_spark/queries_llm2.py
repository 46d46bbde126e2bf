"""Second LLM-pipeline batch: shingle MinHash, TF-IDF top terms, exact
quantiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


# ---------------------------------------------------------------------------
# Word-3-shingle MinHash LSH: the standard near-dup unit (unigram variant
# in minhash_lsh_pairs). Same md5-prefix hash family -> fully oracled.
# ---------------------------------------------------------------------------
@register(
    "minhash_shingle_pairs",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                              i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))
             )) AS tok
      FROM t),
    hashed AS (
      SELECT doc_id, i.i, min(substr(md5((i.i // 2) || ':' || tok), 1 + 16 * (i.i % 2), 16)) AS h
      FROM sh CROSS JOIN (SELECT unnest(range(8)) AS i) i
      GROUP BY doc_id, i.i),
    bands AS (
      SELECT doc_id, CAST(i // 2 AS INTEGER) AS band_id,
             md5(string_agg(h, '|' ORDER BY i)) AS band_hash
      FROM hashed GROUP BY doc_id, CAST(i // 2 AS INTEGER)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b FROM pairs
    """,
    tags=("dedup", "minhash", "shingle"),
)
def q_minhash_shingle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = read_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text", n_hashes=8, shingle_w=3)
    return lsh_candidate_pairs(sigs, "doc_id", n_hashes=8, band_size=2)


# ---------------------------------------------------------------------------
# TF-IDF: top-3 most characteristic terms per document
# ---------------------------------------------------------------------------
@register(
    "tfidf_top_terms",
    """
    WITH tf AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    tf_counts AS (
      SELECT doc_id, tok, count(*) AS tf FROM tf GROUP BY doc_id, tok),
    df_counts AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
    total AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT doc_id, tok,
             round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
      FROM tf_counts JOIN df_counts USING (tok) CROSS JOIN total),
    ranked AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                                        ORDER BY tfidf DESC, tok) AS INTEGER) AS rk
      FROM scored)
    SELECT doc_id, tok, tfidf, rk FROM ranked WHERE rk <= 3
    """,
    tags=("text", "tfidf"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfc = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.count()  # scalar driver-side: one tiny count, broadcast as literal
    scored = tf.join(F.broadcast(dfc), "tok").select(
        "doc_id",
        "tok",
        F.round(F.col("tf") * F.log(F.lit(float(n)) / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "tok", "tfidf", "rk")
    )


# ---------------------------------------------------------------------------
# Document length histogram (fixed-width buckets -- corpus shape profile)
# ---------------------------------------------------------------------------
q_doc_length_histogram = register_sql(
    "doc_length_histogram",
    """
    SELECT CAST(floor(n_chars / 50) AS BIGINT) AS bucket,
           CAST(floor(n_chars / 50) * 50 AS BIGINT) AS bucket_lo,
           count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents
    GROUP BY floor(n_chars / 50)
    """,
    tags=("text", "histogram"),
)


# ---------------------------------------------------------------------------
# Exact quantiles (percentile_cont semantics: linear interpolation)
# ---------------------------------------------------------------------------
@register(
    "quantile_stats",
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
           round(min(o_totalprice), 4) AS lo,
           round(max(o_totalprice), 4) AS hi
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("A1", "quantile"),
)
def q_quantile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
        F.round(F.min("o_totalprice"), 4).alias("lo"),
        F.round(F.max("o_totalprice"), 4).alias("hi"),
    )


# ---------------------------------------------------------------------------
# Unigram entropy per document -- the information-density quality signal a
# pretraining filter uses to drop boilerplate/repetitive docs. Shape: two
# high-cardinality groupBys ((doc, tok) counts, then per-doc fold), both
# with map-side partial aggregation; nothing leaves the JVM.
# ---------------------------------------------------------------------------
@register(
    "token_entropy",
    """
    WITH tc AS (
      SELECT doc_id, tok, count(*) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY doc_id, tok),
    tot AS (SELECT doc_id, sum(c) AS n, count(*) AS n_distinct FROM tc GROUP BY doc_id)
    SELECT tc.doc_id,
           CAST(max(n) AS BIGINT) AS n_tokens,
           CAST(max(n_distinct) AS BIGINT) AS n_distinct,
           round(-sum((c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE))), 6)
             AS entropy
    FROM tc JOIN tot ON tc.doc_id = tot.doc_id
    GROUP BY tc.doc_id
    """,
    tags=("text", "quality", "A1"),
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tc = (
        docs.select(F.col("doc_id"), F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    # per-doc totals via a window would re-sort; a second groupBy keyed on
    # doc_id reuses the (doc_id, tok) exchange's doc_id distribution only
    # partially, but both aggs partial-combine map-side.
    p = F.col("c") / F.col("n")
    return (
        tc.withColumn("n", F.sum("c").over(Window.partitionBy("doc_id")))
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_distinct"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
        )
    )


# ---------------------------------------------------------------------------
# Per-label embedding centroids in LONG form (label, pos, centroid_val) --
# the distributed way to aggregate vectors: posexplode to (row per
# dimension) then groupBy (label, pos). No driver collect, no per-row
# Python, and the shuffle carries |labels| x dim rows after map-side
# partial aggregation. (The long form also keeps the oracle compare
# scalar-typed.) Centroids are the building block for IVF cell training,
# label drift monitoring, and class-mean classifiers.
# ---------------------------------------------------------------------------
@register(
    "embedding_centroids",
    """
    SELECT label, i AS pos,
           round(avg(embedding[i]), 6) AS centroid_val,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM embeddings, (SELECT unnest(range(1, 65)) AS i) idx
    GROUP BY label, i
    """,
    tags=("embedding", "A1"),
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "val"),
        )
        .groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(
            F.round(F.avg("val"), 6).alias("centroid_val"),
            F.count("*").cast("bigint").alias("n_vecs"),
        )
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 keyword scoring fused with embedding cosine --
# the standard first-stage + rerank stack of modern search, in one plan.
# ---------------------------------------------------------------------------
_BM25_TERMS = ("fast", "table", "row")


@register(
    "bm25_hybrid_search",
    f"""
    WITH params AS (
      SELECT count(*) AS n_docs,
             sum(len(string_split(text, ' '))) / CAST(count(*) AS DOUBLE) AS avglen
      FROM documents),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok IN {_BM25_TERMS!r}
      GROUP BY doc_id, tok),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    lens AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
    bm25 AS (
      SELECT tf.doc_id,
             sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avglen))) AS kw
      FROM tf JOIN df USING (tok) JOIN lens USING (doc_id) CROSS JOIN params
      GROUP BY tf.doc_id),
    fused AS (
      SELECT b.doc_id, kw,
             list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])))
               AS cos
      FROM bm25 b
      JOIN embeddings e ON e.vec_id = b.doc_id
      CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q)
    SELECT doc_id, round(kw, 6) AS kw_score, round(cos, 6) AS cos_score,
           round(round(kw, 6) * 0.5 + round(cos, 6) * 0.5, 6) AS fused_score,
           CAST(row_number() OVER (
             ORDER BY round(round(kw, 6) * 0.5 + round(cos, 6) * 0.5, 6) DESC,
                      doc_id) AS INTEGER) AS rk
    FROM fused
    QUALIFY rk <= 20
    """,
    tags=("retrieval", "bm25", "hybrid", "similarity"),
)
def q_bm25_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-stage BM25 (k1=1.2, b=0.75) over fixed query terms, fused
    50/50 with embedding cosine against a query vector, top-20. Shapes:
    the tf explode prunes to query terms AT THE SCAN (an inverted index
    replaces it on a real deployment); df and corpus params are
    broadcast scalars; the rerank join touches only BM25 candidates --
    the standard candidate-generation/rerank cost split. Fusion rounds
    each component BEFORE combining so the cross-engine sum is exact."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.similarity import cosine_fold

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    params = docs.agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.size(F.split("text", " "))) / F.count("*").cast("double")).alias("avglen"),
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok").isin(*_BM25_TERMS))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    lens = docs.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    term_score = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avglen"))
    )
    bm25 = (
        tf.join(F.broadcast(df), "tok")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(params))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("kw"))
    )
    qvec = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    fused = (
        bm25.join(emb, bm25.doc_id == emb.vec_id)
        .crossJoin(F.broadcast(qvec))
        .select(
            "doc_id",
            F.round("kw", 6).alias("kw_score"),
            F.round(
                cosine_fold(F.col("embedding").cast("array<double>"), F.col("qv")), 6
            ).alias("cos_score"),
        )
    )
    from pyspark.sql import Window

    score = F.round(F.col("kw_score") * 0.5 + F.col("cos_score") * 0.5, 6)
    # the term-filtered candidate set grows with the corpus: take the
    # global top-20 via TakeOrderedAndProject (per-partition heaps, no
    # single-task window), then rank the 20 survivors
    top = (
        fused.withColumn("fused_score", score)
        .orderBy(F.col("fused_score").desc(), "doc_id")
        .limit(20)
    )
    w = Window.orderBy(F.col("fused_score").desc(), "doc_id")
    return (
        top.withColumn("rk", F.row_number().over(w).cast("int"))
        .select("doc_id", "kw_score", "cos_score", "fused_score", "rk")
    )


# ---------------------------------------------------------------------------
# Unigram-LM cross-entropy scoring: the perplexity-style quality filter
# (CCNet et al. rank docs by LM score; a unigram model is its exact,
# oracle-checkable core -- swap in a KenLM UDF for higher orders).
# ---------------------------------------------------------------------------
@register(
    "lm_quality_score",
    """
    WITH train_tok AS (
      SELECT unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE source <> 'src0'),
    vocab AS (
      SELECT tok, count(*) AS c FROM train_tok GROUP BY tok),
    tot AS (SELECT sum(c) AS n, count(*) AS v FROM vocab),
    eval_tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE source = 'src0'),
    scored AS (
      SELECT doc_id,
             -ln((coalesce(c, 0) + 1.0) / (n + v + 1.0)) AS nll
      FROM eval_tok LEFT JOIN vocab USING (tok) CROSS JOIN tot)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(sum(round(nll, 8)) / count(*), 6) AS cross_entropy
    FROM scored GROUP BY doc_id
    """,
    tags=("quality", "lm", "pipeline"),
)
def q_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-doc unigram cross-entropy under a model fit on the train
    split (add-one smoothing, OOV bucketed into the +1): low score =
    fluent-under-the-corpus, high = junk -- the quality signal LM-based
    filters threshold. Scale: the vocab is a broadcast dim (token
    counts), eval scoring is one map-side join + per-doc combine.
    Per-token NLLs are rounded(8) BEFORE the per-doc sum so the
    cross-engine sum runs over identical addends."""
    docs = read_table(spark, sf_dir, "documents")
    train_tok = docs.filter(F.col("source") != "src0").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = train_tok.groupBy("tok").agg(F.count("*").alias("c"))
    tot = vocab.agg(
        F.sum("c").alias("n"), F.count("*").alias("v")
    )
    eval_tok = docs.filter(F.col("source") == "src0").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    nll = -F.log(
        (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
        / (F.col("n") + F.col("v") + 1.0)
    )
    scored = (
        eval_tok.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", F.round(nll, 8).alias("nll"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.round(F.sum("nll") / F.count("*"), 6).alias("cross_entropy"),
    )
