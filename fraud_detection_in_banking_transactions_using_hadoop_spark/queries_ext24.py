"""Extension batch 24: substring-level dedup, containment scoring, a
hashed-n-gram quality classifier, link prediction, HITS, and a
round-amount fraud screen.

Scale notes (the 100 TB story per query):
- substring_dup_spans is the doc-level form of exact substring dedup
  (the k-gram approach of Lee et al., "Deduplicating Training Data
  Makes Language Models Better"): every w=5 word shingle is hashed and
  joined against the corpus-wide shingle frequency table, so the only
  shuffle is on the shingle key -- never all-pairs. The per-doc
  duplicated-shingle fraction is the standard pre-training "how much of
  this doc exists elsewhere" signal.
- containment_dup_pairs detects SUB-document duplication that Jaccard
  misses (a doc fully embedded in a 10x larger doc has low Jaccard but
  containment 1.0). Stop-shingles (appearing in >50 docs) are dropped
  before the pair join -- the same hub-removal trick that keeps the
  shingle join's per-key fan-out bounded at corpus scale. The pair
  input is persisted once (LSH-self-join contract from CLAUDE.md).
- quality_classifier_score is a fastText-shaped linear model over
  hashed token buckets: token -> md5-prefix bucket -> deterministic
  integer weight. Pure map-side expressions + one doc_id shuffle; the
  score stays in exact integer space so both engines agree bit-for-bit
  (no sigmoid -- the keep decision thresholds the mean weight).
- adamic_adar_linkpred is the classic common-neighbor link predictor
  over the customer->part bipartite graph. Customers with degree
  outside [2, 40] are dropped BEFORE the self-join (hub removal bounds
  the per-key pair fan-out to C(40,2)); each neighbor contributes
  round(1e8/ln(deg)) as an exact BIGINT term (the e8-int log-term
  pattern proven by kaplan_meier_survival), so the pair scores sum
  exactly in both engines.
- hits_scores unrolls two HITS iterations (hub/authority mutual
  reinforcement) over distinct customer->supplier edges in exact
  integer arithmetic -- each iteration is one equi-join + one groupBy
  on a graph key, the same bounded iterative-join template as
  pagerank_sim_graph, and integer scores avoid normalization floats.
- round_amount_bias is the auditor's round-number screen: per
  customer, a pooled two-proportion z-test of whole-dollar order share
  against the global rate (structuring/collusion signal). Exact cent
  arithmetic feeds integers into one double expression, the
  ab_test_proportions parity pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

# Shared DuckDB CTE: distinct word w-shingles per doc (w parameterized
# by the number of toks[i+j] terms; list index past the end is NULL and
# concat_ws skips it, matching shingle_rows' try_element_at).
_SH5_CTE = """
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(range(1, greatest(len(toks) - 4, 1) + 1),
                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                                toks[i+3], toks[i+4]))
             )) AS tok
      FROM t)
"""

_SH3_CTE = """
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
             )) AS tok
      FROM t)
"""


# ---------------------------------------------------------------------------
# Substring-level duplication: fraction of each doc's 5-gram shingles
# that occur in at least one OTHER document.
# ---------------------------------------------------------------------------
@register(
    "substring_dup_spans",
    f"""
    WITH {_SH5_CTE},
    td AS (SELECT tok, count(DISTINCT doc_id) AS nd FROM sh GROUP BY tok)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN td.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_shingles,
           CAST((1000000 * sum(CASE WHEN td.nd >= 2 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS dup_ppm
    FROM sh s JOIN td ON s.tok = td.tok
    GROUP BY s.doc_id
    """,
    tags=("llm", "dedup", "substring"),
)
def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-5-gram fraction: shingle -> corpus frequency
    -> join back -> per-doc counts. dup_ppm is integer parts-per-million
    ((1e6 * dups) div shingles), exact in both engines. Two shuffles
    total (shingle key, then doc_id), no pair join at all -- this is the
    cheap corpus-wide substring-duplication profile."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.dedup import shingle_rows

    docs = read_table(spark, sf_dir, "documents")
    sh = shingle_rows(docs, "doc_id", "text", w=5).select("doc_id", "tok").distinct()
    td = sh.groupBy("tok").agg(F.countDistinct("doc_id").alias("nd"))
    return (
        sh.join(td, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_shingles"),
        )
        .withColumn(
            "dup_ppm",
            F.expr("CAST((1000000 * n_dup_shingles) DIV n_shingles AS BIGINT)"),
        )
    )


# ---------------------------------------------------------------------------
# Containment-scored near-dup pairs: C(A,B) = |A∩B| / min(|A|,|B|)
# over 3-gram shingle sets, stop-shingles removed before the pair join.
# ---------------------------------------------------------------------------
_STOP_CAP = 50
_CONTAIN_PPM = 600000


@register(
    "containment_dup_pairs",
    f"""
    WITH {_SH3_CTE},
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh
              GROUP BY doc_id),
    freq AS (SELECT tok, count(DISTINCT doc_id) AS nd FROM sh GROUP BY tok),
    rare AS (SELECT s.doc_id, s.tok FROM sh s JOIN freq f ON s.tok = f.tok
             WHERE f.nd <= {_STOP_CAP}),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM rare a JOIN rare b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT c.doc_a, c.doc_b, c.n_common,
           CAST((1000000 * c.n_common) // least(sa.n, sb.n) AS BIGINT)
             AS containment_ppm
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE (1000000 * c.n_common) // least(sa.n, sb.n) >= {_CONTAIN_PPM}
    """,
    tags=("llm", "dedup", "containment"),
)
def q_containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-duplication pairs: shingle equi-join on non-stop
    shingles (nd <= 50 bounds per-key fan-out), exact intersection
    counts, containment = |A∩B|/min(|A|,|B|) in integer ppm. `rare`
    feeds both sides of the self-join, so it is persisted and the
    (small) pair result localCheckpoint'ed -- the CLAUDE.md LSH
    self-join contract; the query is EAGER in the plan gate."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.dedup import shingle_rows

    docs = read_table(spark, sf_dir, "documents")
    sh = shingle_rows(docs, "doc_id", "text", w=3).select("doc_id", "tok").distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    freq = sh.groupBy("tok").agg(F.countDistinct("doc_id").alias("nd"))
    rare = (
        sh.join(freq.where(F.col("nd") <= _STOP_CAP), "tok")
        .select("doc_id", "tok")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a, b = rare.alias("a"), rare.alias("b")
    common = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "containment_ppm",
            F.expr("CAST((1000000 * n_common) DIV least(na, nb) AS BIGINT)"),
        )
        .where(F.col("containment_ppm") >= _CONTAIN_PPM)
        .select("doc_a", "doc_b", "n_common", "containment_ppm")
    ).localCheckpoint(eager=True)
    rare.unpersist()
    return out


# ---------------------------------------------------------------------------
# Hashed-n-gram linear quality classifier (fastText-shaped, exact
# integer score space).
# ---------------------------------------------------------------------------
@register(
    "quality_classifier_score",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    w AS (
      SELECT doc_id,
             ((('0x' || substr(md5(tok), 1, 8))::BIGINT % 64)
              * 2654435761) % 1001 AS wt
      FROM toks
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_toks,
           CAST(sum(wt) AS BIGINT) AS score_sum,
           CAST(CASE WHEN 2 * sum(wt) >= 1000 * count(*) THEN 1 ELSE 0 END
                AS INTEGER) AS keep_flag
    FROM w GROUP BY doc_id
    """,
    tags=("llm", "quality", "classifier"),
)
def q_quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality model over hashed token buckets: token ->
    md5-prefix bucket (64 bins) -> deterministic weight in [0, 1000]
    via a multiplicative integer hash of the bucket id. A real
    classifier would load trained weights keyed by the same buckets;
    the plumbing (hash featurization, map-side weight lookup, one
    doc_id shuffle, mean-weight threshold) is identical. Integer score
    space means bit-exact cross-engine parity with no sigmoid/exp."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    bucket = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint") % 64
    wt = (bucket * F.lit(2654435761).cast("bigint")) % 1001
    return (
        toks.select("doc_id", wt.alias("wt"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
            F.sum("wt").cast("bigint").alias("score_sum"),
        )
        .withColumn(
            "keep_flag",
            F.when(2 * F.col("score_sum") >= 1000 * F.col("n_toks"), 1)
            .otherwise(0)
            .cast("integer"),
        )
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction over the customer->part bipartite graph.
# ---------------------------------------------------------------------------
_AA_MIN_DEG = 2
_AA_MAX_DEG = 40


q_adamic_adar_linkpred = register_sql(
    "adamic_adar_linkpred",
    f"""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    deg AS (SELECT c, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY c),
    ec AS (
      SELECT e.c, e.p, CAST(round(100000000.0 / ln(deg.d), 0) AS BIGINT) AS aa
      FROM e JOIN deg ON e.c = deg.c
      WHERE deg.d BETWEEN {_AA_MIN_DEG} AND {_AA_MAX_DEG}
    )
    SELECT a.p AS part_a, b.p AS part_b,
           CAST(count(*) AS BIGINT) AS n_common,
           CAST(sum(a.aa) AS BIGINT) AS aa_e8
    FROM ec a JOIN ec b ON a.c = b.c AND a.p < b.p
    GROUP BY a.p, b.p
    HAVING count(*) >= 2
    ORDER BY aa_e8 DESC, part_a, part_b
    LIMIT 100
    """,
    tags=("graph", "link-prediction"),
)


# ---------------------------------------------------------------------------
# HITS hubs/authorities, two unrolled iterations in exact integers.
# ---------------------------------------------------------------------------
@register(
    "hits_scores",
    """
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    a1 AS (SELECT s, CAST(count(*) AS BIGINT) AS auth FROM e GROUP BY s),
    h1 AS (SELECT e.c, CAST(sum(a1.auth) AS BIGINT) AS hub
           FROM e JOIN a1 ON e.s = a1.s GROUP BY e.c),
    a2 AS (SELECT e.s, CAST(sum(h1.hub) AS BIGINT) AS auth2
           FROM e JOIN h1 ON e.c = h1.c GROUP BY e.s)
    SELECT a2.s AS suppkey, a1.auth AS in_deg, a2.auth2 AS auth_score
    FROM a2 JOIN a1 ON a2.s = a1.s
    ORDER BY auth_score DESC, suppkey
    LIMIT 20
    """,
    tags=("graph", "hits", "iterative"),
)
def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two HITS iterations unrolled over distinct customer->supplier
    edges: auth1 = in-degree, hub1(c) = sum of auth1 over c's
    suppliers, auth2(s) = sum of hub1 over s's customers. Integer
    scores (h0 = 1) dodge the usual L2 normalization floats entirely;
    each iteration is one equi-join + one groupBy on a graph key --
    the bounded iterative-join template. The edge table feeds three
    plan legs, so it is persisted (EAGER contract)."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a1 = e.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("auth"))
    h1 = e.join(a1, "s").groupBy("c").agg(F.sum("auth").cast("bigint").alias("hub"))
    a2 = e.join(h1, "c").groupBy("s").agg(F.sum("hub").cast("bigint").alias("auth2"))
    out = (
        a2.join(a1, "s")
        .select(F.col("s").alias("suppkey"), F.col("auth").alias("in_deg"), F.col("auth2").alias("auth_score"))
        .orderBy(F.col("auth_score").desc(), "suppkey")
        .limit(20)
    ).localCheckpoint(eager=True)
    e.unpersist()
    return out


# ---------------------------------------------------------------------------
# Round-amount bias screen: per-customer whole-dollar share vs the
# global rate, pooled two-proportion z.
# ---------------------------------------------------------------------------
@register(
    "round_amount_bias",
    """
    WITH o AS (
      SELECT o_custkey,
             CASE WHEN CAST(round(o_totalprice * 100, 0) AS BIGINT) % 100 = 0
                  THEN 1 ELSE 0 END AS is_round
      FROM orders
    ),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
                 CAST(sum(is_round) AS BIGINT) AS k_all FROM o),
    c AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(is_round) AS BIGINT) AS n_round
      FROM o GROUP BY o_custkey HAVING count(*) >= 10
    )
    SELECT c.o_custkey, c.n_orders, c.n_round,
           CASE WHEN g.k_all = 0 OR g.k_all = g.n_all THEN NULL
                ELSE round(
                  (CAST(c.n_round AS DOUBLE) / c.n_orders
                   - CAST(g.k_all AS DOUBLE) / g.n_all)
                  / sqrt((CAST(g.k_all AS DOUBLE) / g.n_all)
                         * (1 - CAST(g.k_all AS DOUBLE) / g.n_all)
                         / c.n_orders), 6)
           END AS z_score
    FROM c CROSS JOIN g
    """,
    tags=("fraud", "stats", "A1"),
)
def q_round_amount_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-dollar share per customer vs the global share, one-sample
    z-test against the pooled proportion. o_totalprice is DOUBLE in
    this testdata, so cents are round(price*100, 0) BEFORE the BIGINT
    cast (DuckDB rounds double->BIGINT, Spark truncates -- the
    CLAUDE.md cast gotcha; rounding first makes both exact). The z
    statistic is a single double expression over exact integers,
    written in the same operation order in both engines
    (ab_test_proportions parity pattern). The global (n, k) row
    broadcasts (whitelisted 1-row crossJoin)."""
    orders = read_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        F.when(F.round(F.col("o_totalprice") * 100, 0).cast("bigint") % 100 == 0, 1)
        .otherwise(0)
        .alias("is_round"),
    )
    g = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum("is_round").cast("bigint").alias("k_all"),
    )
    c = (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("is_round").cast("bigint").alias("n_round"),
        )
        .where(F.col("n_orders") >= 10)
    )
    p = F.col("k_all").cast("double") / F.col("n_all")
    z = (F.col("n_round").cast("double") / F.col("n_orders") - p) / F.sqrt(
        p * (1 - p) / F.col("n_orders")
    )
    return c.crossJoin(F.broadcast(g)).select(
        "o_custkey",
        "n_orders",
        "n_round",
        F.when((F.col("k_all") == 0) | (F.col("k_all") == F.col("n_all")), F.lit(None).cast("double"))
        .otherwise(F.round(z, 6))
        .alias("z_score"),
    )
