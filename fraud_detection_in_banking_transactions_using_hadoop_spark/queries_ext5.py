"""Extension batch 5: graph reachability (k-hop BFS frontier), the
skyline/Pareto-frontier operator, and a bigram LM quality score --
three operator families the earlier batches didn't cover.

Scale notes:
- k-hop BFS is the frontier-join template: each hop is one equi-join
  of the (small) frontier against the edge list plus an anti-join to
  drop visited nodes. Fixed k unrolls to k joins -- no driver loop, no
  action per hop; the frontier is the broadcast side while it's small.
- The skyline uses the two-phase formulation: per-price group maxima
  (one combine-enabled aggregate), then a prefix max over the DISTINCT
  price spine -- the only sequential step, sized |distinct prices|,
  NOT |rows|. The DuckDB oracle deliberately uses the independent
  NOT EXISTS formulation, so the algebraic rewrite itself is checked.
- The bigram LM builds the (a,b) count table on the train split and
  scores eval docs through two hash joins; bigram extraction is pure
  map-side (sequence + element_at, no window shuffle). Per-token NLLs
  round(8) before the doc sum (CLAUDE.md float-parity rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.rank import with_global_rank
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table


# ---------------------------------------------------------------------------
# k-hop reachability (BFS frontier) over the co-purchase graph: parts
# that share an order are adjacent; report min-hop distance (<=2) from
# the seed parts. "Related products" two hops out.
# ---------------------------------------------------------------------------
@register(
    "khop_reachability",
    """
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT DISTINCT a.p AS x, b.p AS y
          FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
    seeds AS (SELECT DISTINCT x AS node FROM e WHERE x < 5),
    d1 AS (
      SELECT DISTINCT e.y AS node FROM e JOIN seeds s ON e.x = s.node
      WHERE e.y NOT IN (SELECT node FROM seeds)),
    d2 AS (
      SELECT DISTINCT e.y AS node FROM e JOIN d1 ON e.x = d1.node
      WHERE e.y NOT IN (SELECT node FROM seeds)
        AND e.y NOT IN (SELECT node FROM d1))
    SELECT CAST(node AS BIGINT) AS node, 0 AS dist FROM seeds
    UNION ALL SELECT CAST(node AS BIGINT), 1 FROM d1
    UNION ALL SELECT CAST(node AS BIGINT), 2 FROM d2
    """,
    tags=("graph", "bfs"),
)
def q_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS to depth 2 from seed parts over same-order co-purchase
    edges. Each hop = frontier equi-join on the edge source + anti-join
    against the visited set; the k=2 unroll keeps the whole thing one
    lazy plan (k joins), the honest batch form of Pregel iterate. The
    edge build self-joins lineitem on l_orderkey -- shuffle on order
    key, bounded by sum(items-per-order^2)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a = li.alias("a")
    b = li.alias("b")
    e = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") != F.col("b.p")))
        .select(F.col("a.p").alias("x"), F.col("b.p").alias("y"))
        .distinct()
    )
    seeds = e.filter(F.col("x") < 5).select(F.col("x").alias("node")).distinct()
    d1 = (
        e.join(F.broadcast(seeds), e.x == seeds.node)
        .select(F.col("y").alias("node"))
        .distinct()
        .join(seeds, "node", "left_anti")
    )
    d2 = (
        e.join(F.broadcast(d1), e.x == d1.node)
        .select(F.col("y").alias("node"))
        .distinct()
        .join(seeds, "node", "left_anti")
        .join(d1, "node", "left_anti")
    )
    return (
        seeds.select(F.col("node").cast("bigint"), F.lit(0).alias("dist"))
        .unionAll(d1.select(F.col("node").cast("bigint"), F.lit(1).alias("dist")))
        .unionAll(d2.select(F.col("node").cast("bigint"), F.lit(2).alias("dist")))
    )


# ---------------------------------------------------------------------------
# Skyline / Pareto frontier: parts not dominated on (price min, size
# max). Spark side = algebraic two-phase rewrite; oracle = literal
# NOT EXISTS dominance definition.
# ---------------------------------------------------------------------------
@register(
    "pareto_frontier",
    """
    SELECT CAST(p.p_partkey AS BIGINT) AS p_partkey,
           p.p_retailprice,
           CAST(p.p_size AS BIGINT) AS p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
    """,
    tags=("operator", "skyline"),
)
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline without the O(n^2) dominance self-join: a part
    survives iff it has the max size AT its price AND every strictly
    cheaper price's max size is smaller. Phase 1 (per-price max) is a
    map-side-combinable aggregate; phase 2 is the EXCLUSIVE prefix max
    over the distinct-price spine -- the spine is O(distinct prices),
    which grows with the part count, so it runs on
    operators/rank.with_global_rank's two-level plan (per-bucket maxima
    + B-row offset window) rather than a single-task global window. The
    oracle's NOT EXISTS form independently checks the rewrite."""
    part = read_table(spark, sf_dir, "part")
    spine = part.groupBy("p_retailprice").agg(F.max("p_size").alias("mps"))
    spine = with_global_rank(
        spine,
        "p_retailprice",
        [F.col("p_retailprice")],
        prefix_max_excl={"prev_max": "mps"},
    ).drop("global_rank")
    joined = part.join(F.broadcast(spine), "p_retailprice")
    survive = (F.col("p_size") == F.col("mps")) & (
        F.col("prev_max").isNull() | (F.col("prev_max") < F.col("p_size"))
    )
    return joined.filter(survive).select(
        F.col("p_partkey").cast("bigint").alias("p_partkey"),
        "p_retailprice",
        F.col("p_size").cast("bigint").alias("p_size"),
    )


# ---------------------------------------------------------------------------
# Bigram-LM cross-entropy: the order-2 upgrade of lm_quality_score.
# P(b|a) = (c(a,b)+1) / (c(a)+V), c(a) = sum_b c(a,b), trained on the
# non-src0 split, scored on src0.
# ---------------------------------------------------------------------------
_BIGRAM_SQL = """
    WITH tr AS (
      SELECT string_split(text, ' ') AS toks FROM documents
      WHERE source <> 'src0' AND len(string_split(text, ' ')) >= 2),
    trbg AS (
      SELECT toks[i] AS a, toks[i + 1] AS b
      FROM tr, (SELECT unnest(range(1, 400)) AS i) idx
      WHERE i <= len(toks) - 1),
    cab AS (SELECT a, b, count(*) AS cab FROM trbg GROUP BY a, b),
    ca AS (SELECT a, sum(cab) AS ca FROM cab GROUP BY a),
    vocab AS (
      SELECT count(DISTINCT tok) AS v FROM (
        SELECT unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE source <> 'src0')),
    ev AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE source = 'src0' AND len(string_split(text, ' ')) >= 2),
    evbg AS (
      SELECT doc_id, toks[i] AS a, toks[i + 1] AS b
      FROM ev, (SELECT unnest(range(1, 400)) AS i) idx
      WHERE i <= len(toks) - 1),
    scored AS (
      SELECT doc_id,
             -ln((coalesce(cab.cab, 0) + 1.0) / (coalesce(ca.ca, 0) + v)) AS nll
      FROM evbg
      LEFT JOIN cab ON cab.a = evbg.a AND cab.b = evbg.b
      LEFT JOIN ca ON ca.a = evbg.a
      CROSS JOIN vocab)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(round(nll, 8)) / count(*), 6) AS cross_entropy
    FROM scored GROUP BY doc_id
"""


@register("bigram_lm_score", _BIGRAM_SQL, tags=("quality", "lm", "pipeline"))
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-doc bigram cross-entropy with add-one smoothing.
    Bigram extraction is map-side (explode positions + element_at --
    no per-doc window shuffle); the model tables are two grouped counts
    with map-side combine, joined back broadcast here (at web scale the
    (a,b) join becomes a shuffle hash join on the pair key). NLLs are
    rounded(8) before the doc sum so both engines sum identical
    addends."""
    docs = read_table(spark, sf_dir, "documents")

    def bigrams(df: DataFrame, with_doc: bool) -> DataFrame:
        toks = F.split("text", " ")
        base = df.select(
            *(["doc_id"] if with_doc else []), toks.alias("toks")
        ).filter(F.size("toks") >= 2)
        exploded = base.select(
            *(["doc_id"] if with_doc else []),
            "toks",
            F.explode(F.sequence(F.lit(1), F.size("toks") - 1)).alias("i"),
        )
        return exploded.select(
            *(["doc_id"] if with_doc else []),
            F.try_element_at("toks", F.col("i")).alias("a"),
            F.try_element_at("toks", F.col("i") + 1).alias("b"),
        )

    train = docs.filter(F.col("source") != "src0")
    cab = bigrams(train, False).groupBy("a", "b").agg(F.count("*").alias("cab"))
    ca = cab.groupBy("a").agg(F.sum("cab").alias("ca"))
    vocab = (
        train.select(F.explode(F.split("text", " ")).alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    ev = bigrams(docs.filter(F.col("source") == "src0"), True)
    nll = -F.log(
        (F.coalesce(F.col("cab"), F.lit(0)) + 1.0)
        / (F.coalesce(F.col("ca"), F.lit(0)) + F.col("v"))
    )
    scored = (
        ev.join(F.broadcast(cab), ["a", "b"], "left")
        .join(F.broadcast(ca), "a", "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", F.round(nll, 8).alias("nll"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(F.sum("nll") / F.count("*"), 6).alias("cross_entropy"),
    )


# ---------------------------------------------------------------------------
# Z-order locality: Morton-interleave two independent dimensions and
# show that coarse z-cells cover compact (x, y) rectangles -- the
# data-skipping layout operator (operators/layout.py), checked as exact
# bit arithmetic in both engines.
# ---------------------------------------------------------------------------
def _zorder_locality_sql() -> str:
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.layout import zorder_sql

    z = zorder_sql("user_id % 256", "CAST(floor(value) AS BIGINT) % 256", bits=8)
    return f"""
    WITH g AS (
      SELECT user_id % 256 AS x,
             CAST(floor(value) AS BIGINT) % 256 AS y,
             {z} AS z
      FROM events)
    SELECT CAST(z >> 8 AS BIGINT) AS z_cell,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
           CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max
    FROM g GROUP BY 1
    """


q_zorder_locality = register_sql("zorder_locality", _zorder_locality_sql(), tags=("layout", "zorder"))


# ---------------------------------------------------------------------------
# CDC snapshot diff: reconcile two table versions with ONE full-outer
# join on the key -- the added/removed/changed/unchanged classification
# an incremental training-data refresh runs before shipping a delta.
# The "new" snapshot is derived in-query (window shift + deterministic
# price revision on orderkey % 7) -- fixture generation, same as
# pii_redaction.
# ---------------------------------------------------------------------------
q_snapshot_diff = register_sql(
    "snapshot_diff",
    """
    WITH old AS (
      SELECT o_orderkey AS k, o_totalprice AS v FROM orders
      WHERE o_orderdate < TIMESTAMP '1999-01-01'),
    new AS (
      SELECT o_orderkey AS k,
             o_totalprice * (CASE WHEN o_orderkey % 7 = 0 THEN 1.1 ELSE 1.0 END) AS v
      FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'),
    d AS (
      SELECT CASE WHEN old.k IS NULL THEN 'added'
                  WHEN new.k IS NULL THEN 'removed'
                  WHEN old.v <> new.v THEN 'changed'
                  ELSE 'unchanged' END AS change_type,
             CAST(floor(abs(coalesce(new.v, 0) - coalesce(old.v, 0))
                        * 10000 + 0.5) AS BIGINT) AS delta_e4
      FROM old FULL OUTER JOIN new ON old.k = new.k)
    SELECT change_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(delta_e4) AS DOUBLE) / 1e4 AS total_delta
    FROM d GROUP BY change_type
    """,
    tags=("cdc", "join"),
)


# ---------------------------------------------------------------------------
# Time-series gap fill + linear interpolation: densify each user's
# daily purchase series over the observed span and linearly interpolate
# the missing days -- the feature-store prep for regular-cadence models.
# ---------------------------------------------------------------------------
@register(
    "gap_fill_interpolate",
    """
    WITH daily AS (
      SELECT user_id,
             datediff('day', TIMESTAMP '2024-01-01', ts) AS day,
             round(sum(value), 6) AS v
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, datediff('day', TIMESTAMP '2024-01-01', ts)),
    span AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id),
    spine AS (
      SELECT user_id, d0 + i AS day
      FROM span, (SELECT unnest(range(0, 40)) AS i) idx
      WHERE d0 + i <= d1),
    g AS (
      SELECT s.user_id, s.day, daily.v,
             last_value(CASE WHEN daily.v IS NOT NULL THEN s.day END IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             last_value(CASE WHEN daily.v IS NOT NULL THEN daily.v END IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             first_value(CASE WHEN daily.v IS NOT NULL THEN s.day END IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
             first_value(CASE WHEN daily.v IS NOT NULL THEN daily.v END IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
      FROM spine s LEFT JOIN daily ON daily.user_id = s.user_id AND daily.day = s.day)
    SELECT user_id, CAST(day AS BIGINT) AS day,
           CASE WHEN v IS NOT NULL THEN 0 ELSE 1 END AS filled,
           round(CASE WHEN v IS NOT NULL THEN v
                      ELSE pv + (nv - pv) * (day - pd) / (nd - pd) END, 6) AS value
    FROM g
    """,
    tags=("timeseries", "interpolation"),
)
def q_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify + interpolate: per-user day spine (map-side sequence
    explode off the per-user min/max), left join the actuals on
    (user, day) -- broadcast here, shuffle-on-user at scale -- then two
    IGNORE NULLS window passes (previous and next known point) feeding
    the linear blend; the two windows share one user_id exchange.
    Interior gaps always have both endpoints (spine spans observed
    min..max), so the blend never divides by null. Daily sums are
    round(6)ed before interpolating so both engines blend identical
    endpoints."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias("day"),
            "value",
        )
        .groupBy("user_id", "day")
        .agg(F.round(F.sum("value"), 6).alias("v"))
    )
    span = daily.groupBy("user_id").agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = span.select(
        "user_id", F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    g = spine.join(daily, ["user_id", "day"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_day = F.when(F.col("v").isNotNull(), F.col("day"))
    known_val = F.when(F.col("v").isNotNull(), F.col("v"))
    g = g.select(
        "user_id",
        "day",
        "v",
        F.last(known_day, ignorenulls=True).over(wb).alias("pd"),
        F.last(known_val, ignorenulls=True).over(wb).alias("pv"),
        F.first(known_day, ignorenulls=True).over(wf).alias("nd"),
        F.first(known_val, ignorenulls=True).over(wf).alias("nv"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("day") - F.col("pd")) / (F.col("nd") - F.col("pd"))
    )
    return g.select(
        "user_id",
        F.col("day").cast("bigint").alias("day"),
        F.when(F.col("v").isNotNull(), 0).otherwise(1).alias("filled"),
        F.round(F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp), 6).alias("value"),
    )
