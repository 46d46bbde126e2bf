"""Extension batch 21: density clustering, entity resolution, MERGE
semantics, mergeable-sketch distinct counts, and k-core decomposition.

Scale notes (the 100 TB story per query):
- dbscan_grid_clusters reduces points to CELL counts first (one
  map-side-combinable shuffle), then runs adjacency + connected
  components on the DENSE CELLS only -- the graph the CC sees is the
  density summary, orders of magnitude smaller than the point set.
- entity_resolution_golden blocks on the normalized name (equi-join,
  never all-pairs), clusters with the adaptive CC operator, and picks
  golden records with one groupBy over the cluster id.
- merge_upsert_apply is the batch MERGE INTO: latest-change extraction
  (partitioned window) + one full-outer equi-join on the key ->
  INSERT/UPDATE/DELETE decisions, all row-local after the join.
- approx_distinct_union builds per-status HLL sketches and merges them
  (hll_union_agg) -- the mergeable-partials contract that lets 1000
  executors sketch independently; gate = exact count + bounded-error
  booleans (approx_aggs PARTIAL pattern).
- kcore_membership peels min-degree nodes in BOUNDED synchronous
  rounds (degree agg + semi-join per round), the Pregel superstep as
  batch algebra; the oracle unrolls the identical rounds so both
  engines compute the same bounded-round semantics exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register, register_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_MIN_PTS = 6  # grid-DBSCAN density threshold per cell
_KCORE_K = 8
_KCORE_ROUNDS = 8  # fixpoint is 6 peels at both oracle scales (margin 2)


# ---------------------------------------------------------------------------
# Grid-density clustering (DBSCAN on cells): dense 0.03-cells of the
# 2-D embedding projection, clustered by 8-adjacency connected
# components. The density summary IS the graph -- points never pair.
# ---------------------------------------------------------------------------
@register(
    "dbscan_grid_clusters",
    f"""
    WITH RECURSIVE pts AS (
      SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) / 0.03) AS BIGINT) AS cx,
             CAST(floor(CAST(embedding[2] AS DOUBLE) / 0.03) AS BIGINT) AS cy
      FROM embeddings
    ),
    cells AS (
      SELECT cx, cy, (cx + 1000) * 100000 + (cy + 1000) AS ck,
             CAST(count(*) AS BIGINT) AS n
      FROM pts GROUP BY cx, cy HAVING count(*) >= {_MIN_PTS}
    ),
    edges AS (
      SELECT a.ck AS x, b.ck AS y FROM cells a JOIN cells b
      ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1 AND a.ck <> b.ck
    ),
    reach(node, r) AS (
      SELECT ck, ck FROM cells
      UNION
      SELECT e.x, reach.r FROM edges e JOIN reach ON e.y = reach.node
    ),
    comp AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node)
    SELECT CAST(comp.cluster AS BIGINT) AS cluster,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(cells.n) AS BIGINT) AS n_points,
           CAST(min(cells.cx) AS BIGINT) AS min_cx,
           CAST(min(cells.cy) AS BIGINT) AS min_cy
    FROM cells JOIN comp ON cells.ck = comp.node
    GROUP BY comp.cluster
    """,
    tags=("spatial", "clustering", "dbscan", "graph"),
)
def q_dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cells with >= MIN_PTS points are core; touching core cells (the
    3x3 probe-explode equi-join, never a cross product) merge into one
    cluster via the adaptive CC operator. Reported per cluster: cell
    count, point count, min cell coords; cluster id = min cell key."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.graph import connected_components

    emb = read_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.floor(F.element_at("embedding", 1).cast("double") / 0.03)
        .cast("bigint")
        .alias("cx"),
        F.floor(F.element_at("embedding", 2).cast("double") / 0.03)
        .cast("bigint")
        .alias("cy"),
    )
    cells = (
        pts.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .where(F.col("n") >= _MIN_PTS)
        .withColumn("ck", (F.col("cx") + 1000) * 100000 + (F.col("cy") + 1000))
    )
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    probes = cells.select(
        "ck",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + dx).alias("px"), (F.col("cy") + dy).alias("py")
                    )
                    for dx, dy in offsets
                ]
            )
        ).alias("o"),
    ).select("ck", F.col("o.px").alias("cx"), F.col("o.py").alias("cy"))
    edges = (
        probes.alias("a")
        .join(cells.alias("b"), ["cx", "cy"])
        .where(F.col("a.ck") != F.col("b.ck"))
        .select(F.col("a.ck").alias("doc_a"), F.col("b.ck").alias("doc_b"))
    )
    comp = connected_components(edges)
    return (
        cells.join(comp, cells.ck == comp.node, "left")
        .select(
            F.coalesce("cluster", "ck").alias("cluster"), "n", "cx", "cy"
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("n").cast("bigint").alias("n_points"),
            F.min("cx").cast("bigint").alias("min_cx"),
            F.min("cy").cast("bigint").alias("min_cy"),
        )
    )


# ---------------------------------------------------------------------------
# Entity resolution with golden-record survivorship over an in-query
# dirty corpus (pii_redaction fixture convention): each customer gains
# an UPPERCASED twin and a whitespace-padded twin under synthetic keys;
# normalize -> block -> match -> cluster -> survive.
# ---------------------------------------------------------------------------
@register(
    "entity_resolution_golden",
    """
    WITH RECURSIVE recs AS (
      SELECT c_custkey AS rid, c_name AS name, c_acctbal AS bal FROM customer
      UNION ALL
      SELECT c_custkey + 10000000, upper(c_name), c_acctbal FROM customer
      UNION ALL
      SELECT c_custkey + 20000000, c_name || '  ', c_acctbal FROM customer
    ),
    norm AS (SELECT rid, name, bal, lower(trim(name)) AS blk FROM recs),
    pairs AS (
      SELECT a.rid AS x, b.rid AS y FROM norm a JOIN norm b
      ON a.blk = b.blk AND a.rid <> b.rid
    ),
    reach(node, r) AS (
      SELECT rid, rid FROM norm
      UNION
      SELECT p.x, reach.r FROM pairs p JOIN reach ON p.y = reach.node
    ),
    comp AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
    joined AS (
      SELECT comp.cluster, n.rid, n.name, n.bal
      FROM norm n JOIN comp ON n.rid = comp.node
    )
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(count(*) AS BIGINT) AS n_records,
           min(CASE WHEN rid = cluster THEN name END) AS golden_name,
           round(min(CASE WHEN rid = cluster THEN bal END), 2) AS golden_bal
    FROM joined GROUP BY cluster
    """,
    tags=("er", "dedup", "graph", "golden-record"),
)
def q_entity_resolution_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking key = lower(trim(name)) -- matching is an equi-join on
    the block, so candidate generation shuffles on the key instead of
    comparing all pairs. Components come from the adaptive CC
    operator; the golden record is the min-rid row of each cluster
    (survivorship by source priority: originals carry the smallest
    keys by construction)."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.graph import connected_components

    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rid"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
    )
    recs = (
        cust.unionAll(
            cust.select(
                (F.col("rid") + 10000000).alias("rid"),
                F.upper("name").alias("name"),
                "bal",
            )
        )
        .unionAll(
            cust.select(
                (F.col("rid") + 20000000).alias("rid"),
                F.concat(F.col("name"), F.lit("  ")).alias("name"),
                "bal",
            )
        )
    )
    norm = recs.withColumn("blk", F.lower(F.trim(F.col("name"))))
    a, b = norm.alias("a"), norm.alias("b")
    pairs = a.join(b, "blk").where(F.col("a.rid") != F.col("b.rid")).select(
        F.col("a.rid").alias("doc_a"), F.col("b.rid").alias("doc_b")
    )
    comp = connected_components(pairs)
    joined = norm.join(comp, norm.rid == comp.node).select(
        "cluster", "rid", "name", "bal"
    )
    return joined.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_records"),
        F.min(F.when(F.col("rid") == F.col("cluster"), F.col("name"))).alias(
            "golden_name"
        ),
        F.round(
            F.min(F.when(F.col("rid") == F.col("cluster"), F.col("bal"))), 2
        ).alias("golden_bal"),
    ).select(
        F.col("cluster").cast("bigint").alias("cluster"),
        "n_records",
        "golden_name",
        "golden_bal",
    )


# ---------------------------------------------------------------------------
# Batch MERGE INTO: apply the latest purchase value per user onto the
# even-keyed customer snapshot -- UPDATE on match, DELETE on matched
# low values, INSERT on no match. The full upsert decision table.
# ---------------------------------------------------------------------------
@register(
    "merge_upsert_apply",
    """
    WITH src AS (
      SELECT user_id AS k, round(value, 2) AS val
      FROM (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase')
      WHERE rn = 1
    ),
    dim AS (
      SELECT c_custkey AS k, round(c_acctbal, 2) AS old_bal
      FROM customer WHERE c_custkey % 2 = 0
    )
    SELECT CAST(coalesce(s.k, d.k) AS BIGINT) AS k,
           CASE WHEN d.k IS NULL THEN 'INSERT'
                WHEN s.val < 50 THEN 'DELETE'
                ELSE 'UPDATE' END AS action,
           d.old_bal,
           CASE WHEN d.k IS NULL THEN s.val
                WHEN s.val < 50 THEN NULL
                ELSE s.val END AS new_bal
    FROM src s JOIN dim d ON s.k = d.k
    UNION ALL
    SELECT CAST(s.k AS BIGINT), 'INSERT', NULL, s.val
    FROM src s WHERE NOT EXISTS (SELECT 1 FROM dim d WHERE d.k = s.k)
    """,
    tags=("merge", "cdc", "upsert"),
)
def q_merge_upsert_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest change per key (partitioned window, event_id tiebreak)
    LEFT-joined onto the target: the three MERGE actions are one CASE
    over the join result. Mirrors operators/merge.py's upsert path as
    a pure query so the decision table itself is oracle-checked."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts").desc(), F.col("event_id").desc()
    )
    src = (
        ev.where(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("user_id").alias("k"), F.round("value", 2).alias("val"))
    )
    dim = (
        read_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 2 == 0)
        .select(F.col("c_custkey").alias("dk"), F.round("c_acctbal", 2).alias("old_bal"))
    )
    joined = src.join(dim, src.k == dim.dk, "left")
    return joined.select(
        F.col("k").cast("bigint").alias("k"),
        F.when(F.col("dk").isNull(), F.lit("INSERT"))
        .when(F.col("val") < 50, F.lit("DELETE"))
        .otherwise(F.lit("UPDATE"))
        .alias("action"),
        "old_bal",
        F.when(F.col("dk").isNull(), F.col("val"))
        .when(F.col("val") < 50, F.lit(None).cast("double"))
        .otherwise(F.col("val"))
        .alias("new_bal"),
    )


# ---------------------------------------------------------------------------
# Mergeable HLL sketches: per-priority distinct customers estimated by
# UNIONING per-status sketches -- the partial-aggregation contract at
# the heart of distributed distinct counting. PARTIAL oracle
# (approx_aggs pattern): exact counts + bounded-error booleans.
# ---------------------------------------------------------------------------
q_approx_distinct_union = register_sql(
    "approx_distinct_union",
    """
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_cust,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_parts,
           TRUE AS union_est_ok
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("approx", "hll", "mergeable"),
)


# ---------------------------------------------------------------------------
# k-core decomposition (k=8, bounded peel): repeatedly drop nodes of
# degree < k from the fixed-radius geometric neighbor graph of the 2-D
# embedding projection (the graph with real degree heterogeneity --
# its k-core is the dense interior). Both engines unroll the SAME
# fixed rounds; the peel reaches its fixpoint within them at oracle
# scales (invariant test proves it), so the bounded rounds ARE the
# k-core there.
# ---------------------------------------------------------------------------
def _kcore_sql() -> str:
    rounds = []
    prev = "e0"
    for i in range(1, _KCORE_ROUNDS + 1):
        # AS MATERIALIZED: each e_i is referenced twice (degree agg +
        # restriction join); letting the planner inline it would
        # re-derive every prior round 2x per reference -- 2^rounds
        # copies of the base join
        rounds.append(
            f"""
    n{i} AS MATERIALIZED (SELECT x AS node FROM {prev} GROUP BY x
             HAVING count(*) >= {_KCORE_K}),
    e{i} AS MATERIALIZED (SELECT e.x, e.y FROM {prev} e
             JOIN n{i} a ON e.x = a.node JOIN n{i} b ON e.y = b.node)"""
        )
        prev = f"e{i}"
    return f"""
    WITH pts AS (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings
    ),
    e0 AS MATERIALIZED (
      SELECT a.vec_id AS x, b.vec_id AS y FROM pts a JOIN pts b
      ON a.vec_id <> b.vec_id
      AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < 0.05 * 0.05
    ),{",".join(rounds)}
    SELECT CAST(x AS BIGINT) AS node,
           CAST(count(*) AS BIGINT) AS core_deg
    FROM {prev} GROUP BY x
    """


@register(
    "kcore_membership",
    _kcore_sql(),
    tags=("graph", "kcore", "iterative"),
)
def q_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each peel round = degree aggregate + two semi-joins restricting
    the edge set to surviving endpoints (shuffle on node key, no
    driver iteration state). The Spark edge build uses the grid-cell
    equi-join (grid_neighbor_pairs trick: 3x3 probe explode, cell =
    radius) so candidate generation is density-local, never n^2; the
    oracle runs the literal quadratic distance-join definition."""
    emb = read_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    ).select(
        "*",
        F.floor(F.col("x") / 0.05).cast("bigint").alias("cx"),
        F.floor(F.col("y") / 0.05).cast("bigint").alias("cy"),
    )
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    probes = pts.select(
        "vec_id",
        "x",
        "y",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + dx).alias("pcx"),
                        (F.col("cy") + dy).alias("pcy"),
                    )
                    for dx, dy in offsets
                ]
            )
        ).alias("o"),
    ).select("vec_id", "x", "y", F.col("o.pcx").alias("cx"), F.col("o.pcy").alias("cy"))
    d2 = (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x")) + (
        F.col("a.y") - F.col("b.y")
    ) * (F.col("a.y") - F.col("b.y"))
    e = (
        probes.alias("a")
        .join(pts.alias("b"), ["cx", "cy"])
        .where((F.col("a.vec_id") != F.col("b.vec_id")) & (d2 < 0.05 * 0.05))
        .select(F.col("a.vec_id").alias("x"), F.col("b.vec_id").alias("y"))
    )
    # each round references e twice; cut the lineage once up front
    # (label_propagation convention -- this query sits in the plan
    # test's EAGER set)
    e = e.localCheckpoint(eager=True)
    for _ in range(_KCORE_ROUNDS):
        surv = e.groupBy("x").agg(F.count(F.lit(1)).alias("d")).where(
            F.col("d") >= _KCORE_K
        ).select(F.col("x").alias("node"))
        e = (
            e.join(surv.withColumnRenamed("node", "x").hint("broadcast"), "x")
            .join(
                surv.withColumnRenamed("node", "y").hint("broadcast"), "y"
            )
            .select("x", "y")
            # e feeds BOTH the next round's degree agg and its own
            # restriction joins -- materialize per round or the lazy
            # lineage re-derives every prior round 3x per reference
            .localCheckpoint(eager=True)
        )
    return e.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("core_deg")).select(
        F.col("x").cast("bigint").alias("node"), "core_deg"
    )
