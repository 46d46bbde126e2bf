"""Extension batch 228 (round 10): routing and packing heuristics with
exact replays, plus universal integer coding.

- nn_tour_embedding: the nearest-neighbor TSP heuristic over the
  deterministic md5-rank 64-point sample of the embedding plane
  (constant in SF, the ext212 far-sample pattern): start at the
  smallest vec_id, repeatedly hop to the nearest unvisited point
  (e9-quantized distance, vec_id tiebreak), close the tour back to the
  start. Spark = bounded driver fold over the collected sample; oracle
  = recursive CTE carrying the visited LIST with a LATERAL
  argmin-per-step (the payment_backbone_mst Prim precedent). The
  closed tour >= MST law is pinned in pytest with an independent
  Python Prim.
- bin_packing_ffd: First-Fit-Decreasing over the 50 largest order
  totals (whole dollars, capacity = 1.5x the largest item): items
  place into the first open bin with room, else a new bin. State = the
  bin-level LIST; DuckDB finds the first fitting bin with
  list_position(list_transform(levels, l -> l + item <= cap), true)
  and rewrites one slot per step. n_bins >= ceil(total/cap) and the
  any-fit 2x bound are hash-visible / pytest-pinned.
- elias_gamma_bits: universal coding vs the tuned Rice coder on the
  SAME residual stream (ext224): gamma(N) costs 2*bit_length(N) - 1
  bits with NO parameter; bit lengths come from a 33-row power-of-two
  spine (no libm log), so the oracle is pure aggregation. The real
  bit-packing encoder/decoder (operators/multimodal) is
  roundtrip-fuzzed; the query emits gamma vs tuned-Rice totals and
  their exact ratio -- the price of universality, measured.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.fold import collect_nonempty
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext147 import _MD5_HEX_SQL
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_TOUR_N = 64
_FFD_ITEMS = 50


# ---------------------------------------------------------------------------
# nn_tour_embedding
# ---------------------------------------------------------------------------
_TOUR_PTS_SQL = f"""
    pts AS MATERIALIZED (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS px,
             CAST(embedding[2] AS DOUBLE) AS py
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_TOUR_N})
"""

# floor(x + 0.5) -- the same IEEE function the driver fold applies
# (r10 advice: DuckDB round(,0) is nearbyint ties-to-even, not the
# fold's half-up)
_TOUR_DQ = (
    "CAST(floor(1.0e9 * sqrt((a_px - p.px) * (a_px - p.px)"
    " + (a_py - p.py) * (a_py - p.py)) + 0.5) AS BIGINT)"
)


@register(
    "nn_tour_embedding",
    f"""
    WITH RECURSIVE {_TOUR_PTS_SQL},
    start AS (SELECT vec_id, px, py FROM pts
              ORDER BY vec_id LIMIT 1),
    tour AS (
      SELECT CAST(1 AS BIGINT) AS step, s.vec_id AS node,
             s.px AS a_px, s.py AS a_py,
             CAST(0 AS BIGINT) AS leg_dq,
             [s.vec_id] AS visited
      FROM start s
      UNION ALL
      SELECT t.step + 1, nxt.vec_id, nxt.px, nxt.py, nxt.dq,
             list_append(t.visited, nxt.vec_id)
      FROM tour t,
      LATERAL (
        SELECT p.vec_id, p.px, p.py, {_TOUR_DQ} AS dq
        FROM pts p
        WHERE NOT list_contains(t.visited, p.vec_id)
        ORDER BY dq, p.vec_id LIMIT 1) nxt
      WHERE t.step < {_TOUR_N}),
    legs AS (
      SELECT step, node, leg_dq FROM tour
      UNION ALL
      SELECT CAST({_TOUR_N + 1} AS BIGINT), s.vec_id,
             CAST(floor(1.0e9 * sqrt((t.a_px - s.px) * (t.a_px - s.px)
               + (t.a_py - s.py) * (t.a_py - s.py)) + 0.5) AS BIGINT)
      FROM tour t CROSS JOIN start s
      WHERE t.step = {_TOUR_N})
    SELECT step, node, leg_dq,
           CAST(sum(leg_dq) OVER (ORDER BY step
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_dq
    FROM legs
    """,
    tags=("routing", "or", "embedding", "stateful"),
)
def q_nn_tour_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor tour (module docstring): bounded driver fold
    over the 64-point sample mirroring the LATERAL-argmin recursion;
    the closing leg returns to the start."""
    import math

    emb = read_table(spark, sf_dir, "embeddings")
    pts = (
        emb.select(
            "vec_id",
            F.col("embedding")[0].cast("double").alias("px"),
            F.col("embedding")[1].cast("double").alias("py"),
        )
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_TOUR_N)
    )
    rows = collect_nonempty(pts, "nn tour sample points")
    P = {r["vec_id"]: (float(r["px"]), float(r["py"])) for r in rows}

    def dq(a, b):
        ax, ay = P[a]
        bx, by = P[b]
        return int(
            math.floor(
                1.0e9
                * math.sqrt((ax - bx) * (ax - bx) + (ay - by) * (ay - by))
                + 0.5
            )
        )

    start = min(P)
    visited = [start]
    out = [(1, start, 0)]
    cur = start
    while len(visited) < len(P):
        nxt = min(
            (v for v in P if v not in visited),
            key=lambda v: (dq(cur, v), v),
        )
        visited.append(nxt)
        out.append((len(visited), nxt, dq(cur, nxt)))
        cur = nxt
    out.append((len(P) + 1, start, dq(cur, start)))
    cum = 0
    final = []
    for step, node, leg in out:
        cum += leg
        final.append((step, node, leg, cum))
    return spark.createDataFrame(
        final, "step long, node long, leg_dq long, cum_dq long"
    )


# ---------------------------------------------------------------------------
# bin_packing_ffd
# ---------------------------------------------------------------------------
_FFD_ITEMS_SQL = f"""
    items AS (
      SELECT CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
               AS BIGINT) // 100 AS w, o_orderkey AS k
      FROM orders GROUP BY o_orderkey
      ORDER BY w DESC, k LIMIT {_FFD_ITEMS}),
    ranked AS MATERIALIZED (
      SELECT list(w ORDER BY w DESC, k) AS ws FROM items),
    cap_t AS (
      SELECT (3 * ws[1]) // 2 AS cap, len(ws) AS m FROM ranked)
"""


@register(
    "bin_packing_ffd",
    f"""
    WITH RECURSIVE {_FFD_ITEMS_SQL},
    fold AS (
      SELECT CAST(0 AS BIGINT) AS k,
             CAST([] AS BIGINT[]) AS levels
      FROM cap_t
      UNION ALL
      SELECT f.k + 1,
        -- DuckDB list_position returns 0 (not NULL) when absent
        CASE WHEN coalesce(pos, 0) = 0
             THEN list_append(f.levels, item)
             ELSE list_transform(range(1, CAST(len(f.levels) + 1 AS BIGINT)),
                    i -> CASE WHEN i = pos THEN f.levels[i] + item
                              ELSE f.levels[i] END)
        END
      FROM (
        SELECT f.k, f.levels, r.ws[CAST(f.k + 1 AS INTEGER)] AS item,
               list_position(list_transform(f.levels,
                 l -> l + r.ws[CAST(f.k + 1 AS INTEGER)] <= c.cap), true)
                 AS pos
        FROM fold f CROSS JOIN ranked r CROSS JOIN cap_t c
        WHERE f.k < c.m) f),
    fin AS (
      SELECT f.levels FROM fold f CROSS JOIN cap_t c WHERE f.k = c.m),
    bins AS (
      SELECT i AS bin, fin.levels[CAST(i AS INTEGER)] AS level
      FROM fin, (SELECT unnest(range(1, 1 + CAST({_FFD_ITEMS} AS BIGINT)))
                 AS i) ix
      WHERE i <= len(fin.levels)),
    tot AS (
      SELECT CAST(sum(level) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_bins
      FROM bins)
    SELECT CAST(b.bin AS BIGINT) AS bin, b.level AS level_dollars,
           (b.level * 1000000) // c.cap AS fill_ppm,
           t.n_bins,
           (t.total + c.cap - 1) // c.cap AS lower_bound,
           c.cap AS capacity
    FROM bins b CROSS JOIN tot t CROSS JOIN cap_t c
    """,
    tags=("packing", "or", "stateful", "exact-arith"),
)
def q_bin_packing_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-Fit-Decreasing (module docstring): bounded driver fold
    over the 50 largest order totals mirroring the list-state
    recursion; per-bin fill plus the ceiling lower bound."""
    orders = read_table(spark, sf_dir, "orders")
    items = (
        orders.groupBy(F.col("o_orderkey").alias("k"))
        .agg(
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
                " AS BIGINT) DIV 100"
            ).alias("w")
        )
        .orderBy(F.col("w").desc(), "k")
        .limit(_FFD_ITEMS)
    )
    rows = collect_nonempty(items.select("w", "k"), "ffd items")
    ws = [int(r["w"]) for r in sorted(rows, key=lambda r: (-r["w"], r["k"]))]
    cap = 3 * ws[0] // 2
    levels: list = []
    for w in ws:
        placed = False
        for i, lvl in enumerate(levels):
            if lvl + w <= cap:
                levels[i] = lvl + w
                placed = True
                break
        if not placed:
            levels.append(w)
    total = sum(levels)
    n_bins = len(levels)
    lb = (total + cap - 1) // cap
    out = [
        (i + 1, lvl, lvl * 1000000 // cap, n_bins, lb, cap)
        for i, lvl in enumerate(levels)
    ]
    return spark.createDataFrame(
        out,
        "bin long, level_dollars long, fill_ppm long, n_bins long,"
        " lower_bound long, capacity long",
    )


# ---------------------------------------------------------------------------
# elias_gamma_bits
# ---------------------------------------------------------------------------
@register(
    "elias_gamma_bits",
    f"""
    WITH {_MD5_HEX_SQL},
    d AS (SELECT media_id, i AS k, v - 128 AS d FROM b),
    z AS (
      SELECT media_id, k,
             CASE WHEN d >= 0 THEN 2 * d ELSE -2 * d - 1 END AS z
      FROM d),
    blen AS (
      SELECT media_id, k, z,
             CAST(min(kk) AS BIGINT) AS bl
      FROM z, (SELECT unnest(range(1, 34)) AS kk) ks
      WHERE z + 1 < CAST(power(2, kk) AS BIGINT)
      GROUP BY media_id, k, z),
    gam AS (
      SELECT media_id,
             CAST(sum(2 * bl - 1) AS BIGINT) AS gamma_bits
      FROM blen GROUP BY media_id),
    kb AS (
      SELECT media_id, kk,
             CAST(sum((z // CAST(power(2, kk) AS BIGINT)) + 1 + kk)
                  AS BIGINT) AS bits
      FROM z, (SELECT unnest(range(0, 16)) AS kk) ks
      GROUP BY media_id, kk),
    rice AS (
      SELECT media_id, min(bits) AS rice_bits
      FROM kb GROUP BY media_id)
    SELECT g.media_id, g.gamma_bits, r.rice_bits + 8 AS rice_total_bits,
           (g.gamma_bits * 1000000) // (r.rice_bits + 8) AS ratio_ppm
    FROM gam g JOIN rice r ON r.media_id = g.media_id
    """,
    tags=("multimodal", "codec", "universal-coding", "exact-arith"),
)
def q_elias_gamma_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elias-gamma vs tuned Rice on the same residual stream (module
    docstring): the real gamma bit-packer runs per media (roundtrip
    asserted) and its total is compared against the Rice coder's
    chosen-k total (including Rice's 8-bit parameter header)."""
    from pyspark.sql import types as T

    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.multimodal import (
        decode_elias_gamma,
        encode_elias_gamma,
        rice_pick_k,
        rice_zigzag,
    )
    from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext147 import (
        _md5_media,
    )

    raw = _md5_media(read_table(spark, sf_dir, "documents"))
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("gamma_bits", T.LongType()),
            T.StructField("rice_total_bits", T.LongType()),
            T.StructField("ratio_ppm", T.LongType()),
        ]
    )

    def op(batches):
        import itertools

        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in schema.fieldNames()}
            for row in pdf.itertuples():
                deltas = [int(x) - 128 for x in bytes(row.content)]
                signal = list(itertools.accumulate(deltas))
                zz = rice_zigzag(signal)
                data, gamma_bits = encode_elias_gamma([v + 1 for v in zz])
                assert decode_elias_gamma(data, len(zz)) == [
                    v + 1 for v in zz
                ]
                _, rice_bits, _ = rice_pick_k(zz)
                rice_total = rice_bits + 8
                out["media_id"].append(row.media_id)
                out["gamma_bits"].append(gamma_bits)
                out["rice_total_bits"].append(rice_total)
                out["ratio_ppm"].append(gamma_bits * 1000000 // rice_total)
            yield pd.DataFrame(out)

    return raw.mapInPandas(op, schema=schema)
