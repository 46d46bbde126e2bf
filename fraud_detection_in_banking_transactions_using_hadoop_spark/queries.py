"""Query registry: every implemented operator from SURVEY.md 2 over the
driver's testdata tables, each with ANSI SQL for the DuckDB oracle.

Two registration forms:
- `@register(name, sql)` on a PySpark DataFrame program: the query
  exists twice, and the oracle compares two independent texts;
- `q_x = register_sql(name, sql)` where Spark runs the oracle text
  verbatim and matches DuckDB: the text IS the implementation (run via
  `sql.sql`, which opens only the tables it names). Its oracle check
  proves engine parity (rounding, NULLs, types, window semantics), not
  the logic of the text. The paper core (lookup build, fraud rules,
  streaming replays) keeps two independent texts.

Mapping of the fraud domain onto the driver tables (FIXTURES.md 7):
`orders` stands in for the card-transaction fact (card_id -> o_custkey,
amount -> o_totalprice, ts -> o_orderdate, status -> o_orderstatus with
'F' playing GENUINE), `customer` for the member dimension, `events` for
the stream replay, `documents`/`embeddings` for the LLM-pipeline surface.

Determinism discipline (SURVEY.md 5):
- every window order includes a unique tiebreaker;
- floats produced by multi-step arithmetic are round()ed identically on
  both sides (parallel summation order differs from DuckDB's serial sum
  by ~1 ulp; rounding absorbs it);
- timestamps are emitted as 'yyyy-MM-dd HH:mm:ss' strings (DuckDB
  timestamps are UTC-naive; our session timezone is pinned to UTC);
- counts/lengths are cast to the same integer width on both sides.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
import re
import sys
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.config import EngineConfig
from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.scalar import distance_km, speed_kms
from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.agg_ops import grouped_ucl
from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.window_ops import (
    latest_per_group,
    moving_ucl,
    top_k_per_group,
)
from fraud_detection_in_banking_transactions_using_hadoop_spark.plans.scoring import fraud_rules
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table
from fraud_detection_in_banking_transactions_using_hadoop_spark.sql import sql as run_sql


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    # DuckDB oracle; None => non-SQL-expressible (rows-only check).
    # A CALLABLE means the SQL embeds data-dependent literals (e.g. the
    # IVF centroids fit on the target tables) and is generated lazily
    # per sf_dir -- resolve with resolve_sql().
    sql: Optional[str | Callable[[str], str]]
    tags: tuple[str, ...] = field(default_factory=tuple)


def resolve_sql(q: "Query", sf_dir: str) -> Optional[str]:
    """Materialize a query's oracle SQL for a concrete sf_dir."""
    return q.sql(sf_dir) if callable(q.sql) else q.sql


_REGISTRY: list[Query] = []


def register(name: str, sql: Optional[str], tags: tuple[str, ...] = ()):
    def deco(fn):
        _REGISTRY.append(Query(name, fn, sql, tags))
        return fn

    return deco


def register_sql(
    name: str, sql: str | Callable[[str], str], tags: tuple[str, ...] = ()
) -> Callable[[SparkSession, str], DataFrame]:
    """Register a query whose implementation IS its oracle SQL text: `fn`
    runs the resolved text through `sql.sql`, so Spark and DuckDB execute
    the same statement. Returns `fn` for `q_x = register_sql(...)`.
    `fn.__module__` is the registering module, like a decorated body's."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return run_sql(spark, sf_dir, resolve_sql(q, sf_dir))

    fn.__module__ = sys._getframe(1).f_globals["__name__"]
    q = Query(name, fn, sql, tags)
    _REGISTRY.append(q)
    return fn


def _natural_key(name: str) -> list:
    return [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", name)]


def registry() -> list[Query]:
    # Importing a queries_* module registers its queries. Natural-sort
    # order (ext2 before ext10) keeps the registration order stable.
    names = (m.name for m in pkgutil.iter_modules([os.path.dirname(__file__)]))
    for name in sorted((n for n in names if n.startswith("queries_")), key=_natural_key):
        importlib.import_module(f"{__package__}.{name}")
    return list(_REGISTRY)


_FMT_S = "yyyy-MM-dd HH:mm:ss"  # Spark pattern
_FMT_D = "%Y-%m-%d %H:%M:%S"  # DuckDB strftime pattern


# ---------------------------------------------------------------------------
# W1/W2 + A1-A3 + P2: the authoritative grouped UCL (FDProcBatch.txt:276-310)
# ---------------------------------------------------------------------------
@register(
    "ucl_grouped",
    f"""
    WITH ranked AS (
      SELECT o_custkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders WHERE o_orderstatus = 'F')
    SELECT o_custkey AS card_id,
           count(*) AS n_txn,
           round(avg(o_totalprice), 6) AS avg_amount,
           round(avg(o_totalprice) + 3 * stddev_pop(o_totalprice), 6) AS ucl
    FROM ranked WHERE rn <= 10 GROUP BY o_custkey
    """,
    tags=("P2", "W1", "W2", "A1", "A2", "A3"),
)
def q_ucl_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    genuine = orders.filter(F.col("o_orderstatus") == "F")
    ucl = grouped_ucl(
        genuine,
        key="o_custkey",
        amount_col="o_totalprice",
        order_by=[F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
        last_n=10,
        sigma=3.0,
    )
    return ucl.select(
        F.col("o_custkey").alias("card_id"),
        F.col("n_txn"),
        F.round("avg_amount", 6).alias("avg_amount"),
        F.round("ucl", 6).alias("ucl"),
    )


# ---------------------------------------------------------------------------
# W4: README's moving-window UCL variant (README.md:204-213)
# ---------------------------------------------------------------------------
@register(
    "ucl_windowed",
    """
    SELECT o_orderkey,
           round(avg(o_totalprice) OVER w + 3 * stddev_pop(o_totalprice) OVER w, 4)
             AS ucl_moving
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    """,
    tags=("W4", "A2"),
)
def q_ucl_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    df = moving_ucl(
        orders,
        partition_by="o_custkey",
        order_by=[F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        amount_col="o_totalprice",
        n=10,
        sigma=3.0,
        out_col="ucl_moving",
    )
    # round(4), not 6: windowed stddev over ~8e5-magnitude values carries
    # ~1e-11 cross-engine noise (segment-tree vs frame-recompute summation
    # order); at 150k rows round(6) lands on a boundary a few times.
    return df.select("o_orderkey", F.round("ucl_moving", 4).alias("ucl_moving"))


# ---------------------------------------------------------------------------
# W3: argmax per group -- latest transaction per card (FDProcBatch.txt:319-333)
# ---------------------------------------------------------------------------
_LATEST_SQL = f"""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders)
    SELECT o_custkey AS card_id,
           o_orderkey AS last_txn_id,
           strftime(o_orderdate, '{_FMT_D}') AS last_txn_ts
    FROM ranked WHERE rn = 1
    """


@register("latest_txn", _LATEST_SQL, tags=("W1", "W3", "P3"))
def q_latest_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    latest = latest_per_group(
        orders, ["o_custkey"], [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()]
    )
    return latest.select(
        F.col("o_custkey").alias("card_id"),
        F.col("o_orderkey").alias("last_txn_id"),
        F.date_format("o_orderdate", _FMT_S).alias("last_txn_ts"),
    )


# ---------------------------------------------------------------------------
# J1: dim |x| dim |x| dim broadcast joins (FDProcBatch.txt:259-267)
# ---------------------------------------------------------------------------
q_member_score_join = register_sql(
    "member_score_join",
    """
    SELECT c_custkey AS member_id, c_name, c_acctbal AS score, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
    tags=("J1",),
)


# ---------------------------------------------------------------------------
# J2: 3-way join on card_id assembling the lookup row (FDProcBatch.txt:342-354)
# ---------------------------------------------------------------------------
@register(
    "lookup_build",
    f"""
    WITH genuine AS (
      SELECT o_custkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders WHERE o_orderstatus = 'F'),
    card_ucl AS (
      SELECT o_custkey AS card_id,
             round(avg(o_totalprice) + 3 * stddev_pop(o_totalprice), 6) AS ucl
      FROM genuine WHERE rn <= 10 GROUP BY o_custkey),
    latest AS (
      SELECT o_custkey AS card_id, o_orderkey AS last_txn_id,
             strftime(o_orderdate, '{_FMT_D}') AS last_txn_ts
      FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders) r WHERE rn = 1),
    card_score AS (
      SELECT c_custkey AS card_id, c_acctbal AS score FROM customer)
    SELECT s.card_id, u.ucl, l.last_txn_id, l.last_txn_ts, s.score
    FROM card_score s
    JOIN card_ucl u ON s.card_id = u.card_id
    JOIN latest l ON s.card_id = l.card_id
    """,
    tags=("J2",),
)
def q_lookup_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    order_desc = [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()]

    card_ucl = (
        grouped_ucl(
            orders.filter(F.col("o_orderstatus") == "F"),
            key="o_custkey",
            amount_col="o_totalprice",
            order_by=order_desc,
        )
        .select(F.col("o_custkey").alias("card_id"), F.round("ucl", 6).alias("ucl"))
    )
    latest = latest_per_group(orders, ["o_custkey"], order_desc).select(
        F.col("o_custkey").alias("card_id"),
        F.col("o_orderkey").alias("last_txn_id"),
        F.date_format("o_orderdate", _FMT_S).alias("last_txn_ts"),
    )
    card_score = customer.select(
        F.col("c_custkey").alias("card_id"), F.col("c_acctbal").alias("score")
    )
    return (
        card_score.join(card_ucl, "card_id", "inner")
        .join(latest, "card_id", "inner")
        .select("card_id", "ucl", "last_txn_id", "last_txn_ts", "score")
    )


# ---------------------------------------------------------------------------
# J3 + F4: fact |x| dim join with CASE-derived status (README.md:251-280)
# ---------------------------------------------------------------------------
q_fact_dim_case = register_sql(
    "fact_dim_case",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN c_acctbal < 1000 THEN 'FRAUDULENT' ELSE o_orderstatus END AS status
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    tags=("J3", "F4"),
)


# ---------------------------------------------------------------------------
# P1/P2/S4: projection + filter, pushed down to the parquet scan
# ---------------------------------------------------------------------------
q_filter_project = register_sql(
    "filter_project",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_returnflag = 'R'
    """,
    tags=("P1", "P2", "S4"),
)


# ---------------------------------------------------------------------------
# W2: top-k per group on the big fact table
# ---------------------------------------------------------------------------
@register(
    "topk_per_supplier",
    """
    WITH ranked AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             CAST(row_number() OVER (PARTITION BY l_suppkey
                                     ORDER BY l_extendedprice DESC,
                                              l_orderkey, l_linenumber) AS INTEGER) AS rn
      FROM lineitem)
    SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rn
    FROM ranked WHERE rn <= 3
    """,
    tags=("W1", "W2", "P3"),
)
def q_topk_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    top = top_k_per_group(
        li,
        ["l_suppkey"],
        [F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        k=3,
    )
    return top.select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice", "rn")


# ---------------------------------------------------------------------------
# Flagship: the three-rule fraud scorer replayed over the events stream table
# (P4 + F5 + F6 + F7 + W1-lag; FinFraudGuard.java:68-92 semantics)
# ---------------------------------------------------------------------------
_FRAUD_SCORE_SQL = """
    WITH e AS (
      SELECT event_id, user_id, ts, value,
             CAST(nullif(regexp_extract(props, '"k": (\\d+)', 1), '') AS INTEGER) AS k
      FROM events),
    l AS (
      SELECT e.*, lag(ts) OVER w AS prev_ts, lag(k) OVER w AS prev_k
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    g AS (
      SELECT event_id, user_id, value, k,
             (epoch_us(ts) - epoch_us(prev_ts)) / 1000000.0 AS dt,
             (k % 90) * 1.7 - 76.5 AS lat, (k % 180) * 1.9 - 171.0 AS lon,
             (prev_k % 90) * 1.7 - 76.5 AS plat, (prev_k % 180) * 1.9 - 171.0 AS plon
      FROM l),
    d AS (
      SELECT event_id, user_id, value, k, dt,
             CASE WHEN lat IS NULL OR lon IS NULL OR plat IS NULL OR plon IS NULL
                  THEN NULL
                  WHEN lat = plat AND lon = plon THEN 0.0
                  ELSE acos(least(1.0, greatest(-1.0,
                         sin(radians(lat)) * sin(radians(plat)) +
                         cos(radians(lat)) * cos(radians(plat)) *
                         cos(radians(lon) - radians(plon))
                       ))) * 6371.0 END AS dist_km
      FROM g),
    s AS (SELECT *, CASE WHEN dt > 0 THEN dist_km / dt END AS speed FROM d)
    SELECT event_id, user_id,
           round(dist_km, 6) AS dist_km,
           round(dt, 6) AS dt_seconds,
           round(speed, 6) AS speed_kms,
           CASE WHEN coalesce(k < 3, FALSE)
                  OR coalesce(value > 400, FALSE)
                  OR coalesce(dt <= 0 OR speed > 0.25, FALSE)
                THEN 'FRAUD' ELSE 'GENUINE' END AS status
    FROM s
    """


@register("fraud_score_events", _FRAUD_SCORE_SQL, tags=("P4", "F5", "F6", "F7", "J6"))
def q_fraud_score_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch replay of the speed-layer scorer on the events table.

    `k` (parsed from the JSON props, S12-style) plays the credit score
    (threshold 3) and seeds a deterministic fake geolocation; `value`
    plays the amount with a constant UCL of 400; consecutive events of a
    user give dt/distance/speed exactly like the reference's lookup state
    (FinFraudGuard.java:73-79).
    """
    ev = read_table(spark, sf_dir, "events")
    k = F.nullif(F.regexp_extract("props", r'"k": (\d+)', 1), F.lit("")).cast("int")
    ev = ev.withColumn("k", k)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ev = ev.withColumn("prev_ts", F.lag("ts").over(w)).withColumn("prev_k", F.lag("k").over(w))

    lat = (F.col("k") % 90) * 1.7 - 76.5
    lon = (F.col("k") % 180) * 1.9 - 171.0
    plat = (F.col("prev_k") % 90) * 1.7 - 76.5
    plon = (F.col("prev_k") % 180) * 1.9 - 171.0

    scored = (
        # dt from integer microseconds then one division: bit-identical to
        # the oracle, unlike cast-to-double epoch subtraction (1-ulp drift).
        ev.withColumn(
            "dt", (F.unix_micros("ts") - F.unix_micros("prev_ts")) / F.lit(1000000.0)
        )
        .withColumn("dist_km", distance_km(lat, lon, plat, plon))
        .withColumn("speed", speed_kms(F.col("dist_km"), F.col("dt")))
        .withColumn(
            "status",
            fraud_rules(
                score=F.col("k"),
                amount=F.col("value"),
                ucl=F.lit(400.0),
                speed=F.col("speed"),
                dt_seconds=F.col("dt"),
                cfg=EngineConfig(score_threshold=3),
            ),
        )
    )
    return scored.select(
        "event_id",
        "user_id",
        F.round("dist_km", 6).alias("dist_km"),
        F.round("dt", 6).alias("dt_seconds"),
        F.round("speed", 6).alias("speed_kms"),
        "status",
    )


# ---------------------------------------------------------------------------
# F1/F2/F9 + string surface: scalar function library
# ---------------------------------------------------------------------------
@register(
    "scalar_funcs",
    """
    SELECT c_custkey,
           regexp_replace(c_name, '[^0-9]', '', 'g') AS digits,
           concat_ws(',', c_name, c_mktsegment) AS csv_line,
           CAST(upper(c_mktsegment) = 'BUILDING' AS INTEGER) AS is_building,
           CAST(length(c_name) AS INTEGER) AS name_len,
           lower(c_mktsegment) AS seg_lower,
           substr(c_name, 10, 9) AS id_part
    FROM customer
    """,
    tags=("F2", "F9", "P1"),
)
def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_replace("c_name", "[^0-9]", "").alias("digits"),
        F.concat_ws(",", "c_name", "c_mktsegment").alias("csv_line"),
        (F.upper("c_mktsegment") == "BUILDING").cast("int").alias("is_building"),
        F.length("c_name").cast("int").alias("name_len"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 10, 9).alias("id_part"),
    )


# ---------------------------------------------------------------------------
# A1: TPC-H Q1-style grouped aggregation over the big fact table
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("A1", "P2"),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-way join + agg (TPC-H Q5 shape): exercises join ordering/broadcast
# ---------------------------------------------------------------------------
@register(
    "revenue_by_nation",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    tags=("J1", "J2", "J3", "A1"),
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = read_table(spark, sf_dir, "nation")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    lineitem = read_table(spark, sf_dir, "lineitem")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (supplier.s_nationkey == customer.c_nationkey),
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# Set operations (engine surface beyond the reference, SURVEY.md 2.7)
# ---------------------------------------------------------------------------
@register(
    "set_ops_except",
    """
    WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
    b AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000),
    c AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'P')
    (SELECT k FROM a UNION SELECT k FROM b) EXCEPT (SELECT k FROM c)
    """,
    tags=("setop",),
)
def q_set_ops_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    a = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    b = orders.filter(F.col("o_totalprice") > 300000).select(F.col("o_custkey").alias("k"))
    c = orders.filter(F.col("o_orderstatus") == "P").select(F.col("o_custkey").alias("k"))
    return a.union(b).distinct().subtract(c)


q_set_ops_intersect = register_sql(
    "set_ops_intersect",
    """
    SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000
    """,
    tags=("setop",),
)


# ---------------------------------------------------------------------------
# Global sort + limit (TakeOrderedAndProject -- no full sort at scale)
# ---------------------------------------------------------------------------
q_global_topk = register_sql(
    "global_topk",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
    tags=("sort", "limit"),
)


# ---------------------------------------------------------------------------
# S2/P5: incremental high-watermark predicate + grouped rollup on events
# ---------------------------------------------------------------------------
@register(
    "incremental_watermark",
    f"""
    SELECT event_type, count(*) AS n,
           round(sum(value), 4) AS total_value,
           strftime(max(ts), '{_FMT_D}') AS max_ts,
           CAST(floor(epoch(max(ts))) AS BIGINT) AS max_epoch
    FROM events
    WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY event_type
    """,
    tags=("S2", "P5", "A1", "F1"),
)
def q_incremental_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("ts") > F.lit("2024-01-15 00:00:00"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.date_format(F.max("ts"), _FMT_S).alias("max_ts"),
            F.unix_timestamp(F.max("ts")).alias("max_epoch"),
        )
    )
