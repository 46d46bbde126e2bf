"""Extension batch 221 (round 9): Elo ratings as a carried-list fold,
the web-graph bow-tie decomposition of the payment digraph, EMSR-b
seat-protection levels on the shared Acklam inverse-normal, and
Mokken/Loevinger scalability.

- elo_ratings_nations: the DYNAMIC cousin of bradley_terry_nations --
  monthly revenue head-to-heads replayed chronologically with batch
  Elo updates (all deltas within a month computed from start-of-month
  ratings, so the within-month sum is order-free). The Spark side is
  a bounded driver fold (25-vector state, COVERAGE loop table); the
  oracle replays the SAME recursion as one recursive CTE whose state
  is the 25-slot e9-integer rating LIST and whose per-month input is
  a pre-aggregated game list (the DGIM/QOI carried-list pattern).
  Rounding is floor(x + 0.5) in BOTH engines (sign-stable, no
  HALF_UP ambiguity on negative deltas).
- bowtie_decomposition: Broder et al.'s CORE/IN/OUT/OTHER partition of
  the above-average payment flows (edge iff cnt > 2 * mean cell):
  CORE = the strongly connected component of the max-degree node, IN
  = reaches CORE, OUT = reached from CORE. Oracle = recursive
  transitive closure; Spark = bounded driver Warshall over the
  collected <=625-cell edge set.
- emsr_b_protection: revenue management -- nested booking-class
  protection levels y_j = mu_bar + z * sigma_bar with z =
  PhiInv(1 - f_{j+1} / f_bar), classes = order priorities with exact
  integer fares/demand moments, PhiInv = the repo's shared Acklam
  text (queries_ext120._acklam_sql).
- mokken_loevinger_h: scalogram quality of the 5 event-type "items"
  over users: per item pair, H_ij = 1 - F/E with F = observed Guttman
  errors (did the rare item, skipped the common one) and E the
  independence expectation -- exact integer counts, one division.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import _acklam_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.fold import collect_nonempty
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_ELO_K = 32.0
_ELO_INIT = 1500 * 10**9  # e9-int ratings


def _trunc_div_e6(v: int) -> int:
    """Truncate-toward-zero division by 1e6, matching DuckDB `//` and
    Spark `DIV` semantics (both truncate: -7 DIV 2 = -3). Python's `//`
    FLOORS (-7 // 2 = -4), so a rating that ever drifted negative would
    hash-mismatch the oracle by one milli-unit (r9 advice item)."""
    return -((-v) // 10**6) if v < 0 else v // 10**6


_ELO_GAMES_SQL = """
    mrev AS MATERIALIZED (
      SELECT c.c_nationkey AS nation,
             date_trunc('month', o.o_orderdate) AS m,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    months AS (
      SELECT m, CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS t
      FROM (SELECT DISTINCT m FROM mrev)),
    gm AS (
      SELECT mo.t, a.nation AS i, b.nation AS j,
             CASE WHEN a.rev > b.rev THEN 1 ELSE 0 END AS s
      FROM mrev a
      JOIN mrev b ON a.m = b.m AND a.nation <> b.nation
        AND a.rev <> b.rev
      JOIN months mo ON mo.m = a.m),
    gml AS MATERIALIZED (
      SELECT t, list(struct_pack(i := i, j := j, s := s)
                     ORDER BY i, j) AS gl
      FROM gm GROUP BY t),
    tmax AS MATERIALIZED (SELECT CAST(max(t) AS BIGINT) AS tm FROM months)
"""

# per-nation monthly Elo delta, from START-of-month ratings r (e9 ints)
_ELO_DELTA = (
    "CAST(floor({k} * 1.0e9 * (CAST(g.s AS DOUBLE)"
    " - 1.0 / (1.0 + pow(10.0,"
    " CAST(r[g.j + 1] - r[g.i + 1] AS DOUBLE) / 4.0e11))) + 0.5)"
    " AS BIGINT)"
)


def _elo_oracle() -> str:
    delta = _ELO_DELTA.format(k=_ELO_K).replace("r[", "f.r[")
    empty = "CAST([] AS STRUCT(i INTEGER, j INTEGER, s INTEGER)[])"
    return f"""
    WITH RECURSIVE {_ELO_GAMES_SQL},
    fold AS (
      SELECT CAST(0 AS BIGINT) AS t,
             list_transform(range(0, 25),
               z -> CAST({_ELO_INIT} AS BIGINT)) AS r
      UNION ALL
      SELECT f.t + 1,
             list_transform(range(0, 25), n ->
               f.r[n + 1] + coalesce(
                 CAST(list_aggregate(list_transform(
                   list_filter(coalesce(g.gl, {empty}), g -> g.i = n),
                   g -> {delta}),
                   'sum') AS BIGINT), 0))
      FROM fold f
      LEFT JOIN gml g ON g.t = f.t + 1
      CROSS JOIN tmax
      WHERE f.t < tmax.tm)
    SELECT CAST(n.n AS INTEGER) AS nation,
           fin.r[n.n + 1] // 1000000 AS rating_milli,
           CAST(row_number() OVER (
             ORDER BY fin.r[n.n + 1] DESC, n.n) AS BIGINT) AS rank
    FROM (SELECT r FROM fold CROSS JOIN tmax WHERE t = tmax.tm) fin
    CROSS JOIN (SELECT unnest(range(0, 25)) AS n) n
    """


@register(
    "elo_ratings_nations",
    _elo_oracle(),
    tags=("ranking", "elo", "stateful", "exact-arith"),
)
def q_elo_ratings_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elo ratings (K=32, base 1500) of the 25 nations from monthly
    revenue head-to-heads replayed in month order: each month's deltas
    use start-of-month ratings (batch update -> within-month sums are
    order-free) and every delta floors to an e9 integer, so both
    engines carry identical integer rating vectors. The where-BT-is-
    static comparison: Elo weights RECENT form. Bounded driver fold
    (25-slot state, month-count rounds) mirroring the recursive-CTE
    list replay."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    mrev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("rev")
        )
    )
    a, b = mrev.alias("a"), mrev.alias("b")
    games = collect_nonempty(
        a.join(
            b,
            (F.col("a.m") == F.col("b.m"))
            & (F.col("a.nation") != F.col("b.nation"))
            & (F.col("a.rev") != F.col("b.rev")),
        ).select(
            F.col("a.m").alias("m"),
            F.col("a.nation").alias("i"),
            F.col("b.nation").alias("j"),
            F.when(F.col("a.rev") > F.col("b.rev"), 1).otherwise(0).alias("s"),
        ),
        "elo monthly games",
    )
    months = sorted({g["m"] for g in games})
    by_month: dict = {m: [] for m in months}
    for g in games:
        by_month[g["m"]].append((g["i"], g["j"], g["s"]))
    r = [_ELO_INIT] * 25
    for m in months:
        deltas = [0] * 25
        for i, j, s in by_month[m]:
            e = 1.0 / (1.0 + math.pow(10.0, float(r[j] - r[i]) / 4.0e11))
            deltas[i] += int(math.floor(_ELO_K * 1.0e9 * (float(s) - e) + 0.5))
        r = [r[n] + deltas[n] for n in range(25)]
    order = sorted(range(25), key=lambda n: (-r[n], n))
    rank = {n: k + 1 for k, n in enumerate(order)}
    rows = [(n, _trunc_div_e6(r[n]), rank[n]) for n in range(25)]
    return spark.createDataFrame(
        rows, "nation int, rating_milli long, rank long"
    )


@register(
    "bowtie_decomposition",
    """
    WITH RECURSIVE flow AS (
      SELECT c.c_nationkey AS i, s.s_nationkey AS j,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2),
    e AS MATERIALIZED (
      SELECT i, j FROM flow ORDER BY n DESC, i, j LIMIT 40),
    nodes AS (SELECT DISTINCT x AS v FROM
              (SELECT i AS x FROM e UNION SELECT j FROM e)),
    reach(a, b) AS (
      SELECT i, j FROM e
      UNION
      SELECT r.a, e.j FROM reach r JOIN e ON e.i = r.b),
    anchor AS (
      SELECT v FROM (
        SELECT n.v, CAST(count(*) AS BIGINT) AS deg
        FROM nodes n
        LEFT JOIN (SELECT i AS x FROM e UNION ALL SELECT j FROM e) d
          ON d.x = n.v
        GROUP BY n.v)
      ORDER BY deg DESC, v LIMIT 1),
    core AS (
      SELECT n.v FROM nodes n CROSS JOIN anchor a
      WHERE n.v = a.v
         OR (EXISTS (SELECT 1 FROM reach r
                     WHERE r.a = a.v AND r.b = n.v)
             AND EXISTS (SELECT 1 FROM reach r
                         WHERE r.a = n.v AND r.b = a.v))),
    cls AS (
      SELECT n.v,
             CASE WHEN n.v IN (SELECT v FROM core) THEN 'CORE'
                  WHEN EXISTS (SELECT 1 FROM reach r JOIN core c
                               ON c.v = r.b WHERE r.a = n.v) THEN 'IN'
                  WHEN EXISTS (SELECT 1 FROM reach r JOIN core c
                               ON c.v = r.a WHERE r.b = n.v) THEN 'OUT'
                  ELSE 'OTHER'
             END AS component
      FROM nodes n)
    SELECT CAST(v AS INTEGER) AS nation, component,
           CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
             AS component_size
    FROM cls
    """,
    tags=("graph", "bowtie", "scc"),
)
def q_bowtie_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bow-tie decomposition of the payment BACKBONE digraph (the 40
    heaviest nation->nation flows, deterministic (n desc, i, j) order
    -- a relative threshold degenerates at scale: flows concentrate
    toward the mean as volume grows, and 2x-mean selects ZERO edges
    at sf0.1): CORE = the SCC of the highest-degree nation, IN =
    nations whose money reaches the core, OUT = nations the core's
    money reaches, OTHER = the periphery. The web-graph
    macro-structure read, on money flows. Oracle = recursive
    transitive closure; Spark = bounded driver Warshall over the
    collected edge set."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    flow = collect_nonempty(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("i"), F.col("s_nationkey").alias("j")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n")),
        "bow-tie flow matrix",
    )
    top = sorted(flow, key=lambda r: (-r["n"], r["i"], r["j"]))[:40]
    edges = {(r["i"], r["j"]) for r in top}
    nodes = sorted({x for e in edges for x in e})
    if not nodes:  # degenerate-input guard (empty flow table)
        return spark.createDataFrame(
            [], "nation int, component string, component_size long"
        )
    idx = {v: k for k, v in enumerate(nodes)}
    nn = len(nodes)
    reach = [[False] * nn for _ in range(nn)]
    for i, j in edges:
        reach[idx[i]][idx[j]] = True
    for k in range(nn):
        for i in range(nn):
            if reach[i][k]:
                ri, rk = reach[i], reach[k]
                for j in range(nn):
                    if rk[j]:
                        ri[j] = True
    deg = {v: 0 for v in nodes}
    for i, j in edges:
        deg[i] += 1
        deg[j] += 1
    anchor = sorted(nodes, key=lambda v: (-deg[v], v))[0]
    av = idx[anchor]
    core = {
        v
        for v in nodes
        if v == anchor
        or (reach[av][idx[v]] and reach[idx[v]][av])
    }
    rows = []
    for v in nodes:
        if v in core:
            comp = "CORE"
        elif any(reach[idx[v]][idx[c]] for c in core):
            comp = "IN"
        elif any(reach[idx[c]][idx[v]] for c in core):
            comp = "OUT"
        else:
            comp = "OTHER"
        rows.append((v, comp))
    sizes: dict = {}
    for _, c in rows:
        sizes[c] = sizes.get(c, 0) + 1
    return spark.createDataFrame(
        [(v, c, sizes[c]) for v, c in rows],
        "nation int, component string, component_size long",
    )


@register(
    "emsr_b_protection",
    f"""
    WITH cls AS (
      SELECT o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS t,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_orderpriority),
    dayn AS (
      SELECT CAST(count(DISTINCT o_orderdate) AS BIGINT) AS d FROM orders),
    dmom AS (
      SELECT pri, CAST(count(*) AS BIGINT) AS nd,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(c * c) AS BIGINT) AS sc2
      FROM (SELECT o_orderpriority AS pri, o_orderdate,
                   CAST(count(*) AS BIGINT) AS c
            FROM orders GROUP BY 1, 2) z
      GROUP BY pri),
    fares AS (
      SELECT c.pri, c.t, c.cents // c.t AS fare,
             d.d * m.sc2 - m.sc * m.sc AS varnum,
             d.d AS dd
      FROM cls c JOIN dmom m ON m.pri = c.pri CROSS JOIN dayn d),
    ranked AS (
      SELECT pri, t, fare, varnum, dd,
             row_number() OVER (ORDER BY fare DESC, pri) AS k
      FROM fares),
    cum AS (
      SELECT r.k, r.pri, r.fare, r.t, r.dd,
             CAST(sum(r2.t) AS BIGINT) AS cum_t,
             CAST(sum(r2.fare * r2.t) AS BIGINT) AS cum_ft,
             CAST(sum(r2.varnum) AS BIGINT) AS cum_varnum
      FROM ranked r JOIN ranked r2 ON r2.k <= r.k
      GROUP BY r.k, r.pri, r.fare, r.t, r.dd),
    nxt AS (
      SELECT c.k, c.pri, c.fare, c.cum_t, c.cum_ft,
             CAST(c.cum_varnum AS DOUBLE)
               / (CAST(c.dd AS DOUBLE) * CAST(c.dd AS DOUBLE)) AS cum_var,
             CAST(c.cum_t AS DOUBLE) / CAST(c.dd AS DOUBLE) AS cum_mu,
             r.fare AS next_fare
      FROM cum c JOIN ranked r ON r.k = c.k + 1),
    z AS (
      SELECT k, pri, fare, next_fare,
             cum_mu, cum_var,
             1.0 - CAST(next_fare AS DOUBLE) * cum_t / cum_ft AS p
      FROM nxt)
    SELECT CAST(k AS BIGINT) AS class_rank, pri AS priority,
           fare AS fare_cents, next_fare AS next_fare_cents,
           round(cum_mu, 6) AS agg_mean_daily,
           round(p, 6) + 0.0 AS critical_p,
           CASE WHEN p <= 0.0 OR p >= 1.0 THEN NULL
                ELSE round(cum_mu + ({_acklam_sql('p')}) * sqrt(cum_var),
                           6) + 0.0
           END AS protection_level
    FROM z
    """,
    tags=("revenue-management", "queueing", "exact-arith"),
)
def q_emsr_b_protection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMSR-b nested protection levels over the five order-priority
    'booking classes': classes rank by exact integer fare (mean order
    cents); for each rank j the aggregate daily demand mean/variance
    (exact integer moments over the day spine) and the demand-weighted
    fare give y_j = mu + PhiInv(1 - f_{j+1}/f_bar) * sigma -- protect
    y_j daily orders for the top-j classes before accepting class j+1.
    PhiInv is the repo's shared Acklam text. The revenue-management
    primitive behind every airline/hotel quota."""
    orders = read_table(spark, sf_dir, "orders")
    cls = orders.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )
    dayn = orders.agg(
        F.countDistinct("o_orderdate").cast("bigint").alias("d")
    )
    dmom = (
        orders.groupBy(
            F.col("o_orderpriority").alias("pri"), "o_orderdate"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .groupBy("pri")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nd"),
            F.sum("c").cast("bigint").alias("sc"),
            F.sum(F.expr("c * c")).cast("bigint").alias("sc2"),
        )
    )
    fares = (
        cls.join(dmom, "pri")
        .crossJoin(F.broadcast(dayn))
        .select(
            "pri",
            "t",
            F.expr("cents DIV t").alias("fare"),
            # exact-integer variance numerator: the cross-class sum in
            # `cum` stays a BIGINT sum (order-free); the shared day
            # count dd divides ONCE at the end (r9 advice: never output
            # a raw double sum over per-group double terms).
            F.expr("d * sc2 - sc * sc").alias("varnum"),
            F.col("d").alias("dd"),
        )
    )
    from pyspark.sql import Window

    ranked = fares.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("fare").desc(), "pri"))
        .alias("k"),
    )
    r2 = ranked.select(
        F.col("k").alias("k2"),
        F.col("t").alias("t2"),
        F.col("fare").alias("fare2"),
        F.col("varnum").alias("varnum2"),
        F.col("dd").alias("dd2"),
    )
    cum = (
        ranked.join(F.broadcast(r2), F.col("k2") <= F.col("k"))
        .groupBy("k", "pri", "fare", "t", "dd")
        .agg(
            F.sum("t2").cast("bigint").alias("cum_t"),
            F.sum(F.expr("fare2 * t2")).cast("bigint").alias("cum_ft"),
            F.sum("varnum2").cast("bigint").alias("cum_varnum"),
        )
    )
    nxt = cum.join(
        F.broadcast(
            ranked.select(
                (F.col("k") - 1).alias("k"), F.col("fare").alias("next_fare")
            )
        ),
        "k",
    ).withColumns(
        {
            "cum_var": F.expr(
                "CAST(cum_varnum AS DOUBLE)"
                " / (CAST(dd AS DOUBLE) * CAST(dd AS DOUBLE))"
            ),
            "cum_mu": F.expr("CAST(cum_t AS DOUBLE) / CAST(dd AS DOUBLE)"),
        }
    )
    z = nxt.select(
        "k",
        "pri",
        "fare",
        "next_fare",
        "cum_mu",
        "cum_var",
        F.expr(
            "1.0 - CAST(next_fare AS DOUBLE) * cum_t / cum_ft"
        ).alias("p"),
    )
    prot = F.expr(
        f"CASE WHEN p <= 0.0 OR p >= 1.0 THEN NULL"
        f" ELSE round(cum_mu + ({_acklam_sql('p')}) * sqrt(cum_var), 6)"
        f" + 0.0 END"
    )
    return z.select(
        F.col("k").cast("bigint").alias("class_rank"),
        F.col("pri").alias("priority"),
        F.col("fare").alias("fare_cents"),
        F.col("next_fare").alias("next_fare_cents"),
        F.round(F.col("cum_mu"), 6).alias("agg_mean_daily"),
        (F.round(F.col("p"), 6) + F.lit(0.0)).alias("critical_p"),
        prot.alias("protection_level"),
    )


@register(
    "mokken_loevinger_h",
    """
    WITH x AS (
      SELECT user_id, event_type FROM events GROUP BY user_id, event_type),
    nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n
           FROM events),
    pop AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS t FROM x
      GROUP BY event_type),
    pairs AS (
      SELECT h.event_type AS hard_item, e.event_type AS easy_item,
             h.t AS t_hard, e.t AS t_easy
      FROM pop h JOIN pop e
        ON h.t < e.t OR (h.t = e.t AND h.event_type < e.event_type)),
    errs AS (
      SELECT p.hard_item, p.easy_item, p.t_hard, p.t_easy,
             CAST(count(*) AS BIGINT) AS f_obs
      FROM pairs p
      JOIN x a ON a.event_type = p.hard_item
      LEFT JOIN x b ON b.event_type = p.easy_item
        AND b.user_id = a.user_id
      WHERE b.user_id IS NULL
      GROUP BY 1, 2, 3, 4)
    SELECT p.hard_item, p.easy_item, p.t_hard, p.t_easy,
           coalesce(e.f_obs, 0) AS f_obs,
           round(CAST(p.t_hard AS DOUBLE) * (n.n - p.t_easy) / n.n, 6)
             AS f_expected,
           CASE WHEN p.t_hard * (n.n - p.t_easy) = 0 THEN NULL
                ELSE round(1.0 - CAST(coalesce(e.f_obs, 0) AS DOUBLE)
                     * n.n / (CAST(p.t_hard AS DOUBLE) * (n.n - p.t_easy)),
                     6) + 0.0
           END AS h_ij
    FROM pairs p
    LEFT JOIN errs e ON e.hard_item = p.hard_item
      AND e.easy_item = p.easy_item
    CROSS JOIN nu n
    """,
    tags=("psychometrics", "scalogram", "exact-arith"),
)
def q_mokken_loevinger_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loevinger H per item pair over the 5 event-type 'items' (user
    did the type at least once): a Guttman error is doing the HARDER
    (rarer) item while skipping the easier one; H_ij = 1 - F/E with E
    the independence expectation. H near 0 = no scalogram structure
    (item sets are independent), H >= 0.3 = Mokken-scalable. Exact
    integer counts, one division per pair."""
    ev = read_table(spark, sf_dir, "events")
    x = ev.select("user_id", "event_type").distinct()
    n = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("n")
    )
    pop = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("t")
    )
    h = pop.select(
        F.col("event_type").alias("hard_item"), F.col("t").alias("t_hard")
    )
    e = pop.select(
        F.col("event_type").alias("easy_item"), F.col("t").alias("t_easy")
    )
    pairs = h.join(
        F.broadcast(e),
        (F.col("t_hard") < F.col("t_easy"))
        | (
            (F.col("t_hard") == F.col("t_easy"))
            & (F.col("hard_item") < F.col("easy_item"))
        ),
    )
    xa = x.select(
        F.col("user_id").alias("ua"), F.col("event_type").alias("hard_item")
    )
    xb = x.select(
        F.col("user_id").alias("ub"), F.col("event_type").alias("easy_b")
    )
    errs = (
        pairs.join(xa, "hard_item")
        .join(
            xb,
            (F.col("easy_item") == F.col("easy_b"))
            & (F.col("ua") == F.col("ub")),
            "left",
        )
        .where(F.col("ub").isNull())
        .groupBy("hard_item", "easy_item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f_obs"))
    )
    out = (
        pairs.join(errs, ["hard_item", "easy_item"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            "hard_item",
            "easy_item",
            "t_hard",
            "t_easy",
            F.coalesce("f_obs", F.lit(0)).cast("bigint").alias("f_obs"),
            F.round(
                F.col("t_hard").cast("double")
                * (F.col("n") - F.col("t_easy"))
                / F.col("n"),
                6,
            ).alias("f_expected"),
            F.when(
                F.col("t_hard") * (F.col("n") - F.col("t_easy")) == 0,
                F.lit(None).cast("double"),
            )
            .otherwise(
                F.round(
                    1.0
                    - F.coalesce("f_obs", F.lit(0)).cast("double")
                    * F.col("n")
                    / (
                        F.col("t_hard").cast("double")
                        * (F.col("n") - F.col("t_easy"))
                    ),
                    6,
                )
                + F.lit(0.0)
            )
            .alias("h_ij"),
        )
    )
    return out
