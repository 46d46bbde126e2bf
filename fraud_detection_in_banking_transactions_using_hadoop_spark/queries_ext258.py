"""Extension batch 258 (round 12): the HMM FORWARD (filtering) pass and
eigenvector centrality -- two classical gaps next to existing machinery
(Viterbi decodes the same 2-state HMM; PageRank/stationary-distribution
power iterations exist but Bonacich eigenvector centrality did not).

- hmm_forward_filter: the scaled forward algorithm over the SAME
  bull/bear HMM viterbi_regime_decode fits (ext187 literals: stay 0.9,
  bear/bull P(up) 0.35/0.65, uniform prior) on the last 365 daily
  up/down signs: per step the probability-space alphas are normalized
  by c_t, total log-likelihood = sum ln c_t, and the filtered P(bull)
  is e9-quantized per step into an exact integer running sum (the
  average occupancy). Calendar-bounded driver fold mirrored float-op-
  for-float-op by a recursive-CTE oracle (the garch/kalman class).
  Law: the forward (sum-product) log-likelihood dominates Viterbi's
  best-path (max-product) score -- pytest-pinned.

- eigenvector_centrality: Bonacich centrality of the FULL symmetric
  nation trade graph (no top-k sparsification -- the matrix is 25x25
  and positive, so the Perron vector is unique): exact-integer weight
  matrix collected once, 30 power-iteration rounds with list-valued
  state in the oracle (nested list_transform lambdas + list_reduce
  sequential sums, so the double stream is order-identical to the
  Python mirror), L2-normalized scores in e9.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext177 import _DAILY_SQL
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext187 import _V_DAYS
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

# the ext187 HMM in probability space (its literals are ln-space)
_T_STAY, _T_SWITCH = 0.9, 0.1
_E0_UP, _E0_DN = 0.35, 0.65  # bear
_E1_UP, _E1_DN = 0.65, 0.35  # bull
_PRIOR = 0.5


def hmm_forward_fold(signs):
    """Scaled forward pass mirroring the oracle: returns
    (ll, a0, a1, bull_e9_sum, n). Normalization at every step keeps the
    alphas in (0,1); ll accumulates ln c_t sequentially."""
    s = signs[0]
    a0 = _PRIOR * (_E0_UP if s == 1 else _E0_DN)
    a1 = _PRIOR * (_E1_UP if s == 1 else _E1_DN)
    c = a0 + a1
    a0, a1 = a0 / c, a1 / c
    ll = math.log(c)
    bsum = int(math.floor(a1 * 1e9 + 0.5))
    for s in signs[1:]:
        e0 = _E0_UP if s == 1 else _E0_DN
        e1 = _E1_UP if s == 1 else _E1_DN
        n0 = (a0 * _T_STAY + a1 * _T_SWITCH) * e0
        n1 = (a0 * _T_SWITCH + a1 * _T_STAY) * e1
        c = n0 + n1
        a0, a1 = n0 / c, n1 / c
        ll = ll + math.log(c)
        bsum += int(math.floor(a1 * 1e9 + 0.5))
    return ll, a0, a1, bsum, len(signs)


def _d(x: float) -> str:
    return f"CAST({x!r} AS DOUBLE)"


def _fwd_oracle() -> str:
    e0 = f"CASE WHEN {{s}} = 1 THEN {_d(_E0_UP)} ELSE {_d(_E0_DN)} END"
    e1 = f"CASE WHEN {{s}} = 1 THEN {_d(_E1_UP)} ELSE {_d(_E1_DN)} END"
    return f"""
    WITH RECURSIVE {_DAILY_SQL},
    win AS (
      SELECT d, cents FROM daily
      WHERE d > (SELECT max(d) - INTERVAL {_V_DAYS} DAY FROM daily)),
    sgn AS (
      SELECT d,
             CASE WHEN cents > lag(cents) OVER (ORDER BY d)
                  THEN 1 ELSE 0 END AS s,
             lag(cents) OVER (ORDER BY d) IS NOT NULL AS ok
      FROM win),
    arr AS MATERIALIZED (
      SELECT list(s ORDER BY d) AS ss, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(s) AS BIGINT) AS n_up
      FROM sgn WHERE ok),
    rec AS (
      SELECT 1 AS i,
             ({_d(_PRIOR)} * {e0.format(s='ss[1]')})
               / ({_d(_PRIOR)} * {e0.format(s='ss[1]')}
                  + {_d(_PRIOR)} * {e1.format(s='ss[1]')}) AS a0,
             ({_d(_PRIOR)} * {e1.format(s='ss[1]')})
               / ({_d(_PRIOR)} * {e0.format(s='ss[1]')}
                  + {_d(_PRIOR)} * {e1.format(s='ss[1]')}) AS a1,
             ln({_d(_PRIOR)} * {e0.format(s='ss[1]')}
                + {_d(_PRIOR)} * {e1.format(s='ss[1]')}) AS ll,
             CAST(floor(({_d(_PRIOR)} * {e1.format(s='ss[1]')})
               / ({_d(_PRIOR)} * {e0.format(s='ss[1]')}
                  + {_d(_PRIOR)} * {e1.format(s='ss[1]')}) * 1e9 + 0.5)
               AS BIGINT) AS bsum
      FROM arr
      UNION ALL
      SELECT i + 1, n0 / c, n1 / c, ll + ln(c),
             bsum + CAST(floor(n1 / c * 1e9 + 0.5) AS BIGINT)
      FROM (
        SELECT r.i, r.ll, r.bsum, n0, n1, n0 + n1 AS c
        FROM (
          SELECT r.i, r.ll, r.bsum,
                 (r.a0 * {_d(_T_STAY)} + r.a1 * {_d(_T_SWITCH)})
                   * {e0.format(s='a.ss[r.i + 1]')} AS n0,
                 (r.a0 * {_d(_T_SWITCH)} + r.a1 * {_d(_T_STAY)})
                   * {e1.format(s='a.ss[r.i + 1]')} AS n1
          FROM rec r, arr a WHERE r.i < a.n) r)),
    folded AS (
      SELECT a.n, a.n_up, r.a1, r.ll, r.bsum
      FROM rec r CROSS JOIN arr a WHERE r.i = a.n)
    SELECT n AS n_obs, n_up AS n_up_days,
           CAST(floor(ll * 1e6 + 0.5) AS BIGINT) AS log_lik_e6,
           CAST(floor(a1 * 1e9 + 0.5) AS BIGINT) AS p_bull_final_e9,
           CAST(bsum // n AS BIGINT) AS avg_bull_e9
    FROM folded
    """


@register(
    "hmm_forward_filter",
    _fwd_oracle(),
    tags=("timeseries", "hmm", "fold", "exact-arith"),
)
def q_hmm_forward_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scaled forward filtering of the bull/bear HMM over the last 365
    daily revenue signs (module docstring): calendar-bounded driver
    fold mirroring the recursive-CTE oracle exactly."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.fold import (
        collect_nonempty,
    )

    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .orderBy("d")
    )
    rows = collect_nonempty(daily, "hmm daily revenue")
    maxd = rows[-1]["d"]
    import datetime

    cutoff = maxd - datetime.timedelta(days=_V_DAYS)
    win = [(r["d"], int(r["cents"])) for r in rows if r["d"] > cutoff]
    signs = [
        1 if win[i][1] > win[i - 1][1] else 0 for i in range(1, len(win))
    ]
    n_up = sum(signs)
    ll, _a0, a1, bsum, n = hmm_forward_fold(signs)
    row = (
        n,
        n_up,
        int(math.floor(ll * 1e6 + 0.5)),
        int(math.floor(a1 * 1e9 + 0.5)),
        bsum // n,
    )
    return spark.createDataFrame(
        [row],
        "n_obs long, n_up_days long, log_lik_e6 long,"
        " p_bull_final_e9 long, avg_bull_e9 long",
    )


# ---------------------------------------------------------------------------
# Eigenvector centrality of the nation trade graph
# ---------------------------------------------------------------------------

_EC_ROUNDS = 30


def eigencentrality_fold(nodes, wmap, rounds=_EC_ROUNDS):
    """Power iteration on the dense symmetric weight matrix, mirroring
    the oracle's list_reduce sequential sums: dot terms accumulate
    left-to-right starting from the first term."""
    n = len(nodes)
    mat = [
        [float(wmap.get((nodes[i], nodes[j]), 0)) for j in range(n)]
        for i in range(n)
    ]
    v = [1.0] * n
    for _ in range(rounds):
        w = []
        for i in range(n):
            terms = [mat[i][j] * v[j] for j in range(n)]
            acc = terms[0]
            for t in terms[1:]:
                acc = acc + t
            w.append(acc)
        sq = [x * x for x in w]
        acc = sq[0]
        for t in sq[1:]:
            acc = acc + t
        nrm = math.sqrt(acc)
        v = [x / nrm for x in w]
    return v


_EC_SQL = f"""
    WITH RECURSIVE pay AS (
      SELECT c.c_nationkey AS na, s.s_nationkey AS nb,
             CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2),
    sym AS MATERIALIZED (
      SELECT na AS i, nb AS j, CAST(sum(cnt) AS BIGINT) AS w
      FROM (SELECT na, nb, cnt FROM pay
            UNION ALL SELECT nb, na, cnt FROM pay) x
      WHERE na <> nb GROUP BY 1, 2),
    nodes AS MATERIALIZED (
      SELECT node, row_number() OVER (ORDER BY node) AS rk
      FROM (SELECT DISTINCT i AS node FROM sym)),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    dense AS MATERIALIZED (
      SELECT a.rk AS ri,
             list(coalesce(CAST(s.w AS DOUBLE), CAST(0 AS DOUBLE))
                  ORDER BY b.rk) AS rw
      FROM nodes a
      CROSS JOIN nodes b
      LEFT JOIN sym s ON s.i = a.node AND s.j = b.node
      GROUP BY a.rk),
    mat AS MATERIALIZED (SELECT list(rw ORDER BY ri) AS m FROM dense),
    it AS (
      SELECT CAST(0 AS BIGINT) AS r,
             list_transform(range(1, n + 1),
                            k -> CAST(1 AS DOUBLE)) AS v
      FROM nn
      UNION ALL
      SELECT r + 1, list_transform(w, x -> x / nrm)
      FROM (
        SELECT r, w,
               sqrt(list_reduce(list_transform(w, x -> x * x),
                                (acc, t) -> acc + t)) AS nrm
        FROM (
          SELECT it.r,
                 list_transform(range(1, nn.n + 1),
                   i -> list_reduce(
                          list_transform(range(1, nn.n + 1),
                            j -> m.m[i][j] * it.v[j]),
                          (acc, t) -> acc + t)) AS w
          FROM it, mat m, nn WHERE it.r < {_EC_ROUNDS}))),
    fin AS (SELECT v FROM it WHERE r = {_EC_ROUNDS})
    SELECT CAST(nd.node AS INTEGER) AS nation,
           CAST(floor(f.v[CAST(nd.rk AS INTEGER)] * 1e9 + 0.5) AS BIGINT)
             AS centrality_e9,
           CAST(row_number() OVER (
             ORDER BY f.v[CAST(nd.rk AS INTEGER)] DESC, nd.node)
             AS BIGINT) AS rank
    FROM nodes nd CROSS JOIN fin f
    ORDER BY rank
    """


@register(
    "eigenvector_centrality",
    _EC_SQL,
    tags=("graph", "centrality", "spectral", "exact-arith"),
)
def q_eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bonacich eigenvector centrality of the full symmetric nation
    trade graph (module docstring): distributed exact-integer weight
    matrix, bounded 30-round power-iteration driver fold mirroring the
    list-state recursive-CTE oracle, e9 L2-normalized scores."""
    from fraud_detection_in_banking_transactions_using_hadoop_spark.operators.fold import (
        collect_nonempty,
    )

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    pay = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("na"),
            F.col("s_nationkey").alias("nb"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    sym_rows = collect_nonempty(
        pay.select("na", "nb", "cnt")
        .unionAll(
            pay.select(
                F.col("nb").alias("na"), F.col("na").alias("nb"), "cnt"
            )
        )
        .where(F.col("na") != F.col("nb"))
        .groupBy(F.col("na").alias("i"), F.col("nb").alias("j"))
        .agg(F.sum("cnt").cast("bigint").alias("w")),
        "trade-graph nation edges",
    )
    wmap = {(int(r["i"]), int(r["j"])): int(r["w"]) for r in sym_rows}
    nodes = sorted({k[0] for k in wmap})
    v = eigencentrality_fold(nodes, wmap)
    order = sorted(range(len(nodes)), key=lambda k: (-v[k], nodes[k]))
    rank = {k: pos + 1 for pos, k in enumerate(order)}
    rows = [
        (nodes[k], int(math.floor(v[k] * 1e9 + 0.5)), rank[k])
        for k in range(len(nodes))
    ]
    rows.sort(key=lambda t: t[2])
    return spark.createDataFrame(
        rows, "nation int, centrality_e9 long, rank long"
    )
