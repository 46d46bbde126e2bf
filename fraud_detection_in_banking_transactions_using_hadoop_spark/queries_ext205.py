"""Extension batch 205 (round 8): probit regression -- the third GLM
link (after ext137's logit and log), completing the binary-response
family: P(returnflag = 'R') = Phi(b0 + b1 * standardized price),
fitted by 4 Fisher-scoring rounds over the same weighted (value,
label, count) spine logistic_newton_1d uses, so link choice is
directly comparable on identical data.

Cross-engine discipline (the ext137 + ext141 patterns combined): Phi
is the shared Abramowitz-Stegun erf polynomial (literal coefficients,
identical text both engines), phi the explicit 1/sqrt(2pi) Gaussian;
Phi is clamped to [1e-10, 1-1e-10] identically so the Mills-ratio
weights never divide by zero; every gradient/information term is
e9-quantized to an integer BEFORE the sum (engine-order-free); each
round's state is a 1-row coefficient frame, localCheckpointed (EAGER
class). Both engines run the same 4 rounds from the same (0, 0)
start, so the outputs agree whether or not the fit has fully
converged."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fraud_detection_in_banking_transactions_using_hadoop_spark.functions.sqltext import _erf_sql
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries import register
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources.readers import read_table

_DEC = "decimal(38,0)"
_N_ROUNDS = 4
_E9_SQL = "CAST(floor(({t}) * 1e9 + 0.5) AS HUGEINT)"
_INV_SQRT2PI = "0.3989422804014327"
_INV_SQRT2 = "0.7071067811865476"


def _probit_terms(vp: str, bp: str) -> dict[str, str]:
    """Shared expression texts over a spine row (prefix vp) and a
    coefficient row (prefix bp): x, eta, phi, clamped Phi, the score
    factor u and the Fisher weight lam."""
    x = f"((CAST({vp}v AS DOUBLE) - {bp}mu) / {bp}sg)"
    eta = f"({bp}b0 + {bp}b1 * {x})"
    phi = f"({_INV_SQRT2PI} * exp(-0.5 * {eta} * {eta}))"
    big_phi = (
        f"least(greatest(0.5 * (1.0 + {_erf_sql(f'{eta} * {_INV_SQRT2}')}),"
        f" 1e-10), 1.0 - 1e-10)"
    )
    u = f"({phi} * (CAST({vp}y AS DOUBLE) - {big_phi})" \
        f" / ({big_phi} * (1.0 - {big_phi})))"
    lam = f"({phi} * {phi} / ({big_phi} * (1.0 - {big_phi})))"
    return {"x": x, "phi": phi, "Phi": big_phi, "u": u, "lam": lam}


def _probit_round_sql(i: int) -> str:
    t = _probit_terms("s.", "b.")
    c = "CAST(s.c AS DOUBLE)"
    return f"""
    stat{i} AS (
      SELECT b.b0, b.b1, b.mu, b.sg,
             sum({_E9_SQL.format(t=f"{c} * {t['u']}")}) AS g0,
             sum({_E9_SQL.format(t=f"{c} * {t['u']} * {t['x']}")}) AS g1,
             sum({_E9_SQL.format(t=f"{c} * {t['lam']}")}) AS h00,
             sum({_E9_SQL.format(t=f"{c} * {t['lam']} * {t['x']}")}) AS h01,
             sum({_E9_SQL.format(t=f"{c} * {t['lam']} * {t['x']} * {t['x']}")})
               AS h11
      FROM spine s CROSS JOIN it{i} b
      GROUP BY b.b0, b.b1, b.mu, b.sg),
    it{i + 1} AS (
      SELECT mu, sg,
             b0 + (CAST(h11 AS DOUBLE) * g0 - CAST(h01 AS DOUBLE) * g1)
                  / (CAST(h00 AS DOUBLE) * CAST(h11 AS DOUBLE)
                     - CAST(h01 AS DOUBLE) * CAST(h01 AS DOUBLE)) AS b0,
             b1 + (CAST(h00 AS DOUBLE) * g1 - CAST(h01 AS DOUBLE) * g0)
                  / (CAST(h00 AS DOUBLE) * CAST(h11 AS DOUBLE)
                     - CAST(h01 AS DOUBLE) * CAST(h01 AS DOUBLE)) AS b1
      FROM stat{i})
    """


def _dev_terms(vp: str, bp: str) -> str:
    t = _probit_terms(vp, bp)
    return (
        f"CAST({vp}c AS DOUBLE) * ({vp}y * ln({t['Phi']})"
        f" + (1 - {vp}y) * ln(1.0 - {t['Phi']}))"
    )


_PROBIT_SQL = (
    """
    WITH spine AS MATERIALIZED (
      SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2),
    mom AS (
      SELECT CAST(sum(c) AS HUGEINT) AS n,
             CAST(sum(CAST(v AS HUGEINT) * c) AS HUGEINT) AS sx,
             CAST(sum(CAST(v AS HUGEINT) * v * c) AS HUGEINT) AS sxx,
             CAST(sum(y * c) AS HUGEINT) AS sy
      FROM spine),
    it0 AS (
      SELECT CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
             sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / CAST(n AS DOUBLE)
               AS sg,
             0.0 AS b0, 0.0 AS b1
      FROM mom),
    """
    + f"""
    {",".join(_probit_round_sql(i).strip() for i in range(_N_ROUNDS))},
    dev AS (
      SELECT sum({_E9_SQL.format(t=_dev_terms("s.", "b."))}) AS ll
      FROM spine s CROSS JOIN it{_N_ROUNDS} b),
    ll0 AS (
      SELECT sum({_E9_SQL.format(
          t="CAST(s.c AS DOUBLE) * (s.y * ln(CAST(m.sy AS DOUBLE)"
            " / CAST(m.n AS DOUBLE)) + (1 - s.y)"
            " * ln(1.0 - CAST(m.sy AS DOUBLE) / CAST(m.n AS DOUBLE)))")})
        AS ll
      FROM spine s CROSS JOIN mom m)
    SELECT CAST(m.n AS BIGINT) AS n_rows,
           round(b.b0, 6) + 0.0 AS beta0,
           round(b.b1, 6) + 0.0 AS beta1_per_sd,
           round({_INV_SQRT2PI} * exp(-0.5 * b.b0 * b.b0) * b.b1, 6) + 0.0
             AS marginal_effect_at_mean,
           round(-2.0 * CAST(d.ll AS DOUBLE) / 1e9, 6) AS deviance,
           round(1.0 - CAST(d.ll AS DOUBLE) / CAST(z.ll AS DOUBLE), 6) + 0.0
             AS mcfadden_r2
    FROM mom m CROSS JOIN it{_N_ROUNDS} b CROSS JOIN dev d CROSS JOIN ll0 z
    """
)


@register(
    "probit_newton_1d",
    _PROBIT_SQL,
    tags=("ml", "glm", "exact-arith"),
)
def q_probit_newton_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probit regression of P(returnflag = 'R') on standardized
    extended price by 4 Fisher-scoring rounds (expected information;
    Mills-ratio score) over the weighted value/label spine -- the same
    data logistic_newton_1d fits, so the classic ~1.6x logit/probit
    slope ratio is directly checkable (and pinned in the invariant
    suite). Emits coefficients, the marginal effect phi(b0)*b1 at the
    mean, deviance, and McFadden's R^2."""
    li = read_table(spark, sf_dir, "lineitem")
    spine = (
        li.select(
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("bigint")
            .alias("v"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        )
        .groupBy("v", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    # r13: the literal driver-fold applied to logistic_newton_1d
    # (ext137) -- moments and Fisher-scoring iterates are bounded
    # scalars; the shared expression TEXTS are unchanged (b0/b1/mu/sg
    # are provided as literal COLUMNS of the same names), so every
    # per-row double op is bit-identical; updates are pure IEEE +-*/
    # on exact DECIMAL sums. Saves 6 checkpoint jobs + the broadcast
    # builds, and fuses deviance + null likelihood into one aggregate.
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
    b0, b1 = 0.0, 0.0

    t = _probit_terms("", "")
    x_t, u_t, lam_t = t["x"], t["u"], t["lam"]
    cd = "CAST(c AS DOUBLE)"

    def _sume9(term: str):
        # Spark-side twin of _E9_SQL (HUGEINT is DuckDB-only)
        spark_e9 = f"CAST(floor(({term}) * 1e9 + 0.5) AS DECIMAL(38,0))"
        return F.expr("sum(" + spark_e9 + ")").cast(_DEC)

    def _with_coefs(df):
        return (
            df.withColumn("b0", F.lit(b0))
            .withColumn("b1", F.lit(b1))
            .withColumn("mu", F.lit(mu))
            .withColumn("sg", F.lit(sg))
        )

    for _ in range(_N_ROUNDS):
        st = _with_coefs(spine).agg(
            _sume9(cd + " * " + u_t).alias("g0"),
            _sume9(cd + " * " + u_t + " * " + x_t).alias("g1"),
            _sume9(cd + " * " + lam_t).alias("h00"),
            _sume9(cd + " * " + lam_t + " * " + x_t).alias("h01"),
            _sume9(cd + " * " + lam_t + " * " + x_t + " * " + x_t).alias(
                "h11"
            ),
        ).first()
        g0, g1, h00, h01, h11 = (
            float(st[k]) for k in ("g0", "g1", "h00", "h01", "h11")
        )
        det = h00 * h11 - h01 * h01
        b0, b1 = b0 + (h11 * g0 - h01 * g1) / det, b1 + (
            h00 * g1 - h01 * g0
        ) / det

    lik = (
        _with_coefs(spine)
        .withColumn("sy", F.lit(sy_i).cast("bigint"))
        .withColumn("n", F.lit(n_i).cast("bigint"))
        .agg(
            _sume9(_dev_terms("", "")).alias("ll"),
            _sume9(
                "CAST(c AS DOUBLE) * (y * ln(CAST(sy AS DOUBLE)"
                " / CAST(n AS DOUBLE)) + (1 - y)"
                " * ln(1.0 - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))"
            ).alias("ll_null"),
        )
    )
    return (
        lik.withColumn("b0", F.lit(b0))
        .withColumn("b1", F.lit(b1))
        .select(
            F.lit(n_i).cast("bigint").alias("n_rows"),
            (F.round(F.col("b0"), 6) + 0.0).alias("beta0"),
            (F.round(F.col("b1"), 6) + 0.0).alias("beta1_per_sd"),
            (
                F.round(
                    F.expr(
                        f"{_INV_SQRT2PI} * exp(-0.5 * b0 * b0) * b1"
                    ),
                    6,
                )
                + 0.0
            ).alias("marginal_effect_at_mean"),
            F.round(
                -2.0 * F.col("ll").cast("double") / 1e9, 6
            ).alias("deviance"),
            (
                F.round(
                    1.0
                    - F.col("ll").cast("double")
                    / F.col("ll_null").cast("double"),
                    6,
                )
                + 0.0
            ).alias("mcfadden_r2"),
        )
    )
