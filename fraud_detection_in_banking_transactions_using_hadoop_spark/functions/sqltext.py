"""Numeric SQL-text generators shared by the query modules.

Each generator returns one expression as text that both engines parse
identically, so a query can embed it in its DuckDB oracle SQL and, via
F.expr, in its Spark program: the two sides then evaluate the same
polynomial in the same order. This module registers no queries, so
importing it never changes the registry order.
"""

from __future__ import annotations

_SQRT2 = 1.4142135623730951
_PI = 3.141592653589793

# Abramowitz-Stegun 7.1.26 erf for x >= 0 (odd extension below), as a
# text template over a double expression {x}; |err| < 1.5e-7
_ERF_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def _erf_sql(x: str) -> str:
    t = f"(1.0 / (1.0 + 0.3275911 * abs({x})))"
    poly = (
        f"((((({_ERF_A[4]!r} * {t} + {_ERF_A[3]!r}) * {t} + {_ERF_A[2]!r})"
        f" * {t} + {_ERF_A[1]!r}) * {t} + {_ERF_A[0]!r}) * {t})"
    )
    mag = f"(1.0 - {poly} * exp(-({x}) * ({x})))"
    return f"(CASE WHEN ({x}) < 0.0 THEN -{mag} ELSE {mag} END)"


# Acklam's inverse-normal rational approximation (public constants),
# shared literally by both engines. |relative error| < 1.15e-9.
_ACK_A = [-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
          1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00]
_ACK_B = [-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
          6.680131188771972e+01, -1.328068155288572e+01]
_ACK_C = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
          -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00]
_ACK_D = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
          3.754408661907416e+00]
_P_LOW = 0.02425


def _acklam_sql(p: str) -> str:
    """Inverse normal CDF as one SQL CASE (Acklam), for probability
    expression `p` in (0, 1). Horner-form polynomials, identical text
    for both engines."""
    a, b, c, d = _ACK_A, _ACK_B, _ACK_C, _ACK_D

    def horner(coeffs, x):
        expr = f"{coeffs[0]!r}"
        for co in coeffs[1:]:
            expr = f"({expr} * {x} + {co!r})"
        return expr

    ql = f"sqrt(-2.0 * ln({p}))"
    qh = f"sqrt(-2.0 * ln(1.0 - ({p})))"
    qc = f"(({p}) - 0.5)"
    rc = f"({qc} * {qc})"
    low = f"({horner(c, ql)} / ({horner(d, ql)} * {ql} + 1.0))"
    high = f"(-{horner(c, qh)} / ({horner(d, qh)} * {qh} + 1.0))"
    cen = (
        f"({horner(a, rc)} * {qc} / ({horner(b, rc)} * {rc} + 1.0))"
    )
    return (
        f"CASE WHEN ({p}) < {_P_LOW!r} THEN {low} "
        f"WHEN ({p}) > {1 - _P_LOW!r} THEN {high} "
        f"ELSE {cen} END"
    )
