"""ext122: literal numpy re-derivations -- distance correlation via
full double-centered matrices, partial correlation via residual
correlation (not the 3-r identity), EW correlation via raw float
weights."""

from __future__ import annotations

import numpy as np
import pytest

from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext120 import _daily_spark
from fraud_detection_in_banking_transactions_using_hadoop_spark.queries_ext122 import (
    _EWM_R,
    q_distance_correlation_daily,
    q_ewm_corr_daily,
    q_partial_correlation_daily,
)


def _series(spark, sf_dir):
    rows = _daily_spark(spark, sf_dir).collect()
    rows.sort(key=lambda r: r["d"])
    x = np.array([r["x"] for r in rows], dtype=np.float64)
    y = np.array([r["y"] for r in rows], dtype=np.float64)
    ds = [r["d"] for r in rows]
    return ds, x, y


def test_distance_correlation_matches_matrix_form(spark, sf_dir):
    got = q_distance_correlation_daily(spark, sf_dir).collect()[0]
    _, x, y = _series(spark, sf_dir)
    n = len(x)
    assert got["n_days"] == n
    ax = np.abs(x[:, None] - x[None, :])
    ay = np.abs(y[:, None] - y[None, :])

    def dcov2(a, b):
        # V-statistic form: S1 + S2 - 2*S3
        s1 = (a * b).mean()
        s2 = a.mean() * b.mean()
        s3 = (a.mean(axis=1) * b.mean(axis=1)).mean()
        return s1 + s2 - 2 * s3

    dxy, dxx, dyy = dcov2(ax, ay), dcov2(ax, ax), dcov2(ay, ay)
    dcor = np.sqrt(dxy / np.sqrt(dxx * dyy))
    assert got["dcor"] == pytest.approx(dcor, abs=2e-6)
    assert got["dcov2_count_dollars"] == pytest.approx(dxy / 100, rel=1e-6, abs=1e-6)
    assert got["dvar_count"] == pytest.approx(dxx, rel=1e-6, abs=1e-6)
    assert got["dsd_revenue_dollars"] == pytest.approx(
        np.sqrt(dyy) / 100, rel=1e-6, abs=1e-6
    )
    assert 0.0 < got["dcor"] <= 1.0
    # the alternative centered-matrix formulation must agree (identity)
    A = ax - ax.mean(axis=0) - ax.mean(axis=1)[:, None] + ax.mean()
    B = ay - ay.mean(axis=0) - ay.mean(axis=1)[:, None] + ay.mean()
    assert (A * B).mean() == pytest.approx(dxy, rel=1e-9)


def test_partial_correlation_matches_residual_corr(spark, sf_dir):
    got = q_partial_correlation_daily(spark, sf_dir).collect()[0]
    _, x, y = _series(spark, sf_dir)
    z = np.floor_divide(y.astype(np.int64), x.astype(np.int64)).astype(
        np.float64
    )
    # residual-based definition: corr of (x | z) and (y | z) residuals
    def resid(v):
        b = np.cov(v, z, bias=True)[0, 1] / np.var(z)
        return v - b * z

    want = np.corrcoef(resid(x), resid(y))[0, 1]
    assert got["partial_r_given_aov"] == pytest.approx(want, abs=2e-6)
    for c in ("r_count_revenue", "r_count_aov", "r_revenue_aov"):
        assert -1.0 <= got[c] <= 1.0
    assert got["r_count_revenue"] == pytest.approx(
        np.corrcoef(x, y)[0, 1], abs=1e-6
    )


def test_ewm_corr_matches_raw_float_weights(spark, sf_dir):
    got = q_ewm_corr_daily(spark, sf_dir).collect()[0]
    ds, x, y = _series(spark, sf_dir)
    dmax = max(ds)
    w = np.array([_EWM_R ** (dmax - d).days for d in ds])
    sw = w.sum()
    mx, my = (w * x).sum() / sw, (w * y).sum() / sw
    cov = (w * (x - mx) * (y - my)).sum() / sw
    vx = (w * (x - mx) ** 2).sum() / sw
    vy = (w * (y - my) ** 2).sum() / sw
    want = cov / np.sqrt(vx * vy)
    # e6 weight grid vs raw float weights: small quantization tolerance
    assert got["ewm_corr"] == pytest.approx(want, abs=5e-4)
    assert got["n_days"] == len(ds)
    assert 0 < got["n_effective_days"] <= got["n_days"]
