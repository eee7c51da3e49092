"""Covariance/moments vs numpy oracles (reference algebra re-run in numpy,
mirroring the reference's own test tolerances: SURVEY.md §5)."""

import numpy as np
import pytest

from deeptime_spark.covariance import Covariance, KoopmanWeightingEstimator
from deeptime_spark.data import trajectory_from_arrays
from deeptime_spark.operators.moments import _moments_arrow, _moments_expr, feature_dim


@pytest.fixture(scope="module")
def data():
    rng = np.random.default_rng(42)
    return [rng.normal(size=(500, 4)) @ np.diag([1.0, 2.0, 0.5, 3.0]), rng.normal(size=(300, 4))]


@pytest.fixture(scope="module")
def df(spark, data):
    return trajectory_from_arrays(spark, data)


def _np_lagged(data, tau):
    X = np.concatenate([d[:-tau] for d in data])
    Y = np.concatenate([d[tau:] for d in data])
    return X, Y


def test_c00_matches_numpy(spark, df, data):
    model = Covariance(lagtime=0, compute_c00=True).fit_fetch(df)
    X = np.concatenate(data)
    expected = np.cov(X.T, ddof=1)
    np.testing.assert_allclose(model.cov_00, expected, rtol=1e-10, atol=1e-12)
    np.testing.assert_allclose(model.mean_0, X.mean(axis=0), rtol=1e-10)


def test_lagged_covariances_match_numpy(spark, df, data):
    tau = 5
    model = Covariance(lagtime=tau, compute_c00=True, compute_c0t=True, compute_ctt=True).fit_fetch(df)
    X, Y = _np_lagged(data, tau)
    w = len(X)
    mx, my = X.mean(axis=0), Y.mean(axis=0)
    c0t = (X - mx).T @ (Y - my) / (w - 1)
    np.testing.assert_allclose(model.cov_0t, c0t, rtol=1e-8, atol=1e-12)
    c00 = np.cov(X.T, ddof=1)
    np.testing.assert_allclose(model.cov_00, c00, rtol=1e-8, atol=1e-12)


def test_reversible_symmetrization(spark, df, data):
    tau = 2
    model = Covariance(lagtime=tau, compute_c00=True, compute_c0t=True, reversible=True).fit_fetch(df)
    np.testing.assert_allclose(model.cov_0t, model.cov_0t.T, atol=1e-12)
    X, Y = _np_lagged(data, tau)
    w = len(X)
    mean = 0.5 * (X.mean(axis=0) + Y.mean(axis=0))
    mxy = 0.5 * (X.T @ Y + Y.T @ X)
    c0t = (mxy - w * np.outer(mean, mean)) / (w - 1)
    np.testing.assert_allclose(model.cov_0t, c0t, rtol=1e-8, atol=1e-10)


def test_no_bessel_no_mean_removal(spark, df, data):
    model = Covariance(lagtime=0, remove_data_mean=False, bessels_correction=False).fit_fetch(df)
    X = np.concatenate(data)
    np.testing.assert_allclose(model.cov_00, X.T @ X / len(X), rtol=1e-10)


def test_weighted_covariance(spark, data, rng):
    weights = [np.abs(rng.random(len(d))) + 0.1 for d in data]
    wdf = trajectory_from_arrays(spark, data, weights=weights)
    model = Covariance(lagtime=0, weight_col="weight", bessels_correction=False).fit_fetch(wdf)
    X = np.concatenate(data)
    w = np.concatenate(weights)
    mx = (w[:, None] * X).sum(axis=0) / w.sum()
    expected = ((X - mx) * w[:, None]).T @ (X - mx) / w.sum()
    np.testing.assert_allclose(model.cov_00, expected, rtol=1e-8, atol=1e-12)


def test_partial_fit_merges_like_single_pass(spark, data):
    df1 = trajectory_from_arrays(spark, [data[0]])
    df2 = trajectory_from_arrays(spark, [data[1]])
    est = Covariance(lagtime=0)
    est.partial_fit(df1).partial_fit(df2)
    merged = est.fetch_model()
    X = np.concatenate(data)
    np.testing.assert_allclose(merged.cov_00, np.cov(X.T, ddof=1), rtol=1e-10)


def test_arrow_path_matches_expr_path(spark, df):
    d = feature_dim(df, "x")
    m_expr = _moments_expr(df, "x", None, None, d, d, True, True)
    m_arrow = _moments_arrow(df, "x", None, None, d, d, True, True)
    assert abs(m_expr.weight_sum - m_arrow.weight_sum) < 1e-9
    np.testing.assert_allclose(m_expr.sx, m_arrow.sx, rtol=1e-10)
    np.testing.assert_allclose(m_expr.mxx, m_arrow.mxx, rtol=1e-10)


def test_koopman_weighting_uniform_on_equilibrium_data(spark, rng):
    # iid data is already in equilibrium -> weights should be ~uniform (=1)
    data = rng.normal(size=(4000, 3))
    kdf = trajectory_from_arrays(spark, [data])
    est = KoopmanWeightingEstimator(lagtime=1).fit(kdf)
    wdf = est.model.transform(kdf)
    ws = np.array([r["weight"] for r in wdf.collect()])
    assert abs(ws.mean() - 1.0) < 0.05
    assert ws.std() < 0.2
