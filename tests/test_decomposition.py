"""TICA/VAMP/DMD vs closed-form oracles (linear Koopman system fixture,
mirroring /root/reference/tests/decomposition/test_vamp.py:64-89)."""

import re
import uuid

import numpy as np
import pytest

from conftest import python_sources
from deeptime_spark.basis import Monomials
from deeptime_spark.data import trajectory_from_arrays
from deeptime_spark.data.generators import linear_koopman_system
from deeptime_spark.decomposition import DMD, EDMD, TICA, VAMP
from deeptime_spark.numeric.eigen import eig_corr, spd_inv_sqrt, spd_eig


@pytest.fixture(scope="module")
def koopman_data():
    # Substantial noise: for the VAR(1) x_{t+1} = K^T x_t + eps with K
    # symmetric, the stationary covariance commutes with K, so TICA/VAMP
    # eigen/singular values equal (|)eig(K)(|) exactly — the closed-form
    # oracle. (Near-zero noise would instead drive all canonical
    # correlations to 1: a deterministic system is perfectly predictable.)
    X, K = linear_koopman_system(d=6, n_steps=20000, noise=0.5, seed=7)
    return X, K


@pytest.fixture(scope="module")
def koopman_df(spark, koopman_data):
    return trajectory_from_arrays(spark, [koopman_data[0]])


def test_numeric_spd_utils(rng):
    A = rng.normal(size=(5, 5))
    M = A @ A.T + 0.1 * np.eye(5)
    s, V = spd_eig(M)
    np.testing.assert_allclose(V @ np.diag(s) @ V.T, M, rtol=1e-10, atol=1e-10)
    W = spd_inv_sqrt(M)
    np.testing.assert_allclose(W @ M @ W, np.eye(5), atol=1e-8)


def test_eig_corr_recovers_generalized_eigs(rng):
    A = rng.normal(size=(4, 4))
    C0 = A @ A.T + np.eye(4)
    B = rng.normal(size=(4, 4))
    Ct = 0.5 * (B + B.T) * 0.1
    vals, R = eig_corr(C0, Ct)
    for i in range(len(vals)):
        np.testing.assert_allclose(Ct @ R[:, i], vals[i] * (C0 @ R[:, i]), atol=1e-8)


def test_vamp_recovers_koopman_spectrum(spark, koopman_df, koopman_data):
    _, K = koopman_data
    true_eigs = np.sort(np.abs(np.linalg.eigvals(K)))[::-1]
    model = VAMP(lagtime=1).fit(koopman_df).fetch_model()
    # top singular values of the Koopman operator ~ |eigenvalues| for the
    # orthogonally-diagonalizable fixture
    np.testing.assert_allclose(model.singular_values[: len(true_eigs)], true_eigs, atol=0.05)


def test_tica_timescales_match_operator(spark, koopman_df, koopman_data):
    _, K = koopman_data
    true_eigs = np.sort(np.linalg.eigvals(K).real)[::-1]
    model = TICA(lagtime=1, scaling=None).fit(koopman_df).fetch_model()
    np.testing.assert_allclose(model.singular_values[:3], true_eigs[:3], atol=0.05)
    expected_ts = -1.0 / np.log(np.abs(true_eigs[:3]))
    np.testing.assert_allclose(model.timescales[:3], expected_ts, rtol=0.15)


def test_tica_transform_projects(spark, koopman_df):
    model = TICA(lagtime=1, dim=2).fit(koopman_df).fetch_model()
    out = model.transform(koopman_df, out_col="proj")
    row = out.select("proj").first()
    assert len(row["proj"]) == 2


def test_vamp_score_ordering(spark, koopman_df):
    m1 = VAMP(lagtime=1, dim=2).fit(koopman_df).fetch_model()
    m2 = VAMP(lagtime=1, dim=5).fit(koopman_df).fetch_model()
    assert m2.score(2) >= m1.score(2) - 1e-9


def test_dmd_recovers_linear_operator(spark, koopman_df, koopman_data):
    _, K = koopman_data
    model = DMD(lagtime=1).fit(koopman_df).fetch_model()
    # x_{t+1} = K^T x_t -> fitted operator A ~ K^T
    np.testing.assert_allclose(model.operator, K.T, atol=0.02)


def test_edmd_with_identity_basis_matches_dmd(spark, koopman_df, koopman_data):
    _, K = koopman_data
    model = EDMD(basis=None, lagtime=1).fit(koopman_df).fetch_model()
    np.testing.assert_allclose(np.sort(np.abs(model.eigenvalues))[::-1],
                               np.sort(np.abs(np.linalg.eigvals(K)))[::-1], atol=0.02)


def test_monomials_feature_names_and_values(spark):
    df = trajectory_from_arrays(spark, [np.array([[2.0, 3.0]])])
    mon = Monomials(p=2, d=2)
    names = mon.get_feature_names_out()
    assert names == ["1", "x0", "x1", "x0*x0", "x0*x1", "x1*x1"]
    row = mon(df, out_col="phi").select("phi").first()
    assert row["phi"] == [1.0, 2.0, 3.0, 4.0, 6.0, 9.0]


def test_vamp_score_test_covariances_and_vampe(spark, rng):
    from deeptime_spark.covariance import Covariance
    from deeptime_spark.decomposition.vamp import VAMP, vamp_score

    # AR(1) with 2 features; train/test from independent seeds
    def make_df(seed):
        rs = np.random.default_rng(seed)
        trajs = []
        for _ in range(4):
            x = np.zeros((800, 2))
            for t in range(1, 800):
                x[t] = 0.9 * x[t - 1] + 0.44 * rs.normal(size=2)
            trajs.append(x)
        return trajectory_from_arrays(spark, trajs)

    train, test = make_df(1), make_df(2)
    model = VAMP(lagtime=1).fit(train).fetch_model()
    self_score = vamp_score(model, r=2)
    cov_test = Covariance(
        lagtime=1, compute_c00=True, compute_c0t=True, compute_ctt=True, remove_data_mean=True
    ).fit_fetch(test)
    cv_score = vamp_score(model, r=2, covariances_test=cov_test)
    # same process: cross-validated score close to self score, never above
    assert cv_score <= self_score + 0.05
    assert abs(cv_score - self_score) < 0.3
    # VAMP-E self-score equals 1 + sum sigma^2 for a consistently fitted model
    e_score = vamp_score(model, r="E")
    expected = 1.0 + float(np.sum(model.singular_values**2))
    assert abs(e_score - expected) < 0.05
    # model.score('E') is the same evaluation from the model's own
    # covariances (reference parity: no test model required)
    assert model.score("E") == pytest.approx(e_score)
    assert model.score(np.inf) == pytest.approx(e_score)


def test_vamp_score_cv_folds(spark, rng):
    from deeptime_spark.decomposition.vamp import vamp_score_cv

    rs = np.random.default_rng(3)
    trajs = []
    for _ in range(6):
        x = np.zeros((500, 2))
        for t in range(1, 500):
            x[t] = 0.8 * x[t - 1] + 0.6 * rs.normal(size=2)
        trajs.append(x)
    df = trajectory_from_arrays(spark, trajs)
    scores = vamp_score_cv(df, lagtime=1, n=4, blocksize=50, random_state=7)
    assert scores.shape == (4,)
    assert np.all(np.isfinite(scores))
    # bounded by the maximal VAMP2 score for rank-2 + constant
    assert np.all(scores > 1.0) and np.all(scores <= 3.0 + 1e-6)


def test_vamp_score_cv_jobs_land_in_the_callers_group_and_do_not_grow_with_folds(spark):
    from deeptime_spark.decomposition.vamp import vamp_score_cv

    rs = np.random.default_rng(3)
    df = trajectory_from_arrays(spark, [rs.normal(size=(200, 2)) for _ in range(3)])
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = []
    try:
        for n in (2, 6):
            ungrouped = set(tracker.getJobIdsForGroup(None))
            group = f"vamp-cv-{uuid.uuid4().hex}"
            sc.setJobGroup(group, "vamp_score_cv")
            assert vamp_score_cv(df, lagtime=1, n=n, blocksize=20).shape == (n,)
            jobs.append(len(tracker.getJobIdsForGroup(group)))
            assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs[0] > 0
    assert jobs[0] == jobs[1], jobs


def test_vamp_score_cv_with_an_empty_split_names_the_fold(spark):
    from deeptime_spark.decomposition.vamp import vamp_score_cv

    # 3 frames are one block: every fold leaves its train or test split empty
    df = trajectory_from_arrays(spark, [np.arange(6.0).reshape(3, 2)])
    with pytest.raises(ValueError, match="fold 0"):
        vamp_score_cv(df, lagtime=1, n=2, blocksize=10)


def test_only_the_linkage_advisor_imports_concurrent_futures():
    sources = python_sources("deeptime_spark")
    assert sources
    pattern = re.compile(r"^\s*(from\s+concurrent\.futures\s+import|import\s+concurrent\.futures)", re.M)
    offenders = [
        path
        for path, text in sources.items()
        if path != "deeptime_spark/operators/linkage.py" and pattern.search(text)
    ]
    assert offenders == []
