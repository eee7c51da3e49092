"""Markov layer vs closed-form oracles (BirthDeathChain exact analytics,
count-matrix doctest semantics from _transition_counting.py:617-623)."""

import numpy as np
import pytest

from deeptime_spark.data import dtraj_from_arrays
from deeptime_spark.data.generators import BirthDeathChain, simulate_msm, double_well_discrete_tmatrix
from deeptime_spark.markov import (
    MarkovStateModel,
    MaximumLikelihoodMSM,
    BayesianMSM,
    TransitionCountEstimator,
    count_states,
    pcca,
    reactive_flux,
)
from deeptime_spark.markov import analysis
from deeptime_spark.markov.msm import transition_matrix_reversible, transition_matrix_nonreversible


@pytest.fixture(scope="module")
def bdc():
    n = 7
    q = np.zeros(n)
    p = np.zeros(n)
    q[1:] = 0.4
    p[:-1] = 0.3
    # asymmetric chain -> nonuniform stationary distribution
    p[0], q[-1] = 0.2, 0.5
    return BirthDeathChain(q, p)


@pytest.fixture(scope="module")
def bdc_dtraj_df(spark, bdc):
    traj = simulate_msm(bdc.transition_matrix, 100_000, start=3, seed=11)
    return dtraj_from_arrays(spark, [traj])


def test_count_matrix_doctest_semantics(spark):
    # reference doctest (_transition_counting.py:617-623): dtraj [0,1,0,1,0]
    # lag 1 sliding -> C = [[0,2],[2,0]]
    df = dtraj_from_arrays(spark, [np.array([0, 1, 0, 1, 0])])
    C = TransitionCountEstimator(lagtime=1, count_mode="sliding").fit(df).fetch_model().count_matrix
    np.testing.assert_array_equal(C, [[0.0, 2.0], [2.0, 0.0]])


def test_count_modes_differ_by_windowing(spark):
    dtraj = np.array([0, 0, 1, 1, 0, 0, 1, 1, 0, 0])
    df = dtraj_from_arrays(spark, [dtraj])
    sliding = TransitionCountEstimator(lagtime=2, count_mode="sliding").fit(df).fetch_model()
    sample = TransitionCountEstimator(lagtime=2, count_mode="sample").fit(df).fetch_model()
    assert sliding.count_matrix.sum() == 8  # T - tau pairs
    assert sample.count_matrix.sum() == 4  # floor((T-1)/tau) pairs at t=0,2,4,6
    eff = TransitionCountEstimator(lagtime=2, count_mode="sliding-effective").fit(df).fetch_model()
    np.testing.assert_allclose(eff.count_matrix, sliding.count_matrix / 2.0)


def test_counts_exclude_negative_states(spark):
    df = dtraj_from_arrays(spark, [np.array([0, -1, 1, 0, 1])])
    model = TransitionCountEstimator(lagtime=1).fit(df).fetch_model()
    # pairs: (0,-1)x (-1,1)x (1,0) (0,1) -> only 2 valid
    assert model.count_matrix.sum() == 2


def test_count_states_histogram(spark):
    df = dtraj_from_arrays(spark, [np.array([0, 0, 2, 1, 1, 1])])
    hist = count_states(df)
    np.testing.assert_array_equal(hist, [2, 3, 1])


def test_count_states_raises_on_negative_states_unless_ignored(spark):
    # states 0, 1, 2 once each and three unassigned (-1) frames: the -1
    # count once landed in state 2's slot through numpy's negative index
    df = dtraj_from_arrays(spark, [np.array([0, -1, 1, -1, 2, -1])])
    np.testing.assert_array_equal(count_states(df), [1, 1, 1])
    with pytest.raises(ValueError, match="negative"):
        count_states(df, ignore_negative=False)
    pos = dtraj_from_arrays(spark, [np.array([0, 1, 2, 2])])
    np.testing.assert_array_equal(count_states(pos, ignore_negative=False), [1, 1, 2])


def test_pairs_do_not_cross_trajectories(spark):
    df = dtraj_from_arrays(spark, [np.array([0, 0]), np.array([1, 1])])
    C = TransitionCountEstimator(lagtime=1).fit(df).fetch_model().count_matrix
    assert C[0, 1] == 0 and C[1, 0] == 0
    assert C[0, 0] == 1 and C[1, 1] == 1


def test_reversible_mle_satisfies_detailed_balance():
    rng = np.random.default_rng(3)
    C = rng.integers(1, 50, size=(5, 5)).astype(float)
    T, pi = transition_matrix_reversible(C, return_statdist=True)
    assert analysis.is_transition_matrix(T)
    flux = pi[:, None] * T
    np.testing.assert_allclose(flux, flux.T, atol=1e-6)


def test_nonreversible_mle_row_normalizes():
    C = np.array([[5.0, 5.0], [2.0, 8.0]])
    T = transition_matrix_nonreversible(C)
    np.testing.assert_allclose(T, [[0.5, 0.5], [0.2, 0.8]])


def test_msm_recovers_birth_death_stationary(spark, bdc, bdc_dtraj_df):
    msm = MaximumLikelihoodMSM(reversible=True, lagtime=1).fit(bdc_dtraj_df).fetch_model()
    np.testing.assert_allclose(msm.stationary_distribution, bdc.stationary_distribution, atol=0.02)
    np.testing.assert_allclose(msm.transition_matrix, bdc.transition_matrix, atol=0.03)


def test_msm_mfpt_and_committor_vs_exact(spark, bdc, bdc_dtraj_df):
    msm = MaximumLikelihoodMSM(reversible=True, lagtime=1).fit(bdc_dtraj_df).fetch_model()
    # oracle on the exact chain
    exact_mfpt = analysis.mfpt(bdc.transition_matrix, target=[6], origin=[0],
                               mu=bdc.stationary_distribution)
    est = msm.mfpt([0], [6])
    assert abs(est - exact_mfpt) / exact_mfpt < 0.15
    q_exact = analysis.committor(bdc.transition_matrix, [0], [6], forward=True)
    q_est = msm.committor_forward([0], [6])
    np.testing.assert_allclose(q_est, q_exact, atol=0.05)


def test_stationary_distribution_analysis():
    T = np.array([[0.9, 0.1], [0.2, 0.8]])
    pi = analysis.stationary_distribution(T)
    np.testing.assert_allclose(pi, [2 / 3, 1 / 3], atol=1e-10)
    np.testing.assert_allclose(pi @ T, pi, atol=1e-12)


def test_timescales_formula():
    T = np.array([[0.9, 0.1], [0.1, 0.9]])
    ts = analysis.timescales(T, tau=2.0)
    assert np.isinf(ts[0])
    np.testing.assert_allclose(ts[1], -2.0 / np.log(0.8))


def test_mfpt_two_state_closed_form():
    # two-state chain: mfpt(0->1) = 1/p01
    T = np.array([[0.75, 0.25], [0.4, 0.6]])
    m = analysis.mfpt(T, target=[1])
    np.testing.assert_allclose(m[0], 4.0)


def test_propagate_and_expectation():
    T = np.array([[0.9, 0.1], [0.2, 0.8]])
    msm = MarkovStateModel(T)
    p = msm.propagate([1.0, 0.0], 500)
    np.testing.assert_allclose(p, msm.stationary_distribution, atol=1e-10)
    a = np.array([1.0, 5.0])
    np.testing.assert_allclose(msm.expectation(a), np.dot(msm.stationary_distribution, a))


def test_pcca_splits_double_well():
    T = double_well_discrete_tmatrix(50)
    model = pcca(T, 2)
    a = model.assignments
    # the two wells (left/right halves) are separated
    assert len(np.unique(a[:20])) == 1
    assert len(np.unique(a[-20:])) == 1
    assert a[0] != a[-1]
    # memberships are a partition of unity
    np.testing.assert_allclose(model.memberships.sum(axis=1), 1.0, atol=1e-8)
    # coarse T is a transition matrix
    assert analysis.is_transition_matrix(model.transition_matrix_coarse, tol=1e-6)


def test_tpt_flux_conservation_and_rate(bdc):
    T = bdc.transition_matrix
    flux = reactive_flux(T, [0], [6])
    # total flux out of A equals flux into B (conservation)
    gross = flux.gross_flux
    into_B = gross[:, 6].sum()
    np.testing.assert_allclose(flux.total_flux, into_B, rtol=1e-8)
    # rate * mfpt == 1
    np.testing.assert_allclose(flux.rate * flux.mfpt, 1.0)
    # committor monotone along the chain
    assert np.all(np.diff(flux.forward_committor) >= -1e-12)


def test_bayesian_msm_posterior_covers_truth(spark, bdc, bdc_dtraj_df):
    counts = TransitionCountEstimator(lagtime=1, count_mode="sliding").fit(bdc_dtraj_df).fetch_model()
    post = BayesianMSM(n_samples=30, seed=5).fit(counts).fetch_model()
    stats = post.gather_stats("stationary_distribution")
    pi_true = bdc.stationary_distribution
    # truth within +-4 sigma-ish band of the posterior
    assert np.all(np.abs(stats["mean"] - pi_true) < 0.05)


def test_msm_simulate_roundtrip(spark):
    T = np.array([[0.95, 0.05], [0.1, 0.9]])
    msm = MarkovStateModel(T)
    traj = msm.simulate(50_000, start=0, seed=9)
    df = dtraj_from_arrays(spark, [traj])
    refit = MaximumLikelihoodMSM(reversible=True, lagtime=1).fit(df).fetch_model()
    np.testing.assert_allclose(refit.transition_matrix, T, atol=0.02)
