"""HMM suite tests (SURVEY.md §2.9; reference tests/markov/hmm/).

Strategy mirrors the reference: generate data from a KNOWN HMM, fit from a
perturbed/heuristic init, and require recovery of transition matrix and
emissions up to hidden-state permutation (test_mlhmm.py style).
"""

import contextlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from deeptime_spark import dispatch
from deeptime_spark.data.schema import dtraj_from_arrays, trajectory_from_arrays
from deeptime_spark.hmm import (
    DiscreteOutputModel,
    GaussianOutputModel,
    HiddenMarkovModel,
    MaximumLikelihoodHMM,
    forward_backward,
    init_discrete_metastable_from_data,
    init_gaussian_from_data,
    lag_observations_df,
    viterbi,
)
from deeptime_spark.markov.msm import MarkovStateModel


def _make_hmm(T, B=None, means=None, sigmas=None, pi=None):
    tm = MarkovStateModel(np.asarray(T, dtype=float), lagtime=1)
    if B is not None:
        om = DiscreteOutputModel(np.asarray(B, dtype=float))
    else:
        om = GaussianOutputModel(len(means), means=means, sigmas=sigmas)
    return HiddenMarkovModel(tm, om, initial_distribution=pi)


@pytest.fixture(scope="module")
def discrete_ground_truth():
    T = np.array([[0.9, 0.1], [0.1, 0.9]])
    B = np.array([[0.85, 0.1, 0.05], [0.05, 0.1, 0.85]])
    return _make_hmm(T, B=B, pi=np.array([0.5, 0.5]))


def test_forward_backward_sums_to_one(discrete_ground_truth):
    hmm = discrete_ground_truth
    _, obs = hmm.simulate(500, seed=7)
    pobs = hmm.output_model.to_state_probability_trajectory(obs.astype(int))
    loglik, gamma, counts = forward_backward(hmm.transition_matrix, pobs, hmm.initial_distribution)
    assert np.isfinite(loglik) and loglik < 0
    np.testing.assert_allclose(gamma.sum(axis=1), 1.0, atol=1e-12)
    # Baum-Welch counts total = T - 1 transitions
    assert abs(counts.sum() - (len(obs) - 1)) < 1e-8


def test_viterbi_recovers_clean_path():
    # near-deterministic emissions: viterbi must equal the hidden path
    T = np.array([[0.95, 0.05], [0.05, 0.95]])
    B = np.array([[0.99, 0.01], [0.01, 0.99]])
    hmm = _make_hmm(T, B=B, pi=np.array([0.5, 0.5]))
    hidden, obs = hmm.simulate(1000, seed=3)
    path = viterbi(T, hmm.output_model.to_state_probability_trajectory(obs.astype(int)),
                   hmm.initial_distribution)
    assert np.mean(path == hidden) > 0.98


def test_mlhmm_discrete_recovers_parameters(spark, discrete_ground_truth):
    hmm = discrete_ground_truth
    rng = np.random.default_rng(11)
    dtrajs = []
    for seed in range(8):
        _, obs = hmm.simulate(2000, seed=100 + seed)
        dtrajs.append(obs.astype(int))
    df = dtraj_from_arrays(spark, dtrajs)
    init = init_discrete_metastable_from_data(df, n_hidden_states=2, lagtime=1)
    est = MaximumLikelihoodHMM(init, lagtime=1, maxit=50).fit(df)
    model = est.fetch_model()
    # likelihood must be monotonically non-decreasing (EM invariant)
    dl = np.diff(est.likelihoods_)
    assert np.all(dl > -1e-6)
    # match up to permutation of hidden states
    B = model.output_model.output_probabilities
    perm = [0, 1] if B[0, 0] > B[1, 0] else [1, 0]
    np.testing.assert_allclose(
        model.transition_matrix[np.ix_(perm, perm)], hmm.transition_matrix, atol=0.05
    )
    np.testing.assert_allclose(B[perm], hmm.output_model.output_probabilities, atol=0.05)


def test_mlhmm_gaussian_recovers_means(spark):
    hmm = _make_hmm(
        np.array([[0.95, 0.05], [0.05, 0.95]]),
        means=np.array([-1.0, 1.0]),
        sigmas=np.array([0.4, 0.4]),
        pi=np.array([0.5, 0.5]),
    )
    trajs = []
    for seed in range(6):
        _, obs = hmm.simulate(1500, seed=50 + seed)
        trajs.append(obs.reshape(-1, 1))
    df = trajectory_from_arrays(spark, trajs).select(
        "traj_id", "t", F.col("x")[0].alias("obs")
    )
    init = init_gaussian_from_data(df, n_hidden_states=2, obs_col="obs")
    est = MaximumLikelihoodHMM(init, lagtime=1, maxit=60, obs_col="obs").fit(df)
    model = est.fetch_model()
    means = np.sort(model.output_model.means)
    np.testing.assert_allclose(means, [-1.0, 1.0], atol=0.1)
    sigmas = model.output_model.sigmas
    np.testing.assert_allclose(sigmas, [0.4, 0.4], atol=0.1)
    perm = np.argsort(model.output_model.means)
    np.testing.assert_allclose(
        model.transition_matrix[np.ix_(perm, perm)], hmm.transition_matrix, atol=0.06
    )


def test_viterbi_df_and_gamma_df(spark, discrete_ground_truth):
    hmm = discrete_ground_truth
    hidden, obs = hmm.simulate(800, seed=21)
    df = dtraj_from_arrays(spark, [obs.astype(int)])
    vit = hmm.viterbi_df(df).orderBy("t").collect()
    path = np.array([r["hidden_state"] for r in vit])
    assert np.mean(path == hidden) > 0.8
    gdf = hmm.state_probabilities_df(df).orderBy("t").collect()
    gam = np.array([r["state_probabilities"] for r in gdf])
    np.testing.assert_allclose(gam.sum(axis=1), 1.0, atol=1e-10)
    # gamma argmax should broadly agree with the viterbi path
    assert np.mean(np.argmax(gam, axis=1) == path) > 0.9


def test_lag_observations_df_semantics(spark):
    # trajectory 0..9 at lag 3 -> (0,3,6,9), (1,4,7), (2,5,8)
    df = dtraj_from_arrays(spark, [np.arange(10)])
    lagged = lag_observations_df(df, lag=3)
    subs = {}
    for r in lagged.collect():
        subs.setdefault(r["traj_id"], []).append((r["t"], r["state"]))
    seqs = sorted(tuple(s for _, s in sorted(v)) for v in subs.values())
    assert seqs == [(0, 3, 6, 9), (1, 4, 7), (2, 5, 8)]


def test_bayesian_hmm_posterior(spark, discrete_ground_truth):
    from deeptime_spark.hmm import BayesianHMM, MaximumLikelihoodHMM, init_discrete_metastable_from_data

    hmm = discrete_ground_truth
    dtrajs = []
    for seed in range(4):
        _, obs = hmm.simulate(1500, seed=200 + seed)
        dtrajs.append(obs.astype(int))
    df = dtraj_from_arrays(spark, dtrajs)
    init = init_discrete_metastable_from_data(df, n_hidden_states=2, lagtime=1)
    mlhmm = MaximumLikelihoodHMM(init, lagtime=1, maxit=30).fit(df).fetch_model()
    posterior = BayesianHMM(mlhmm, n_samples=15, seed=5).fit(df).fetch_model()
    assert len(posterior.samples) == 15
    stats = posterior.gather_stats("transition_matrix")
    B = posterior.samples[0].output_model.output_probabilities
    perm = [0, 1] if B[0, 0] > B[1, 0] else [1, 0]
    # posterior mean of T near the ground truth (up to permutation)
    np.testing.assert_allclose(
        stats["mean"][np.ix_(perm, perm)], hmm.transition_matrix, atol=0.08
    )
    # nontrivial posterior spread with CI covering the truth
    assert np.all(stats["std"] > 0)
    T_true = hmm.transition_matrix
    assert np.all(stats["L"][np.ix_(perm, perm)] <= T_true + 0.05)
    assert np.all(T_true - 0.05 <= stats["R"][np.ix_(perm, perm)])
    # every sample is a valid stochastic matrix
    for s in posterior.samples:
        np.testing.assert_allclose(s.transition_matrix.sum(axis=1), 1.0, atol=1e-8)


def test_batched_kernels_match_single(discrete_ground_truth):
    from deeptime_spark.hmm.hmm_model import (
        forward_backward,
        forward_backward_batch,
        viterbi,
        viterbi_batch,
    )

    hmm = discrete_ground_truth
    A, pi, om = hmm.transition_matrix, hmm.initial_distribution, hmm.output_model
    rng = np.random.default_rng(7)
    obs_list = [rng.integers(0, om.n_observable_states, size=n) for n in (83, 7, 151, 2)]
    pobs_list = [om.to_state_probability_trajectory(o) for o in obs_list]
    # batched sufficient statistics == sum of per-trajectory results
    ll_b, g0_b, c_b, gammas_b = forward_backward_batch(A, pobs_list, pi)
    ll_b, g0_b, c_b = ll_b.sum(), g0_b.sum(axis=0), c_b.sum(axis=0)
    ll_s, g0_s, c_s = 0.0, np.zeros(len(pi)), np.zeros_like(A)
    for pobs, gam_b in zip(pobs_list, gammas_b):
        ll, gamma, counts = forward_backward(A, pobs, pi)
        ll_s += ll
        g0_s += gamma[0]
        c_s += counts
        np.testing.assert_allclose(gam_b, gamma, atol=1e-10)
    assert abs(ll_b - ll_s) < 1e-8
    np.testing.assert_allclose(g0_b, g0_s, atol=1e-10)
    np.testing.assert_allclose(c_b, c_s, atol=1e-10)
    # batched viterbi == per-trajectory viterbi
    paths_b = viterbi_batch(A, pobs_list, pi)
    for pobs, p_b in zip(pobs_list, paths_b):
        np.testing.assert_array_equal(p_b, viterbi(A, pobs, pi))


def test_batched_kernels_property(discrete_ground_truth):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from deeptime_spark.hmm.hmm_model import (
        forward_backward,
        forward_backward_batch,
        viterbi,
        viterbi_batch,
    )

    hmm = discrete_ground_truth
    A, pi, om = hmm.transition_matrix, hmm.initial_distribution, hmm.output_model

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=6),
           st.integers(min_value=0, max_value=2**31 - 1))
    def check(lengths, seed):
        rng = np.random.default_rng(seed)
        obs_list = [rng.integers(0, om.n_observable_states, size=n) for n in lengths]
        pobs_list = [om.to_state_probability_trajectory(o) for o in obs_list]
        ll_b, _, _, gammas_b = forward_backward_batch(A, pobs_list, pi)
        ll_b = ll_b.sum()
        ll_s = 0.0
        for pobs, gam_b in zip(pobs_list, gammas_b):
            ll, gamma, _ = forward_backward(A, pobs, pi)
            ll_s += ll
            np.testing.assert_allclose(gam_b, gamma, atol=1e-9)
        assert abs(ll_b - ll_s) < 1e-7
        for pobs, p_b in zip(pobs_list, viterbi_batch(A, pobs_list, pi)):
            np.testing.assert_array_equal(p_b, viterbi(A, pobs, pi))

    check()


def _random_hmm(rng, n):
    A = rng.uniform(size=(n, n))
    A /= A.sum(axis=1, keepdims=True)
    pi = rng.uniform(size=n)
    return A, pi / pi.sum()


@pytest.mark.parametrize("n", [2, 3, 4, 5])
def test_batched_kernels_lane_exact(n):
    """Every lane of a batch is bit-identical to its B=1 run, whatever
    shares the batch: under the kernels' own length classes, under one
    unbucketed block padded to the longest lane, and for Viterbi under a
    shuffled split into two batches."""
    from deeptime_spark.hmm.hmm_model import (
        _forward_backward_block,
        _pad_pobs,
        forward_backward_batch,
        viterbi_batch,
    )

    rng = np.random.default_rng(100 + n)
    for trial in range(25):
        A, pi = _random_hmm(rng, n)
        if trial % 5 == 0:
            lengths = [int(rng.integers(1, 60))] * int(rng.integers(1, 8))  # all equal
        else:
            lengths = [1] + list(rng.integers(1, 121, size=int(rng.integers(1, 10))))
        pobs_list = [rng.uniform(size=(L, n)) for L in lengths]
        alone = [forward_backward_batch(A, [p], pi) for p in pobs_list]
        ll, g0, counts, gammas = forward_backward_batch(A, pobs_list, pi)
        block, lens = _pad_pobs(pobs_list)
        ll_p, g0_p, counts_p, gamma_p = _forward_backward_block(A, block, lens, pi)
        for b, (ll1, g01, c1, gam1) in enumerate(alone):
            np.testing.assert_array_equal(ll[b], ll1[0])
            np.testing.assert_array_equal(g0[b], g01[0])
            np.testing.assert_array_equal(counts[b], c1[0])
            np.testing.assert_array_equal(gammas[b], gam1[0])
            np.testing.assert_array_equal(ll_p[b], ll1[0])
            np.testing.assert_array_equal(g0_p[:, b], g01[0])
            np.testing.assert_array_equal(counts_p[:, :, b], c1[0])
            np.testing.assert_array_equal(gamma_p[: lens[b], :, b], gam1[0])
        paths = viterbi_batch(A, pobs_list, pi)
        perm = rng.permutation(len(pobs_list))
        half = len(perm) // 2
        split = {}
        for part in (perm[:half], perm[half:]):
            if len(part):
                split.update(zip(part, viterbi_batch(A, [pobs_list[i] for i in part], pi)))
        for b, p in enumerate(pobs_list):
            p1 = viterbi_batch(A, [p], pi)[0]
            np.testing.assert_array_equal(paths[b], p1)
            np.testing.assert_array_equal(split[b], p1)


def test_kernel_blocks_bound_padding(monkeypatch):
    """One 50k-frame trajectory among 1,000 short ones must not pad the
    short ones to its length: every padded block the kernel allocates
    holds at most twice the real frames in it."""
    from deeptime_spark.hmm import hmm_model

    rng = np.random.default_rng(3)
    A, pi = _random_hmm(rng, 2)
    lengths = [50_000] + list(rng.integers(1, 200, size=1000))
    pobs_list = [rng.uniform(size=(L, 2)) for L in lengths]
    blocks = []
    real_pad = hmm_model._pad_pobs

    def spy(sub):
        pobs, lens = real_pad(sub)
        blocks.append((pobs.shape[0] * pobs.shape[2], int(lens.sum())))
        return pobs, lens

    monkeypatch.setattr(hmm_model, "_pad_pobs", spy)
    ll, _, _, gammas = hmm_model.forward_backward_batch(A, pobs_list, pi)
    assert sum(real for _, real in blocks) == sum(lengths)
    assert all(cells <= 2 * real for cells, real in blocks), blocks
    assert [len(g) for g in gammas] == lengths
    short = hmm_model.forward_backward_batch(A, pobs_list[1:4], pi)[0]
    np.testing.assert_array_equal(ll[1:4], short)


def test_ffbs_paths_independent_of_batching():
    """A trajectory's FFBS draw is a function of its frames and seed only:
    the same path in one batch, alone, or in a shuffled split."""
    from deeptime_spark.hmm.bayesian_hmm import ffbs_sample_path_batch

    rng = np.random.default_rng(8)
    for n in (2, 3, 5):
        A, pi = _random_hmm(rng, n)
        lengths = [1, 2, 7, 7, 33, 64, 65, 150] + list(rng.integers(1, 100, size=12))
        pobs_list = [rng.uniform(size=(L, n)) for L in lengths]
        seeds = [int(s) for s in rng.integers(0, 2**31, size=len(lengths))]
        together = ffbs_sample_path_batch(A, pobs_list, pi, seeds)
        perm = rng.permutation(len(lengths))
        split = {}
        for part in (perm[:7], perm[7:]):
            paths = ffbs_sample_path_batch(
                A, [pobs_list[i] for i in part], pi, [seeds[i] for i in part]
            )
            split.update(zip(part, paths))
        for b, p in enumerate(pobs_list):
            alone = ffbs_sample_path_batch(A, [p], pi, [seeds[b]])[0]
            np.testing.assert_array_equal(together[b], alone)
            np.testing.assert_array_equal(split[b], alone)


def test_mlhmm_assume_colocated_equivalent(spark, discrete_ground_truth):
    """The lag-1 co-located fast path (no lag_observations_df join, no
    second repartition/persist, E-step-level singleton drop) must produce
    the exact same model as the default path, including with a length-1
    trajectory present (which the default path drops up front) — on the
    driver path this small input takes by default and forced distributed."""
    hmm = discrete_ground_truth
    dtrajs = [hmm.simulate(400, seed=200 + s)[1].astype(int) for s in range(4)]
    dtrajs.append(np.array([1]))  # singleton: dropped either way
    df = dtraj_from_arrays(spark, dtrajs)
    coloc = df.repartition(4, "traj_id").persist()
    try:
        init = init_discrete_metastable_from_data(coloc, n_hidden_states=2, lagtime=1)
        seen = []
        for mode in (contextlib.nullcontext(), dispatch.force("distributed")):
            with mode:
                base = MaximumLikelihoodHMM(init, lagtime=1, maxit=4).fit(df).fetch_model()
                fast = (
                    MaximumLikelihoodHMM(init, lagtime=1, maxit=4, assume_colocated=True)
                    .fit(coloc)
                    .fetch_model()
                )
                # decode parity on the colocated frame without the extra shuffle
                a = base.viterbi_df(df).orderBy("traj_id", "t").collect()
                b = fast.viterbi_df(coloc, colocated=True).orderBy("traj_id", "t").collect()
            for m in (base, fast):
                seen.append(
                    (
                        m.transition_matrix.tolist(),
                        m.initial_distribution.tolist(),
                        m.output_model.output_probabilities.tolist(),
                    )
                )
            assert [r["hidden_state"] for r in a] == [r["hidden_state"] for r in b]
            seen.append([r["hidden_state"] for r in a])
        # both fits agree, and the driver path equals the distributed one
        assert seen[0] == seen[1] == seen[3] == seen[4]
        assert seen[2] == seen[5]
    finally:
        coloc.unpersist()


def test_init_from_fetched_trajectory_equals_frame(spark, discrete_ground_truth):
    """The init on a ``dispatch.fetch``-ed trajectory equals the init on its
    frame bit for bit without ``n_observation_states``, also when the top
    symbol is only ever a trajectory's last frame (so it lies outside the
    MSM's largest connected set and only the symbol maximum sizes B)."""
    dtrajs = [discrete_ground_truth.simulate(300, seed=300 + s)[1].astype(int) for s in range(3)]
    dtrajs.append(np.array([0, 1, 2, 1, 3]))
    df = dtraj_from_arrays(spark, dtrajs)
    models = [
        init_discrete_metastable_from_data(data, n_hidden_states=2, lagtime=1)
        for data in (df, dispatch.arrays(df))
    ]
    frame, fetched = (
        (
            m.transition_matrix.tolist(),
            m.initial_distribution.tolist(),
            m.output_model.output_probabilities.tolist(),
        )
        for m in models
    )
    assert len(frame[2][0]) == 4
    assert frame == fetched


def test_mlhmm_fit_and_decode_of_fetched_trajectory_equal_the_frame(spark, discrete_ground_truth):
    """A fetched trajectory fits and decodes on the driver bit-equal to its
    frame at lag 1; other lags need the frame's lag_observations_df."""
    dtrajs = [discrete_ground_truth.simulate(300, seed=400 + s)[1].astype(int) for s in range(3)]
    dtrajs.append(np.array([2]))  # length 1: dropped by both fits
    df = dtraj_from_arrays(spark, dtrajs)
    local = dispatch.arrays(df)
    init = init_discrete_metastable_from_data(df, n_hidden_states=2, lagtime=1)
    seen = []
    for data in (df, local):
        m = MaximumLikelihoodHMM(init, lagtime=1, maxit=4).fit(data).fetch_model()
        path = m.viterbi_df(data).orderBy("traj_id", "t").collect()
        seen.append(
            (
                m.transition_matrix.tolist(),
                m.initial_distribution.tolist(),
                m.output_model.output_probabilities.tolist(),
                [(r["traj_id"], r["t"], r["hidden_state"]) for r in path],
            )
        )
    assert seen[0] == seen[1]
    for kw in ({"lagtime": 2}, {"lagtime": 1, "stride": 2}):
        with pytest.raises(ValueError, match="lagtime=1, stride=1"):
            MaximumLikelihoodHMM(init, maxit=1, **kw).fit(local)
