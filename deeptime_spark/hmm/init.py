"""Initial-guess heuristics for HMM estimation.

Reference: ``init.discrete.metastable_from_msm`` / ``metastable_from_data``
(/root/reference/src/deeptime/markov/hmm/init/discrete/_init_discrete_impl.py:152,274),
``init.gaussian.from_data``
(markov/hmm/init/gaussian/_init_gaussian_impl.py:4), ``random_guess`` (:402).

The data-driven variants run their MSM/moment stages on Spark; the
PCCA+/regularization math is driver-side, as in the reference.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deeptime_spark.hmm.hmm_model import HiddenMarkovModel
from deeptime_spark.hmm.output_models import DiscreteOutputModel, GaussianOutputModel
from deeptime_spark.markov.msm import MarkovStateModel


def _coarse_grain_transition_matrix(P: np.ndarray, M: np.ndarray) -> np.ndarray:
    """P_coarse = pinv(M) P M, row-normalized with negative entries clipped
    (reference _init_discrete_impl.py:123-150)."""
    P_coarse = np.linalg.pinv(M) @ P @ M
    P_coarse = np.maximum(P_coarse, 0.0)
    rowsums = P_coarse.sum(axis=1, keepdims=True)
    rowsums[rowsums == 0.0] = 1.0
    return P_coarse / rowsums


def _regularize(pi: np.ndarray, T: np.ndarray, eps: float):
    """Floor probabilities at eps and renormalize
    (reference _regularize_hidden, :36-77)."""
    pi = np.maximum(pi, eps)
    pi = pi / pi.sum()
    T = np.maximum(T, eps)
    T = T / T.sum(axis=1, keepdims=True)
    return pi, T


def init_discrete_metastable_from_msm(
    msm: MarkovStateModel, n_hidden_states: int, regularize: bool = True
) -> HiddenMarkovModel:
    """PCCA+-based initial HMM from an observable-space MSM (reference
    :152-270, procedure of Noe et al. 2013 'projected MSMs'): memberships
    coarse-grain the transition matrix; metastable distributions become
    the emission rows."""
    n_obs = msm.n_states
    if n_hidden_states == n_obs:
        memberships = np.eye(n_obs)
        metastable_distributions = np.eye(n_obs)
    else:
        p = msm.pcca(n_hidden_states)
        memberships = p.memberships
        metastable_distributions = p.metastable_distributions
    T_hidden = _coarse_grain_transition_matrix(msm.transition_matrix, memberships)
    pi_hidden = memberships.T @ msm.stationary_distribution
    pi_hidden = pi_hidden / pi_hidden.sum()
    B = np.maximum(metastable_distributions, 0.0)
    B = B / B.sum(axis=1, keepdims=True)
    if regularize:
        pi_hidden, T_hidden = _regularize(pi_hidden, T_hidden, 0.01 / n_hidden_states)
        B = np.maximum(B, 0.01 / n_obs)
        B = B / B.sum(axis=1, keepdims=True)
    return HiddenMarkovModel(
        transition_model=MarkovStateModel(T_hidden, stationary_distribution=None, lagtime=msm.lagtime),
        output_model=DiscreteOutputModel(B),
        initial_distribution=pi_hidden,
    )


def init_discrete_metastable_from_data(
    df, n_hidden_states: int, lagtime: int, obs_col: str = "state",
    reversible: bool = True, n_observation_states: Optional[int] = None,
) -> HiddenMarkovModel:
    """Fit an observable-space MSM on Spark (counting job) then coarse-grain
    (reference metastable_from_data, :274-401, mode='largest-regularized').
    ``df`` may also be a trajectory already fetched with ``dispatch.fetch``
    (numpy columns traj_id, t, obs_col); the counts then come from the
    arrays, with no Spark job.

    Pass ``n_observation_states`` when the observable alphabet size is
    known: it skips a full max-aggregation pass over the trajectory (one
    extra scan that matters when the input is not persisted).
    """
    from deeptime_spark.markov.msm import MaximumLikelihoodMSM

    msm = (
        MaximumLikelihoodMSM(reversible=reversible, lagtime=lagtime, state_col=obs_col)
        .fit(df, lagtime=lagtime)
        .fetch_model()
    )
    init = init_discrete_metastable_from_msm(msm, n_hidden_states)
    # the MSM may live on a connected submodel; lift emissions back to the
    # full observed symbol space
    if msm.count_model is not None:
        symbols = msm.count_model.state_symbols
        n_full = int(symbols.max()) + 1
        if n_observation_states is not None:
            n_full = max(n_full, int(n_observation_states))
        else:
            if isinstance(df, dict):
                obs_max = df[obs_col].max(initial=-1)
            else:
                obs_max = df.agg(F.max(obs_col).alias("m")).first()["m"]
            n_full = max(n_full, int(obs_max) + 1)
        B_sub = init.output_model.output_probabilities
        B = np.full((n_hidden_states, n_full), 1e-12)
        B[:, symbols] = B_sub
        B = B / B.sum(axis=1, keepdims=True)
        init = HiddenMarkovModel(
            transition_model=init.transition_model,
            output_model=DiscreteOutputModel(B),
            initial_distribution=init.initial_distribution,
        )
    return init


def init_gaussian_from_data(
    df: DataFrame, n_hidden_states: int, obs_col: str = "x", seed: int = 42
) -> HiddenMarkovModel:
    """Gaussian initial guess: k-means centers as means, global std as
    sigma (reference init.gaussian.from_data,
    _init_gaussian_impl.py:4-60 uses GMM; k-means|| is the Spark-native
    seeding). One MLlib job + one stats agg."""
    from deeptime_spark.clustering.kmeans import KMeans

    feat = df.select(F.array(F.col(obs_col).cast("double")).alias("x"))
    km = KMeans(n_clusters=n_hidden_states, fixed_seed=seed).fit(feat).fetch_model()
    means = np.sort(km.cluster_centers[:, 0])
    stats = df.agg(F.stddev(F.col(obs_col)).alias("s")).first()
    sigma = float(stats["s"]) / max(n_hidden_states, 1)
    om = GaussianOutputModel(n_hidden_states, means=means, sigmas=np.full(n_hidden_states, max(sigma, 1e-3)))
    T = np.full((n_hidden_states, n_hidden_states), 0.1 / max(n_hidden_states - 1, 1))
    np.fill_diagonal(T, 0.9)
    return HiddenMarkovModel(
        transition_model=MarkovStateModel(T, lagtime=1),
        output_model=om,
        initial_distribution=np.full(n_hidden_states, 1.0 / n_hidden_states),
    )


def random_guess(
    n_observation_states: int, n_hidden_states: int, seed: Optional[int] = None
) -> HiddenMarkovModel:
    """Uniform-Dirichlet random initial HMM (reference :402-437)."""
    rng = np.random.default_rng(seed)
    P = rng.uniform(size=(n_hidden_states, n_hidden_states))
    P /= P.sum(axis=1, keepdims=True)
    B = rng.uniform(size=(n_hidden_states, n_observation_states))
    B /= B.sum(axis=1, keepdims=True)
    pi = rng.uniform(size=n_hidden_states)
    pi /= pi.sum()
    return HiddenMarkovModel(
        transition_model=MarkovStateModel(P, lagtime=1),
        output_model=DiscreteOutputModel(B),
        initial_distribution=pi,
    )
