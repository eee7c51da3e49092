"""MSM estimation and the MarkovStateModel query surface.

Reference: ``MaximumLikelihoodMSM``
(/root/reference/src/deeptime/markov/msm/_maximum_likelihood_msm.py:16-359),
``MarkovStateModel`` (markov/msm/_markov_state_model.py:28-1290),
``BayesianMSM`` (markov/msm/_bayesian_msm.py:15-354).

The counting stage runs on Spark (transition_counting.py); everything after
the collected count matrix is driver-side numpy — the same division of labor
the reference has with LAPACK/C++ (SURVEY.md §3.2). The reversible MLE is
the standard self-consistent fixed-point iteration for detailed-balance
maximum likelihood (Prinz et al., JCP 134, 174105 (2011), eq. 27 —
implemented from the published equations; reference C++ analogue
src/include/deeptime/markov/tools/mle_trev.h:14-185).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
from deeptime_spark.local_relation import local_df as _local_df
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deeptime_spark.base import Estimator, Model
from deeptime_spark.markov import analysis
from deeptime_spark.markov.transition_counting import TransitionCountEstimator, TransitionCountModel


def transition_matrix_nonreversible(C: np.ndarray) -> np.ndarray:
    """Row-normalize counts (reference api.py:768-955 dispatch, nonrev path)."""
    C = np.asarray(C, dtype=np.float64)
    rowsums = C.sum(axis=1)
    rowsums[rowsums == 0.0] = 1.0
    return C / rowsums[:, None]


def transition_matrix_reversible(
    C: np.ndarray, maxiter: int = 1_000_000, maxerr: float = 1e-8, return_statdist: bool = False
):
    """Detailed-balance MLE via the standard fixed-point iteration.

    Iterates x_ij <- (c_ij + c_ji) / (c_i/x_i + c_j/x_j) where x_i = sum_j
    x_ij and c_i = sum_j c_ij, converging to the reversible maximum
    likelihood; T_ij = x_ij / x_i and pi = x_i / sum(x). Convergence is
    measured on the stationary vector like the reference
    (mle_trev.h defaults: maxerr=1e-8, maxiter=1e6, api.py:768-800).
    """
    C = np.asarray(C, dtype=np.float64)
    Csym = C + C.T
    c_row = C.sum(axis=1)
    X = Csym.copy()
    X /= X.sum()
    x_row = X.sum(axis=1)
    for _ in range(maxiter):
        prev = x_row.copy()
        with np.errstate(divide="ignore", invalid="ignore"):
            denom = c_row[:, None] / x_row[:, None] + c_row[None, :] / x_row[None, :]
            X = np.where(Csym > 0, Csym / denom, 0.0)
        X /= X.sum()
        x_row = X.sum(axis=1)
        if np.max(np.abs(x_row - prev)) < maxerr * np.max(np.abs(prev)):
            break
    T = X / x_row[:, None]
    if return_statdist:
        return T, x_row / x_row.sum()
    return T


def transition_matrix_reversible_fixed_pi(
    C: np.ndarray, pi: np.ndarray, maxiter: int = 1_000_000, maxerr: float = 1e-8
) -> np.ndarray:
    """Reversible MLE with a fixed stationary vector (Lagrange-multiplier
    fixed point; Trendelkamp-Schroer et al. 2015). Semantics match the
    reference ``mle_trev_given_pi`` (markov/tools/estimation/dense/mle.py:38,
    C++ mle_trev.h:102-183): iterate
    ``lam_j <- sum_i Csym_ij / (pi_j lam_i / (pi_i lam_j) + 1)`` to
    convergence, then ``T_ij = Csym_ij / (lam_i + lam_j pi_i / pi_j)`` off-
    diagonal with the diagonal absorbing the remainder.
    """
    C = np.asarray(C, dtype=np.float64)
    pi = np.asarray(pi, dtype=np.float64)
    if np.any(pi <= 0):
        raise ValueError("every element of the stationary vector must be positive")
    Csym = C + C.T
    lam = 0.5 * Csym.sum(axis=1)
    if np.any(lam == 0):
        raise ValueError("some row and corresponding column of C have zero counts")
    for _ in range(maxiter):
        with np.errstate(divide="ignore", invalid="ignore"):
            denom = (pi[None, :] * lam[:, None]) / (pi[:, None] * lam[None, :]) + 1.0
            lam_new = np.where(Csym > 0, Csym / denom, 0.0).sum(axis=0)
        if np.isnan(lam_new).any():
            raise RuntimeError("Lagrange multiplier update produced NaN")
        d_sq = float(np.sum((lam_new - lam) ** 2))
        lam = lam_new
        if d_sq <= maxerr * maxerr:
            break
    with np.errstate(divide="ignore", invalid="ignore"):
        denomT = lam[:, None] + lam[None, :] * (pi[:, None] / pi[None, :])
        T = np.where(Csym > 0, Csym / denomT, 0.0)
    np.fill_diagonal(T, 0.0)
    norm = T.sum(axis=1)
    np.fill_diagonal(T, np.where(norm > 1.0, 0.0, 1.0 - norm))
    return T


class MarkovStateModel(Model):
    """Row-stochastic transition matrix + analysis surface
    (reference _markov_state_model.py:28-1290). All queries delegate to the
    driver-side analysis library on the small (n, n) matrix."""

    def __init__(
        self,
        transition_matrix: np.ndarray,
        stationary_distribution: Optional[np.ndarray] = None,
        reversible: Optional[bool] = None,
        lagtime: int = 1,
        count_model: Optional[TransitionCountModel] = None,
    ):
        self.transition_matrix = np.asarray(_densify(transition_matrix), dtype=np.float64)
        self._stationary_distribution = stationary_distribution
        self.reversible = reversible
        self.lagtime = lagtime
        self.count_model = count_model

    @property
    def n_states(self) -> int:
        return self.transition_matrix.shape[0]

    @property
    def stationary_distribution(self) -> np.ndarray:
        if self._stationary_distribution is None:
            self._stationary_distribution = analysis.stationary_distribution(self.transition_matrix)
        return self._stationary_distribution

    def eigenvalues(self, k: Optional[int] = None) -> np.ndarray:
        return analysis.eigenvalues(self.transition_matrix, k)

    def timescales(self, k: Optional[int] = None) -> np.ndarray:
        """Implied timescales, slowest first, stationary process dropped
        (reference :269 & _api.py:310)."""
        ts = analysis.timescales(self.transition_matrix, tau=self.lagtime, k=None if k is None else k + 1)
        return ts[1:]

    def mfpt(self, A, B) -> float:
        """Mean first passage time A -> B (reference :608-622)."""
        return analysis.mfpt(self.transition_matrix, target=B, origin=A, tau=self.lagtime, mu=self.stationary_distribution)

    def committor_forward(self, A, B) -> np.ndarray:
        return analysis.committor(self.transition_matrix, A, B, forward=True)

    def committor_backward(self, A, B) -> np.ndarray:
        return analysis.committor(self.transition_matrix, A, B, forward=False, mu=self.stationary_distribution)

    def expectation(self, a: np.ndarray) -> float:
        return analysis.expectation(self.transition_matrix, a, mu=self.stationary_distribution)

    def correlation(self, a, b=None, times: Sequence[int] = (1,)) -> np.ndarray:
        return analysis.correlation(self.transition_matrix, a, b, times=times, tau=self.lagtime)

    def propagate(self, p0: np.ndarray, k: int) -> np.ndarray:
        """p_k = p_0 T^k (reference :541-570)."""
        p = np.asarray(p0, dtype=np.float64)
        for _ in range(k):
            p = p @ self.transition_matrix
        return p

    def simulate(self, n_steps: int, start: Optional[int] = None, seed: int = 42) -> np.ndarray:
        """Generate a dtraj (reference :1014-1060)."""
        from deeptime_spark.data.generators import simulate_msm

        if start is None:
            rng = np.random.default_rng(seed)
            start = int(rng.choice(self.n_states, p=self.stationary_distribution))
        return simulate_msm(self.transition_matrix, n_steps, start=start, seed=seed)

    def pcca(self, n_metastable_sets: int):
        """PCCA+ coarse-graining (reference :950-977)."""
        from deeptime_spark.markov.pcca import pcca

        return pcca(self.transition_matrix, n_metastable_sets, pi=self.stationary_distribution)

    def reactive_flux(self, A, B):
        """TPT between A and B (reference :978-1013)."""
        from deeptime_spark.markov.tpt import reactive_flux

        return reactive_flux(self.transition_matrix, A, B, stationary_distribution=self.stationary_distribution)

    def compute_trajectory_weights(self, dtraj_df: DataFrame, state_col: str = "state") -> DataFrame:
        """Per-frame equilibrium weights pi[s_t]/hist[s_t] (reference
        :1097-1163) — a broadcast-map join, fully distributed."""
        spark = dtraj_df.sparkSession
        hist = self.count_model.state_histogram if self.count_model is not None else None
        pi = self.stationary_distribution
        symbols = (
            self.count_model.state_symbols if self.count_model is not None else np.arange(self.n_states)
        )
        rows = []
        for i, s in enumerate(symbols):
            h = float(hist[s]) if hist is not None and s < len(hist) else 1.0
            rows.append((int(s), float(pi[i] / max(h, 1.0))))
        lut = _local_df(spark, rows, ["state_symbol", "weight"])
        return dtraj_df.join(
            F.broadcast(lut), dtraj_df[state_col] == lut["state_symbol"], "left"
        ).drop("state_symbol")

    def score(self, r: float = 2.0, k: Optional[int] = None) -> float:
        """VAMP-r score from the MSM spectrum (reference :1237-1290)."""
        vals = np.abs(self.eigenvalues(k))
        return float(1.0 + np.sum(vals[1:] ** r))


def _densify(T):
    return np.asarray(T)


class MaximumLikelihoodMSM(Estimator):
    """Counting (Spark) -> largest connected set -> MLE (driver)
    (reference _maximum_likelihood_msm.py:16-359)."""

    def __init__(
        self,
        reversible: bool = True,
        stationary_distribution_constraint: Optional[np.ndarray] = None,
        maxiter: int = 1_000_000,
        maxerr: float = 1e-8,
        lagtime: Optional[int] = None,
        count_mode: str = "sliding",
        state_col: str = "state",
    ):
        super().__init__()
        self.reversible = reversible
        self.stationary_distribution_constraint = stationary_distribution_constraint
        self.maxiter = maxiter
        self.maxerr = maxerr
        self.lagtime = lagtime
        self.count_mode = count_mode
        self.state_col = state_col

    def fit(self, data, lagtime: Optional[int] = None) -> "MaximumLikelihoodMSM":
        if isinstance(data, TransitionCountModel):
            return self.fit_from_counts(data)
        tau = lagtime or self.lagtime
        if tau is None:
            raise ValueError("lagtime required when fitting from dtrajs")
        counts = (
            TransitionCountEstimator(lagtime=tau, count_mode=self.count_mode, state_col=self.state_col)
            .fit(data)
            .fetch_model()
        )
        return self.fit_from_counts(counts)

    def fit_from_counts(self, counts: TransitionCountModel) -> "MaximumLikelihoodMSM":
        """MLE on the largest connected submodel of ``counts``; raises
        ValueError naming the lagtime when that submodel has no counts
        (``TransitionCountModel.submodel_largest``)."""
        sub = counts.submodel_largest(directed=True)
        C = np.asarray(_densify(sub.count_matrix), dtype=np.float64)
        constraint = self.stationary_distribution_constraint
        if constraint is not None:
            if not self.reversible:
                raise ValueError(
                    "stationary_distribution_constraint requires reversible=True "
                    "(reference couples the fixed-pi MLE to detailed balance)"
                )
            constraint = np.asarray(constraint, dtype=np.float64)
            if len(constraint) != counts.n_states:
                raise ValueError(
                    f"stationary distribution constraint must be defined over the full "
                    f"set of states ({counts.n_states}), got {len(constraint)}"
                )
            # restrict to the active set and renormalize (reference
            # _maximum_likelihood_msm.py:161-166)
            pi_sub = constraint[sub.state_symbols]
            if np.any(pi_sub == 0.0):
                raise ValueError(
                    "count matrix contains symbols with zero probability in the "
                    "stationary distribution constraint"
                )
            pi_sub = pi_sub / pi_sub.sum()
            T = transition_matrix_reversible_fixed_pi(C, pi_sub, maxiter=self.maxiter, maxerr=self.maxerr)
            pi = pi_sub
        elif self.reversible:
            T, pi = transition_matrix_reversible(C, maxiter=self.maxiter, maxerr=self.maxerr, return_statdist=True)
        else:
            T = transition_matrix_nonreversible(C)
            pi = None
        self._model = MarkovStateModel(
            T, stationary_distribution=pi, reversible=self.reversible, lagtime=sub.lagtime, count_model=sub
        )
        return self


class BayesianMSM(Estimator):
    """Posterior ensemble of transition matrices
    (reference _bayesian_msm.py:15-354).

    reversible=True uses the EXACT reversible Gibbs sampler over the
    symmetric auxiliary matrix (tmatrix_sampling.py; reference sampler.h
    semantics, ``n_steps`` sweeps between samples, default
    sqrt(n_states)). reversible=False draws row-wise Dirichlet posteriors
    (the exact nonreversible conjugate posterior). Counting is the Spark
    stage; sampling is a sequential driver chain — independent chains
    parallelize across seeds.
    """

    def __init__(self, n_samples: int = 100, n_steps: Optional[int] = None,
                 reversible: bool = True, seed: int = 42, count_mode: str = "effective"):
        super().__init__()
        self.n_samples = n_samples
        self.n_steps = n_steps
        self.reversible = reversible
        self.seed = seed
        self.count_mode = count_mode

    def fit(self, counts: TransitionCountModel) -> "BayesianMSM":
        sub = counts.submodel_largest(directed=True)
        C = np.asarray(_densify(sub.count_matrix), dtype=np.float64)
        prior_T, prior_pi = transition_matrix_reversible(C, return_statdist=True)
        samples = []
        if self.reversible:
            from deeptime_spark.markov.tmatrix_sampling import sample_tmatrix_reversible

            Ts, pis = sample_tmatrix_reversible(
                C, n_samples=self.n_samples, n_steps=self.n_steps, seed=self.seed,
                T0=prior_T, return_statdist=True,
            )
            for T, pi in zip(Ts, pis):
                samples.append(
                    MarkovStateModel(T, stationary_distribution=pi, reversible=True,
                                     lagtime=sub.lagtime, count_model=sub)
                )
        else:
            rng = np.random.default_rng(self.seed)
            for _ in range(self.n_samples):
                T = np.vstack([rng.dirichlet(C[i] + 1.0) for i in range(C.shape[0])])
                samples.append(MarkovStateModel(T, reversible=False, lagtime=sub.lagtime, count_model=sub))
        self._model = BayesianMSMPosterior(
            prior=MarkovStateModel(prior_T, stationary_distribution=prior_pi, reversible=True, lagtime=sub.lagtime, count_model=sub),
            samples=samples,
        )
        return self


class BayesianMSMPosterior(Model):
    """prior + samples with gather_stats (reference base.py:175-238)."""

    def __init__(self, prior: MarkovStateModel, samples: list):
        self.prior = prior
        self.samples = samples

    def gather_stats(self, quantity: str, *args, confidence: float = 0.95, **kwargs):
        """Evaluate an attribute/method path on every sample -> mean and CI
        (reference util/stats.py:197-291)."""
        values = []
        for s in self.samples:
            attr = getattr(s, quantity)
            values.append(attr(*args, **kwargs) if callable(attr) else attr)
        arr = np.asarray(values, dtype=np.float64)
        lo = np.percentile(arr, 50 * (1 - confidence), axis=0)
        hi = np.percentile(arr, 100 - 50 * (1 - confidence), axis=0)
        return {"mean": arr.mean(axis=0), "std": arr.std(axis=0), "L": lo, "R": hi}
