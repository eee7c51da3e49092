"""OOM / Koopman-reweighted MSM estimation.

Reference: ``OOMReweightedMSM`` (/root/reference/src/deeptime/markov/msm/
_koopman_reweighted_msm.py, impl _koopman_reweighted_msm_impl.py:81-330;
Nueske et al. JCP 146, 094104 (2017)): second-order (observable operator
model) estimation corrects the equilibrium bias of sliding counts using
two-step count information.

Spark stages: the one-step count matrix and the two-step count tensor are
the window/groupBy jobs (transition_counting.py); everything after the
collected (N^2 + N^3-sparse) counts is driver-side spectral algebra as in
the reference.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame

from deeptime_spark.base import Estimator
from deeptime_spark.markov.msm import MarkovStateModel
from deeptime_spark.markov.transition_counting import (
    TransitionCountModel,
    transition_counts_df,
    two_step_counts_df,
)
from deeptime_spark.numeric.eigen import sort_eigs
from deeptime_spark.numeric.graph import connected_components


def bootstrapping_count_matrix(Ct: np.ndarray, nbs: int = 500, seed: int = 42):
    """Multinomial bootstrap of the count matrix -> mean/std of singular
    values (reference impl :81-123)."""
    rng = np.random.default_rng(seed)
    total = int(Ct.sum())
    p = (Ct / Ct.sum()).ravel()
    svals = np.empty((nbs, Ct.shape[0]))
    for i in range(nbs):
        sample = rng.multinomial(total, p).reshape(Ct.shape)
        svals[i] = np.linalg.svd(sample, compute_uv=False)
    return svals.mean(axis=0), svals.std(axis=0)


def rank_decision(smean: np.ndarray, sdev: np.ndarray, tol: float = 10.0) -> np.ndarray:
    """Keep singular values with signal-to-noise >= tol (reference :164)."""
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = np.where(sdev > 0, smean / sdev, np.inf)
    return ratio >= tol


def oom_components(Ct: np.ndarray, C2t: np.ndarray, rank_ind: Optional[np.ndarray] = None,
                   tol_one: float = 1e-2):
    """OOM operators Xi, information vector omega, evaluator sigma, and
    eigenvalues (reference :189-270)."""
    V, s, W = np.linalg.svd(Ct, full_matrices=False)
    if rank_ind is None:
        rank_ind = s >= np.finfo(float).eps
    V = V[:, rank_ind]
    sr = s[rank_ind]
    Wt = W[rank_ind, :].T
    F1 = V @ np.diag(sr**-0.5)
    F2 = Wt @ np.diag(sr**-0.5)
    N = Ct.shape[0]
    M = F1.shape[1]
    Xi = np.zeros((M, N, M))
    for n in range(N):
        Xi[:, n, :] = F1.T @ C2t[:, n, :] @ F2
    c = Ct.sum(axis=1)
    sigma = F1.T @ c
    Xi_S = Xi.sum(axis=1)
    vals, vecs = np.linalg.eig(Xi_S.T)
    keep = np.where((np.abs(vals) <= 1.0 + tol_one) & (np.real(vals) >= 0.0))[0]
    vals, vecs = vals[keep], vecs[:, keep]
    vals, vecs = sort_eigs(vals, vecs)
    omega = np.real(vecs[:, 0])
    omega = omega / np.dot(omega, sigma)
    return Xi, omega, sigma, vals


def equilibrium_transition_matrix(Xi: np.ndarray, omega: np.ndarray, sigma: np.ndarray,
                                  reversible: bool = True):
    """Equilibrium-corrected count matrix -> transition matrix + LCC
    (reference :271-326)."""
    Ct_eq = np.einsum("j,jkl,lmn,n->km", omega, Xi, Xi, sigma)
    Ct_eq[Ct_eq < 0.0] = 0.0
    pi_r = Ct_eq.sum(axis=1)
    if reversible:
        pi_sym = pi_r + Ct_eq.sum(axis=0)
        pi_sym[pi_sym == 0.0] = 1.0
        T = (Ct_eq + Ct_eq.T) / pi_sym[:, None]
    else:
        pi_r = pi_r.copy()
        pi_r[pi_r == 0.0] = 1.0
        T = Ct_eq / pi_r[:, None]
    lcc = connected_components(T > 0, directed=True)[0]
    T = T[np.ix_(lcc, lcc)]
    T = T / T.sum(axis=1, keepdims=True)
    return T, lcc


def oom_estimate_from_counts(
    Ct: np.ndarray,
    C2t: np.ndarray,
    rank_mode: str = "bootstrap_counts",
    tol_rank: float = 10.0,
    nbs: int = 500,
    seed: int = 42,
    reversible: bool = True,
):
    """Driver-side OOM estimation from dense count inputs: largest
    connected restriction, bootstrap rank decision, OOM components, and
    the equilibrium-corrected transition matrix. Shared by the Spark
    estimator (after its counting jobs collect) and the oracle replicas,
    so both sides run bit-identical numerics. Returns
    ``(T, state_symbols, Ct_sub, oom_eigenvalues)`` where ``Ct_sub`` is
    the count matrix restricted to the final connected set and
    ``state_symbols`` maps its rows back to original state ids."""
    Ct = np.asarray(Ct, dtype=np.float64)
    C2t = np.asarray(C2t, dtype=np.float64)
    lcc0 = connected_components(Ct > 0, directed=True)[0]
    Ct = Ct[np.ix_(lcc0, lcc0)]
    C2t = C2t[np.ix_(lcc0, lcc0, lcc0)]
    if rank_mode == "bootstrap_counts":
        smean, sdev = bootstrapping_count_matrix(Ct, nbs=nbs, seed=seed)
        rank_ind = rank_decision(smean, sdev, tol=tol_rank)
        if not rank_ind.any():
            rank_ind = np.linalg.svd(Ct, compute_uv=False) >= np.finfo(float).eps
    else:
        raise ValueError(f"unknown rank_mode {rank_mode!r}")
    Xi, omega, sigma, oom_vals = oom_components(Ct, C2t, rank_ind=rank_ind)
    T, lcc = equilibrium_transition_matrix(Xi, omega, sigma, reversible=reversible)
    symbols = lcc0[lcc]
    return T, symbols, Ct[np.ix_(lcc, lcc)], oom_vals


class OOMReweightedMSM(Estimator):
    """ctor mirrors the reference (_koopman_reweighted_msm.py): lagtime,
    rank_mode {'bootstrap_counts'}, tol_rank, reversible, nbs."""

    def __init__(self, lagtime: int, reversible: bool = True, rank_mode: str = "bootstrap_counts",
                 tol_rank: float = 10.0, nbs: int = 500, seed: int = 42, state_col: str = "state"):
        super().__init__()
        self.lagtime = lagtime
        self.reversible = reversible
        self.rank_mode = rank_mode
        self.tol_rank = tol_rank
        self.nbs = nbs
        self.seed = seed
        self.state_col = state_col
        self.oom_eigenvalues_: Optional[np.ndarray] = None

    def fit(self, df: DataFrame) -> "OOMReweightedMSM":
        tau = self.lagtime
        rows = transition_counts_df(df, tau, state_col=self.state_col).collect()
        n = max(max(r["s_from"], r["s_to"]) for r in rows) + 1
        Ct = np.zeros((n, n))
        for r in rows:
            Ct[r["s_from"], r["s_to"]] = r["n"]
        rows2 = two_step_counts_df(df, tau, state_col=self.state_col).collect()
        C2t = np.zeros((n, n, n))
        for r in rows2:
            C2t[r["s0"], r["s1"], r["s2"]] = r["n"]
        T, symbols, Ct_sub, oom_vals = oom_estimate_from_counts(
            Ct, C2t, rank_mode=self.rank_mode, tol_rank=self.tol_rank,
            nbs=self.nbs, seed=self.seed, reversible=self.reversible,
        )
        self.oom_eigenvalues_ = oom_vals
        count_model = TransitionCountModel(
            Ct_sub, counting_mode="sliding", lagtime=tau, state_symbols=symbols
        )
        self._model = MarkovStateModel(
            T, reversible=self.reversible, lagtime=tau, count_model=count_model
        )
        return self
