"""Bayesian HMM — Gibbs sampling over hidden paths and parameters.

Reference: ``BayesianHMM``
(/root/reference/src/deeptime/markov/hmm/_bayesian_hmm.py:153-643; Chodera
et al., "Bayesian hidden Markov model analysis of single-molecule force
spectroscopy", arXiv:1108.1430): alternate (a) sampling hidden state
trajectories by forward-filter backward-sampling (FFBS), (b) sampling the
initial distribution from its Dirichlet conditional, (c) sampling the
transition matrix given sampled-path counts (reversible Gibbs kernel from
tmatrix_sampling.py, or row-Dirichlet when nonreversible), (d) sampling
emission parameters from their conjugate conditionals.

Spark shape: step (a) is ONE grouped-map Arrow job per sweep — each
trajectory runs FFBS sequentially and emits its sampled-path sufficient
statistics (transition counts, initial state, emission stats); steps
(b)-(d) are driver updates on the reduced statistics. Sequences never
leave the executors.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from deeptime_spark.base import Estimator, Model
from deeptime_spark.hmm.hmm_model import HiddenMarkovModel, _blocks, _forward, _lanes
from deeptime_spark.hmm.output_models import DiscreteOutputModel, GaussianOutputModel
from deeptime_spark.markov.msm import MarkovStateModel, transition_matrix_nonreversible
from deeptime_spark.markov.tmatrix_sampling import sample_tmatrix_reversible


def ffbs_sample_path(A: np.ndarray, pobs: np.ndarray, pi: np.ndarray, rng) -> np.ndarray:
    """Forward-filter backward-sample: draws a hidden path from
    P(s_{0:T} | obs, params)."""
    T, N = pobs.shape
    alpha = np.zeros((T, N))
    alpha[0] = pi * pobs[0]
    alpha[0] /= max(alpha[0].sum(), 1e-300)
    for t in range(1, T):
        alpha[t] = (alpha[t - 1] @ A) * pobs[t]
        alpha[t] /= max(alpha[t].sum(), 1e-300)
    path = np.zeros(T, dtype=np.int64)
    path[T - 1] = rng.choice(N, p=alpha[T - 1])
    for t in range(T - 2, -1, -1):
        w = alpha[t] * A[:, path[t + 1]]
        w_sum = w.sum()
        if w_sum <= 0:
            w = alpha[t]
            w_sum = w.sum()
        path[t] = rng.choice(N, p=w / w_sum)
    return path


def _sample_rows(w: np.ndarray, u: np.ndarray) -> np.ndarray:
    """Vectorized categorical draw per row: invert the (unnormalized) CDF
    at u * total — no division, zero-total rows resolve to index 0."""
    cdf = np.cumsum(w, axis=1)
    idx = (u[:, None] * cdf[:, -1:] > cdf).sum(axis=1)
    return np.minimum(idx, w.shape[1] - 1)


def ffbs_sample_path_batch(A: np.ndarray, pobs_list: list, pi: np.ndarray, seeds: list) -> list:
    """Batched FFBS: the lane-exact forward pass of ``forward_backward_batch``
    per length class, then one backward-sampling time loop drawing every
    lane's state per step (inverse-CDF with per-trajectory pre-generated
    uniforms). A trajectory's path is a function of its own frames and seed
    alone: the same draw in any batch or partition layout. Terminal states
    are propagated through padded frames."""
    paths = [None] * len(pobs_list)
    for idx, pobs, lengths in _blocks(pobs_list):
        T, N, B = pobs.shape
        alpha = _forward(A, pobs, pi)[0].transpose(0, 2, 1)  # (T, lane, N)
        u = np.zeros((T, B))
        for k, b in enumerate(idx):
            u[: lengths[k], k] = np.random.default_rng(seeds[b]).random(lengths[k])
        lanes = np.arange(B)
        path = np.empty((T, B), dtype=np.int64)
        path[T - 1] = _sample_rows(alpha[lengths - 1, lanes], u[lengths - 1, lanes])
        for t in range(T - 2, -1, -1):
            nxt = path[t + 1]
            w = alpha[t] * A[:, nxt].T
            bad = w.sum(axis=1) <= 0
            if bad.any():
                w[bad] = alpha[t][bad]
            path[t] = np.where(t >= lengths - 1, nxt, _sample_rows(w, u[t]))
        _lanes(path, idx, lengths, paths)
    return paths


class BayesianHMMPosterior(Model):
    """prior + samples with gather_stats (reference base.py:175-238)."""

    def __init__(self, prior: HiddenMarkovModel, samples: list):
        self.prior = prior
        self.samples = samples

    def gather_stats(self, quantity: str, *args, confidence: float = 0.95, **kwargs):
        values = []
        for s in self.samples:
            attr = s
            for part in quantity.split("."):
                attr = getattr(attr, part)
            values.append(attr(*args, **kwargs) if callable(attr) else attr)
        arr = np.asarray(values, dtype=np.float64)
        lo = np.percentile(arr, 50 * (1 - confidence), axis=0)
        hi = np.percentile(arr, 100 - 50 * (1 - confidence), axis=0)
        return {"mean": arr.mean(axis=0), "std": arr.std(axis=0), "L": lo, "R": hi}


class BayesianHMM(Estimator):
    """ctor mirrors the reference (:153-260): initial_hmm (typically a
    fitted MLHMM), n_samples, stride between stored samples, priors,
    reversible."""

    def __init__(self, initial_hmm: HiddenMarkovModel, n_samples: int = 100, stride: int = 1,
                 initial_distribution_prior: float = 0.0, transition_matrix_prior: float = 0.0,
                 reversible: bool = True, seed: int = 42, obs_col: str = "state",
                 assume_colocated: bool = False):
        super().__init__()
        self.initial_hmm = initial_hmm
        self.n_samples = n_samples
        self.stride = stride
        self.initial_distribution_prior = initial_distribution_prior
        self.transition_matrix_prior = transition_matrix_prior
        self.reversible = reversible
        self.seed = seed
        self.obs_col = obs_col
        # caller guarantees df is already co-located (hash-partitioned, and
        # ideally persisted) by traj_id — fit() then skips its own
        # repartition + duplicate persist and reads the caller's cache
        self.assume_colocated = assume_colocated

    def _sweep_stats(self, df: DataFrame, A, pi, om, sweep_seed: int) -> dict:
        """One distributed FFBS sweep -> reduced sufficient statistics
        (partition-batched mapInPandas; one stats row per partition)."""
        from deeptime_spark.hmm.hmm_model import _partition_groups

        N = len(pi)
        obs_col = self.obs_col
        schema = StructType(
            [
                StructField("counts", ArrayType(DoubleType())),
                StructField("init_counts", ArrayType(DoubleType())),
                StructField("om_stats", ArrayType(DoubleType())),
            ]
        )

        def sweep(batches):
            groups = _partition_groups(batches, obs_col)
            if not groups:
                return
            pobs_list = [om.to_state_probability_trajectory(o) for _, _, o in groups]
            seeds = [sweep_seed * 100003 + int(tid) for tid, _, _ in groups]
            paths = ffbs_sample_path_batch(A, pobs_list, pi, seeds)
            counts = np.zeros((N, N))
            init_counts = np.zeros(N)
            om_stats = np.zeros(om.stats_dim())
            for (_, _, obs), path in zip(groups, paths):
                np.add.at(counts, (path[:-1], path[1:]), 1.0)
                init_counts[path[0]] += 1.0
                # emission stats from the SAMPLED path (hard assignment)
                gamma_hard = np.zeros((len(path), N))
                gamma_hard[np.arange(len(path)), path] = 1.0
                om_stats += om.collect_stats(obs, gamma_hard)
            yield pd.DataFrame(
                {
                    "counts": [counts.ravel().tolist()],
                    "init_counts": [init_counts.tolist()],
                    "om_stats": [om_stats.tolist()],
                }
            )

        rows = df.mapInPandas(sweep, schema=schema).collect()
        C = np.zeros((N, N))
        init_counts = np.zeros(N)
        om_stats = np.zeros(om.stats_dim())
        for r in rows:
            C += np.array(r["counts"]).reshape(N, N)
            init_counts += np.array(r["init_counts"])
            om_stats += np.array(r["om_stats"])
        return {"C": C, "init": init_counts, "om_stats": om_stats}

    def fit(self, df: DataFrame, progress=None) -> "BayesianHMM":
        # persist co-located by trajectory: every sweep's mapInPandas then
        # reads cached partitions with no per-sweep shuffle
        df = df.select("traj_id", "t", self.obs_col)
        owns_cache = not self.assume_colocated
        if owns_cache:
            df = df.repartition(
                df.sparkSession.sparkContext.defaultParallelism, "traj_id"
            ).persist()
        try:
            self._model = self.fit_with_sweeper(
                lambda A, pi, om, seed: self._sweep_stats(df, A, pi, om, seed), progress
            )
        finally:
            if owns_cache:
                df.unpersist()
        return self

    def fit_with_sweeper(self, sweep_fn, progress=None) -> "BayesianHMMPosterior":
        """Gibbs chain over pluggable sweep statistics (the Spark-free
        driver core of ``fit``; the correctness oracle replays it with a
        numpy sweeper over independently-derived trajectories — valid
        because every sweep statistic is an integer count, so the
        reduction is exact and layout-independent)."""
        from deeptime_spark.callbacks import ProgressCallback

        rng = np.random.default_rng(self.seed)
        init = self.initial_hmm
        N = init.n_hidden_states
        A = np.array(init.transition_matrix, copy=True)
        pi = np.array(init.initial_distribution, copy=True)
        om = init.output_model.copy()
        samples = []
        cb_ctx = ProgressCallback(progress, desc="gibbs", total=self.n_samples * self.stride)
        with cb_ctx as cb:
            for sweep in range(self.n_samples * self.stride):
                cb()
                stats = sweep_fn(A, pi, om, self.seed + sweep)
                # (b) initial distribution ~ Dirichlet(prior + init counts)
                pi = rng.dirichlet(stats["init"] + self.initial_distribution_prior + 1e-3)
                # (c) transition matrix given sampled-path counts
                Cp = stats["C"] + self.transition_matrix_prior
                if self.reversible:
                    A = sample_tmatrix_reversible(
                        Cp, n_samples=1, n_steps=1, seed=self.seed + 7919 * sweep, T0=A
                    )[0]
                else:
                    A = np.vstack([rng.dirichlet(Cp[i] + 1.0) for i in range(N)])
                # (d) emission parameters from conjugate conditionals
                om = self._sample_output_model(om, stats["om_stats"], rng)
                if sweep % self.stride == self.stride - 1:
                    samples.append(
                        HiddenMarkovModel(
                            MarkovStateModel(A.copy(), reversible=self.reversible,
                                             lagtime=init.transition_model.lagtime),
                            om.copy(),
                            initial_distribution=pi.copy(),
                        )
                    )
        return BayesianHMMPosterior(prior=init, samples=samples)

    @staticmethod
    def _sample_output_model(om, om_stats: np.ndarray, rng):
        out = om.copy()
        if isinstance(om, DiscreteOutputModel):
            N, M = om.output_probabilities.shape
            counts = om_stats.reshape(N, M)
            B = np.vstack([rng.dirichlet(counts[i] + 1e-3) for i in range(N)])
            out.output_probabilities = B
        elif isinstance(om, GaussianOutputModel):
            N = om.n_hidden_states
            w, wx, wxx = om_stats[:N], om_stats[N : 2 * N], om_stats[2 * N :]
            for i in range(N):
                if w[i] < 2:
                    continue
                mean = wx[i] / w[i]
                var = max(wxx[i] / w[i] - mean * mean, 1e-12)
                # sample variance ~ scaled inverse chi^2, mean ~ N(mean, var/n)
                var_s = var * w[i] / rng.chisquare(max(w[i] - 1, 1))
                out.sigmas[i] = np.sqrt(var_s)
                out.means[i] = rng.normal(mean, np.sqrt(var_s / w[i]))
        else:
            raise ValueError(f"unsupported output model {type(om)}")
        return out
