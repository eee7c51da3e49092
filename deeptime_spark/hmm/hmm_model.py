"""Hidden Markov model + the sequential per-trajectory kernels.

Reference: ``HiddenMarkovModel``
(/root/reference/src/deeptime/markov/hmm/_hidden_markov_model.py:14-1078),
``viterbi`` (:1055), C++ forward/backward (hmm/_hmm_bindings utils).

``forward_backward``/``viterbi`` are the scalar reference kernels; the
batched ``forward_backward_batch``/``viterbi_batch`` run many trajectories
in one vectorized time loop and are lane-exact: a trajectory's result is
bit-identical alone or in any batch. So a Spark partition (mapInPandas)
and the driver (inputs inside ``dispatch.BOUNDS["hmm"]``) compute the
same numbers, and the model's DataFrame methods pick either path. They
also take a trajectory already fetched with ``dispatch.fetch`` (numpy
columns traj_id, t, obs), as deeptime's estimators take numpy dtrajs.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from deeptime_spark import dispatch
from deeptime_spark.local_relation import columns_df


def forward_backward(A: np.ndarray, pobs: np.ndarray, pi: np.ndarray):
    """Scaled forward-backward pass over one observation sequence.

    Returns (loglik, gamma, counts): gamma[t, i] = P(s_t = i | obs) and
    counts = sum_t xi(t), the Baum-Welch transition counts. Mirrors the
    reference C++ ``_util.forward_backward`` semantics (scaling per frame,
    loglik = sum log scale).
    """
    T, N = pobs.shape
    alpha = np.zeros((T, N))
    scale = np.zeros(T)
    alpha[0] = pi * pobs[0]
    scale[0] = max(alpha[0].sum(), 1e-300)
    alpha[0] /= scale[0]
    for t in range(1, T):
        alpha[t] = (alpha[t - 1] @ A) * pobs[t]
        scale[t] = max(alpha[t].sum(), 1e-300)
        alpha[t] /= scale[t]
    beta = np.zeros((T, N))
    beta[T - 1] = 1.0
    for t in range(T - 2, -1, -1):
        beta[t] = (A @ (pobs[t + 1] * beta[t + 1])) / scale[t + 1]
    gamma = alpha * beta
    gamma_sum = gamma.sum(axis=1, keepdims=True)
    gamma_sum[gamma_sum == 0.0] = 1.0
    gamma /= gamma_sum
    # counts = A .* (alpha[:-1]^T @ (pobs[1:] * beta[1:] / scale[1:]))
    if T > 1:
        weighted = pobs[1:] * beta[1:] / scale[1:, None]
        counts = A * (alpha[:-1].T @ weighted)
    else:
        counts = np.zeros((N, N))
    loglik = float(np.sum(np.log(scale)))
    return loglik, gamma, counts


def _vecmat(x: np.ndarray, M: np.ndarray) -> np.ndarray:
    """out[j, b] = sum_i x[i, b] * M[i, j] for a state-major (N, B) frame,
    summed over i = 0..N-1 in that order with elementwise ops only. Unlike
    ``x @ M`` (BLAS, whose blocking depends on the batch size), each lane's
    value is the same in any batch."""
    out = M[0][:, None] * x[0]
    for i in range(1, M.shape[0]):
        out += M[i][:, None] * x[i]
    return out


def _statesum(x: np.ndarray) -> np.ndarray:
    """Sum over the state axis (axis 0 of a (N, ...) array) in index order."""
    out = x[0].copy()
    for i in range(1, x.shape[0]):
        out += x[i]
    return out


def _pad_pobs(pobs_list: list) -> tuple[np.ndarray, np.ndarray]:
    """Stack variable-length (T_b, N) sequences into one (T_max, N, B) block
    (time-major, lanes contiguous) padded with 1.0. The kernels never read a
    lane's padding into its own frames: the forward pass runs front to back,
    the backward pass starts every lane at its own last frame, and per-lane
    sums stop there."""
    lengths = np.array([p.shape[0] for p in pobs_list], dtype=np.int64)
    B, T, N = len(pobs_list), int(lengths.max()), pobs_list[0].shape[1]
    pobs = np.ones((T, N, B))
    for b, p in enumerate(pobs_list):
        pobs[: len(p), :, b] = p
    return pobs, lengths


def _blocks(pobs_list: list):
    """Yield (lane indices, padded block, lengths) per power-of-two length
    class: inside a class the longest lane is under twice the shortest, so
    a block's padded cells stay under 2x its real frames, and one long
    trajectory no longer pads every short one to its length. Lane-exact
    kernels make the grouping invisible in the results."""
    lengths = np.array([len(p) for p in pobs_list], dtype=np.int64)
    cls = np.frexp(lengths)[1]  # L in [2^(c-1), 2^c)
    for c in np.unique(cls):
        idx = np.flatnonzero(cls == c)
        pobs, lens = _pad_pobs([pobs_list[i] for i in idx])
        yield idx, pobs, lens


def _lanes(block: np.ndarray, idx, lengths, out: list) -> None:
    """Scatter a time-major block with lanes last, (T, B) or (T, N, B),
    back into per-lane (T_b,) or (T_b, N) arrays at positions ``idx``."""
    lanes = np.moveaxis(block, -1, 0).copy()
    for k, b in enumerate(idx):
        out[b] = lanes[k, : lengths[k]]


def _forward(A: np.ndarray, pobs: np.ndarray, pi: np.ndarray):
    """Scaled forward pass over one (T, N, B) block: alpha with each frame
    normalized to sum 1, and the scale factors (T, B)."""
    T, N, B = pobs.shape
    alpha = np.empty((T, N, B))
    scale = np.empty((T, B))
    a = pi[:, None] * pobs[0]
    for t in range(T):
        if t:
            a = _vecmat(alpha[t - 1], A)
            a *= pobs[t]
        s = np.maximum(_statesum(a), 1e-300)
        np.divide(a, s, out=alpha[t])
        scale[t] = s
    return alpha, scale


def _forward_backward_block(A: np.ndarray, pobs: np.ndarray, lengths: np.ndarray, pi: np.ndarray):
    """Forward-backward over one (T, N, B) block: per-lane loglik (B,),
    gamma0 (N, B), counts (N, N, B) and gamma (T, N, B). Lane b's numbers
    depend only on its own frames [0, lengths[b]): beta is exactly 1.0 at
    its own last frame, counts add xi(t) for t = T-2 .. 0 with exact zeros
    past that frame, and loglik is a sequential cumulative sum of log
    scales read at that frame."""
    T, N, B = pobs.shape
    alpha, scale = _forward(A, pobs, pi)
    last = lengths - 1
    beta = np.empty((T, N, B))
    beta[T - 1] = 1.0
    xi_sum = np.zeros((N, N, B))
    for t in range(T - 2, -1, -1):
        live = t < last  # lane has a transition t -> t + 1
        w = pobs[t + 1] * beta[t + 1]
        w /= scale[t + 1]
        w *= live
        beta[t] = np.where(live, _vecmat(w, A.T), 1.0)
        xi_sum += alpha[t][:, None, :] * w[None, :, :]
    gamma = alpha * beta
    gsum = _statesum(gamma.transpose(1, 0, 2))
    gsum[gsum == 0.0] = 1.0
    gamma /= gsum[:, None, :]
    loglik = np.cumsum(np.log(scale), axis=0)[last, np.arange(B)]
    return loglik, gamma[0], A[:, :, None] * xi_sum, gamma


def forward_backward_batch(A: np.ndarray, pobs_list: list, pi: np.ndarray):
    """Scaled forward-backward over a batch of sequences, one vectorized
    time loop per length class (see ``_blocks``) instead of a Python loop
    per trajectory.

    Returns per-lane (loglik (B,), gamma0 (B, N), counts (B, N, N),
    gammas list of (T_b, N)). Lane-exact: every lane's numbers are
    bit-identical to a B=1 call on that sequence alone, whatever else
    shares the batch, so callers that reduce lanes in a fixed order get
    results independent of how trajectories were grouped. Agrees with the
    scalar ``forward_backward`` to rounding (it sums in a different order).
    """
    B, N = len(pobs_list), len(pi)
    loglik, gamma0, counts = np.zeros(B), np.zeros((B, N)), np.zeros((B, N, N))
    gammas = [None] * B
    for idx, pobs, lengths in _blocks(pobs_list):
        ll, g0, c, gamma = _forward_backward_block(A, pobs, lengths, pi)
        loglik[idx], gamma0[idx], counts[idx] = ll, g0.T, c.transpose(2, 0, 1)
        _lanes(gamma, idx, lengths, gammas)
    return loglik, gamma0, counts, gammas


def viterbi_batch(A: np.ndarray, pobs_list: list, pi: np.ndarray) -> list:
    """Batched log-space Viterbi, one (T, N, B) block per length class.
    Every step is elementwise or a max/argmax over the from-state axis, so
    paths are lane-exact. Padded frames get identity backpointers so every
    path can be traced from the block's last frame; each lane's terminal
    scores are taken at its own last frame."""
    paths = [None] * len(pobs_list)
    with np.errstate(divide="ignore"):
        logA = np.log(A)[:, :, None]  # (from, to, lane)
    for idx, pobs, lengths in _blocks(pobs_list):
        T, N, B = pobs.shape
        with np.errstate(divide="ignore"):
            logp = np.log(np.maximum(pobs, 1e-300))
            delta = np.log(np.maximum(pi, 1e-300))[:, None] + logp[0]
        ptr = np.zeros((T, N, B), dtype=np.int32)
        ident = np.arange(N, dtype=np.int32)[:, None]
        final_delta = np.where(lengths == 1, delta, 0.0)
        for t in range(1, T):
            cand = delta[:, None, :] + logA  # (from, to, lane)
            ptr[t] = np.where(lengths <= t, ident, cand.argmax(axis=0))
            delta = cand.max(axis=0) + logp[t]
            final_delta = np.where(lengths - 1 == t, delta, final_delta)
        path = np.empty((T, B), dtype=np.int64)
        path[T - 1] = final_delta.argmax(axis=0)
        lanes = np.arange(B)
        for t in range(T - 2, -1, -1):
            path[t] = ptr[t + 1, path[t + 1], lanes]
        _lanes(path, idx, lengths, paths)
    return paths


def _groups(traj: np.ndarray, t: np.ndarray, obs: np.ndarray) -> list:
    """Split (traj_id, t, obs) columns into per-trajectory (traj_id,
    t_array, obs_array) groups in (traj_id, t) order."""
    order = np.lexsort((t, traj))
    traj, t, obs = traj[order], t[order], obs[order]
    bounds = np.flatnonzero(np.r_[True, traj[1:] != traj[:-1]]) if len(traj) else []
    ends = np.r_[bounds[1:], len(traj)]
    return [(traj[b], t[b:e], obs[b:e]) for b, e in zip(bounds, ends)]


def _partition_groups(batches, obs_col: str) -> list:
    """``_groups`` of one mapInPandas partition's pandas batches (rows of a
    trajectory are co-located by the upstream repartition)."""
    pdfs = [p for p in batches]
    if not pdfs:
        return []
    pdf = pd.concat(pdfs, ignore_index=True)
    return _groups(pdf["traj_id"].to_numpy(), pdf["t"].to_numpy(), pdf[obs_col].to_numpy())


def _local_groups(a: dict, obs_col: str) -> list:
    """``_groups`` of a trajectory fetched to the driver (``dispatch.fetch``)."""
    return _groups(a["traj_id"], a["t"], a[obs_col])


def _decode_groups(groups: list, kind: str, A: np.ndarray, pi: np.ndarray, om) -> dict:
    """Decode (traj_id, t, obs) groups with one lane-exact kernel call:
    per-frame gamma (``kind="gamma"``) or the Viterbi path, as the columns
    of (traj_id, t, state_probabilities | hidden_state) rows."""
    pobs_list = [om.to_state_probability_trajectory(obs) for _, _, obs in groups]
    out = {
        "traj_id": np.repeat(
            np.array([tid for tid, _, _ in groups], dtype=np.int64), [len(t) for _, t, _ in groups]
        ),
        "t": np.concatenate([np.empty(0, np.int64), *(t for _, t, _ in groups)]),
    }
    if kind == "gamma":
        gammas = forward_backward_batch(A, pobs_list, pi)[3]
        out["state_probabilities"] = pd.Series([g for gam in gammas for g in gam], dtype=object)
    else:
        paths = viterbi_batch(A, pobs_list, pi)
        out["hidden_state"] = np.concatenate([np.empty(0, np.int32), *paths]).astype(np.int32)
    return out


def viterbi(A: np.ndarray, pobs: np.ndarray, pi: np.ndarray) -> np.ndarray:
    """Most likely hidden path (log-space DP; reference
    _hidden_markov_model.py:1055-1078)."""
    T, N = pobs.shape
    with np.errstate(divide="ignore"):
        logA = np.log(A)
        logp = np.log(np.maximum(pobs, 1e-300))
        delta = np.log(np.maximum(pi, 1e-300)) + logp[0]
    ptr = np.zeros((T, N), dtype=np.int64)
    for t in range(1, T):
        cand = delta[:, None] + logA
        ptr[t] = np.argmax(cand, axis=0)
        delta = cand[ptr[t], np.arange(N)] + logp[t]
    path = np.zeros(T, dtype=np.int64)
    path[T - 1] = int(np.argmax(delta))
    for t in range(T - 2, -1, -1):
        path[t] = ptr[t + 1][path[t + 1]]
    return path


class HiddenMarkovModel:
    """Hidden transition model + output model + initial distribution
    (reference _hidden_markov_model.py:14-1078)."""

    def __init__(
        self,
        transition_model,
        output_model,
        initial_distribution: Optional[np.ndarray] = None,
        likelihoods: Optional[np.ndarray] = None,
        initial_count: Optional[np.ndarray] = None,
        stride: int = 1,
    ):
        self.transition_model = transition_model
        self.output_model = output_model
        n = output_model.n_hidden_states
        self.initial_distribution = (
            np.full(n, 1.0 / n) if initial_distribution is None else np.asarray(initial_distribution)
        )
        self.likelihoods = likelihoods
        self.initial_count = initial_count
        self.stride = stride

    @property
    def n_hidden_states(self) -> int:
        return self.output_model.n_hidden_states

    @property
    def transition_matrix(self) -> np.ndarray:
        return self.transition_model.transition_matrix

    @property
    def stationary_distribution(self) -> np.ndarray:
        return self.transition_model.stationary_distribution

    def lifetimes(self) -> np.ndarray:
        """Expected residence time per hidden state -tau/ln T_ii
        (reference :engine parity)."""
        with np.errstate(divide="ignore"):
            return -self.transition_model.lagtime / np.log(np.diag(self.transition_matrix))

    def timescales(self, k: Optional[int] = None) -> np.ndarray:
        return self.transition_model.timescales(k)

    # ------------------------------------------------------- DataFrame API

    def _decode_df(self, data, kind: str, obs_col: str, colocated: bool = False) -> DataFrame:
        """Batched decode. A trajectory fetched to the driver (the
        ``dispatch.fetch`` arrays of (traj_id, t, obs_col)) is decoded there
        into a local frame; a frame inside the ``hmm`` dispatch bound is
        fetched once and decoded the same way; above it trajectories are
        co-located by hash repartition and one mapInPandas pass decodes
        each partition with one kernel call. Lane-exact kernels make both
        paths return the same rows."""
        A = self.transition_matrix
        pi = self.initial_distribution
        om = self.output_model
        if kind == "gamma":
            schema = StructType(
                [
                    StructField("traj_id", LongType()),
                    StructField("t", LongType()),
                    StructField("state_probabilities", ArrayType(DoubleType())),
                ]
            )
        else:
            schema = StructType(
                [
                    StructField("traj_id", LongType()),
                    StructField("t", LongType()),
                    StructField("hidden_state", IntegerType()),
                ]
            )

        def fn(batches):
            groups = _partition_groups(batches, obs_col)
            if groups:
                yield pd.DataFrame(_decode_groups(groups, kind, A, pi, om))

        if isinstance(data, dict):
            local, spark, out = data, SparkSession.active(), None
        else:
            spark, out = data.sparkSession, data.select("traj_id", "t", obs_col)
            local = dispatch.fetch("hmm", out)
        if local is not None:
            cols = _decode_groups(_local_groups(local, obs_col), kind, A, pi, om)
            return columns_df(spark, cols, schema)
        if not colocated:
            # pin parallelism: AQE coalescing would serialize the decode
            out = out.repartition(spark.sparkContext.defaultParallelism, "traj_id")
        return out.mapInPandas(fn, schema=schema)

    def state_probabilities_df(self, df, obs_col: str = "state") -> DataFrame:
        """gamma per frame: batched forward-backward per partition (the
        reference's `transform(..., 'sfull')`)."""
        return self._decode_df(df, "gamma", obs_col)

    def viterbi_df(self, df, obs_col: str = "state", colocated: bool = False) -> DataFrame:
        """Most likely hidden path per trajectory of a frame or of a fetched
        trajectory. ``colocated=True`` skips the repartition when the
        caller's frame is already hash-partitioned by traj_id (e.g.
        persisted upstream of an EM fit)."""
        return self._decode_df(df, "viterbi", obs_col, colocated=colocated)

    def transform(self, df: DataFrame, obs_col: str = "state") -> DataFrame:
        return self.state_probabilities_df(df, obs_col)

    def simulate(self, n_steps: int, start: Optional[int] = None, seed: int = 42):
        """Generate (hidden, observed) trajectories (reference :simulate)."""
        rng = np.random.default_rng(seed)
        n = self.n_hidden_states
        s = int(rng.choice(n, p=self.initial_distribution)) if start is None else start
        hidden = np.zeros(n_steps, dtype=np.int64)
        obs = []
        for t in range(n_steps):
            hidden[t] = s
            obs.append(self.output_model.sample_observation(s, rng))
            s = int(rng.choice(n, p=self.transition_matrix[s]))
        return hidden, np.array(obs)
