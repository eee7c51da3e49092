"""Deep (neural-network) decomposition estimators, torch-free.

Reference capability: ``VAMPNet`` (/root/reference/src/deeptime/
decomposition/deep/_vampnet.py:330-560 — feed-forward lobe trained to
maximize the VAMP score of its features) and ``TAE`` (_tae.py:78-224 —
time-lagged autoencoder minimizing the reconstruction MSE of the
lagged frame). The reference trains with torch/autograd on a DataLoader;
this container has no torch, so both estimators are re-derived from the
published math (Mardt et al., "VAMPnets for deep learning of molecular
kinetics", Nat. Commun. 9, 5 (2018); Wehmeyer & Noe, "Time-lagged
autoencoders", J. Chem. Phys. 148, 241703 (2018)) with:

- a small numpy MLP (tanh hiddens, linear output) with hand-written
  backprop — the nets these estimators need are tiny (the cost is the
  data pass, not the parameters);
- EXACT analytic gradients of the VAMP-2 score through the
  mean-removed covariance matrices, including the eigenvalue-truncated
  symmetric inverse, via the Daleckii-Krein matrix-function derivative
  (finite-difference-pinned in tests);
- deterministic FULL-BATCH Adam: every epoch is two Spark jobs
  (VAMPNet) or one (TAE) over trajectory-colocated, time-sorted
  partitions, emitting ONE sufficient-statistics / gradient-partial row
  per trajectory, reduced driver-side in sorted trajectory order — the
  same partition-layout-independent pattern as the distributed
  Baum-Welch E-step (hmm/mlhmm.py), so results are bit-identical for
  any partitioning AND replayable by the engine-independent oracle.

Spark shape at 100 TB: the corpus never leaves the executors — each
epoch streams the colocated partitions through the net (vectorized
numpy per trajectory batch) and ships back O(n_trajectories) small stat
rows; the driver touches only k x k matrices and the parameter vector.
Colocation is ONE shuffle paid once before the epoch loop.
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deeptime_spark import dispatch
from deeptime_spark.base import Estimator, Model, Transformer

__all__ = [
    "VAMPNet",
    "VAMPNetModel",
    "TAE",
    "TAEModel",
    "mlp_init",
    "mlp_forward",
    "mlp_backward",
    "vamp2_grads",
    "vampnet_train_arrays",
    "tae_train_arrays",
]


# ------------------------------------------------------------------ MLP

_CHUNK = 1024


def _gemm_t(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """A.T @ B with the long (sample) axis as the contraction axis,
    computed by np.einsum WITHOUT BLAS: a dgemm over a long K is
    bit-sensitive to the BLAS thread count — Spark python workers run
    with OMP_NUM_THREADS=1 while the driver replay sees all cores, and
    the two differ at ~1e-12, which full-batch training amplifies into
    parameter divergence. einsum's own C loops are single-threaded with
    a fixed summation order, so executor and driver produce identical
    bits; the matrices here are (n x k) with tiny k, where einsum's
    throughput is perfectly adequate."""
    return np.einsum("ni,nj->ij", A, B, optimize=False)


def _mm(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """A @ B via einsum for the same reason as :func:`_gemm_t`: even the
    tiny-K forward/backward matmuls differ by an ulp between BLAS thread
    configurations (gemv kernel selection), and an ulp in epoch 1 is a
    different parameter vector by epoch 8."""
    return np.einsum("ni,ij->nj", A, B, optimize=False)


def _stack_feature_cols(cols) -> np.ndarray:
    """Stack pandas Series into an (n, d) float64 matrix; each column may
    be a scalar double or an array<double> (flattened side by side)."""
    mats = []
    for c in cols:
        v = c.to_numpy()
        if len(v) and isinstance(v[0], (list, np.ndarray)):
            mats.append(np.stack([np.asarray(e, dtype=np.float64) for e in v]))
        else:
            mats.append(c.to_numpy(dtype=np.float64)[:, None])
    return np.concatenate(mats, axis=1) if len(mats) > 1 else mats[0]


def _sum0(A: np.ndarray) -> np.ndarray:
    """Column sums over the same fixed chunking (np.sum is not BLAS, but
    keeping one summation discipline for every long-axis reduction makes
    the determinism argument uniform)."""
    n = len(A)
    out = A[:_CHUNK].sum(axis=0)
    for i in range(_CHUNK, n, _CHUNK):
        out += A[i : i + _CHUNK].sum(axis=0)
    return out

def mlp_init(layers: Sequence[int], seed: int = 42) -> List[np.ndarray]:
    """Xavier-uniform weights + zero biases, seeded PCG64: [W1, b1, ...].
    tanh hiddens, linear output (the reference lobes default to
    nonlinearity-then-linear-head as well)."""
    rng = np.random.default_rng(seed)
    params: List[np.ndarray] = []
    for d_in, d_out in zip(layers[:-1], layers[1:]):
        bound = np.sqrt(6.0 / (d_in + d_out))
        params.append(rng.uniform(-bound, bound, size=(d_in, d_out)))
        params.append(np.zeros(d_out))
    return params


def mlp_forward(params: List[np.ndarray], X: np.ndarray):
    """Forward pass; returns (output, activations) where activations[i]
    is the input of layer i (needed for backprop)."""
    acts = [X]
    a = X
    n_layers = len(params) // 2
    for layer in range(n_layers):
        W, b = params[2 * layer], params[2 * layer + 1]
        z = _mm(a, W) + b
        a = z if layer == n_layers - 1 else np.tanh(z)
        acts.append(a)
    return a, acts


def mlp_backward(params: List[np.ndarray], acts: List[np.ndarray], d_out: np.ndarray):
    """Backprop of sum-form objectives: given dL/d(output) rows, returns
    per-parameter gradient SUMS over the batch (same layout as params)."""
    n_layers = len(params) // 2
    grads: List[Optional[np.ndarray]] = [None] * len(params)
    delta = d_out
    for layer in range(n_layers - 1, -1, -1):
        a_in = acts[layer]
        grads[2 * layer] = _gemm_t(a_in, delta)
        grads[2 * layer + 1] = _sum0(delta)
        if layer > 0:
            W = params[2 * layer]
            # hidden activations are tanh: a' = 1 - a^2
            a_hidden = acts[layer]
            delta = _mm(delta, W.T) * (1.0 - a_hidden * a_hidden)
    return grads


class _Adam:
    """Plain Adam (Kingma & Ba 2015), deterministic."""

    def __init__(self, params: List[np.ndarray], lr: float = 0.05,
                 beta1: float = 0.9, beta2: float = 0.999, eps: float = 1e-8):
        self.lr, self.b1, self.b2, self.eps = lr, beta1, beta2, eps
        self.m = [np.zeros_like(p) for p in params]
        self.v = [np.zeros_like(p) for p in params]
        self.t = 0

    def step(self, params: List[np.ndarray], grads: List[np.ndarray]) -> None:
        self.t += 1
        b1t = 1.0 - self.b1 ** self.t
        b2t = 1.0 - self.b2 ** self.t
        for i, (p, g) in enumerate(zip(params, grads)):
            self.m[i] = self.b1 * self.m[i] + (1.0 - self.b1) * g
            self.v[i] = self.b2 * self.v[i] + (1.0 - self.b2) * (g * g)
            p -= self.lr * (self.m[i] / b1t) / (np.sqrt(self.v[i] / b2t) + self.eps)


# --------------------------------------------------- VAMP-2 with grads

def _trunc_inverse_with_grad_basis(C: np.ndarray, epsilon: float):
    """Eigendecomposition of the symmetrized C plus the truncated-inverse
    spectrum f(l) = 1/l [l > eps else 0] and its derivative — the inputs
    of the Daleckii-Krein derivative below."""
    Cs = 0.5 * (C + C.T)
    lam, U = np.linalg.eigh(Cs)
    f = np.where(lam > epsilon, 1.0 / np.where(lam > epsilon, lam, 1.0), 0.0)
    fp = np.where(lam > epsilon, -1.0 / np.where(lam > epsilon, lam * lam, 1.0), 0.0)
    return lam, U, f, fp


def _daleckii_krein(lam: np.ndarray, U: np.ndarray, f: np.ndarray,
                    fp: np.ndarray, M: np.ndarray) -> np.ndarray:
    """d tr(f(C) M) / dC for symmetric C, M via the Daleckii-Krein
    formula: U [ Gamma o (U^T M U) ] U^T with
    Gamma_kl = (f(l_k) - f(l_l)) / (l_k - l_l), Gamma_kk = f'(l_k)."""
    dl = lam[:, None] - lam[None, :]
    close = np.abs(dl) < 1e-12
    df = f[:, None] - f[None, :]
    gamma = np.where(close, 0.5 * (fp[:, None] + fp[None, :]), df / np.where(close, 1.0, dl))
    Ms = 0.5 * (M + M.T)
    return U @ (gamma * (U.T @ Ms @ U)) @ U.T


def vamp2_grads(C00: np.ndarray, C0t: np.ndarray, Ctt: np.ndarray, epsilon: float = 1e-6):
    """VAMP-2 score (+1 constant-function contribution, reference
    _vampnet.py:212-215 semantics with mode='trunc') and its EXACT
    gradients w.r.t. the three covariance matrices.

    score = 1 + tr(C00^-1 C0t Ctt^-1 C0t^T) with eigenvalue-truncated
    inverses; the C00/Ctt gradients run through the truncation via
    Daleckii-Krein. Returns (score, dS/dC00, dS/dC0t, dS/dCtt)."""
    l0, U0, f0, fp0 = _trunc_inverse_with_grad_basis(C00, epsilon)
    l1, U1, f1, fp1 = _trunc_inverse_with_grad_basis(Ctt, epsilon)
    Inv00 = (U0 * f0) @ U0.T
    Inv11 = (U1 * f1) @ U1.T
    P = Inv00 @ C0t @ Inv11
    score = 1.0 + float(np.trace(P @ C0t.T))
    G0t = 2.0 * P
    M0 = C0t @ Inv11 @ C0t.T
    M1 = C0t.T @ Inv00 @ C0t
    G00 = _daleckii_krein(l0, U0, f0, fp0, M0)
    G11 = _daleckii_krein(l1, U1, f1, fp1, M1)
    return score, G00, G0t, G11


# -------------------------------------- per-trajectory kernels (shared
# verbatim by the Spark executors and the oracle / driver replay)

def _traj_pairs(X: np.ndarray, tau: int):
    if len(X) <= tau:
        return None, None
    return X[:-tau], X[tau:]


def vamp_cov_partial(params: List[np.ndarray], X: np.ndarray, tau: int,
                     k: int) -> Optional[np.ndarray]:
    """Pass A: one trajectory's UNCENTERED sufficient statistics of the
    lobe features — [n, sum chi_x, sum chi_y, S00, S0t, S11] flattened."""
    x, y = _traj_pairs(X, tau)
    if x is None:
        return None
    cx, _ = mlp_forward(params, x)
    cy, _ = mlp_forward(params, y)
    return np.concatenate([
        [float(len(cx))],
        _sum0(cx),
        _sum0(cy),
        _gemm_t(cx, cx).ravel(),
        _gemm_t(cx, cy).ravel(),
        _gemm_t(cy, cy).ravel(),
    ])


def vamp_grad_partial(params: List[np.ndarray], X: np.ndarray, tau: int,
                      mu0: np.ndarray, mu1: np.ndarray,
                      Gh00: np.ndarray, Gh0t: np.ndarray, Gh11: np.ndarray
                      ) -> Optional[List[np.ndarray]]:
    """Pass B: one trajectory's parameter-gradient sums of the LOSS
    (-score), given the driver-computed, 1/N-prescaled covariance
    gradients. Per-sample feature grads (means cancel — the grads are
    linear in the centered features):
      d/dchi_x = xc @ Gh00 + yc @ Gh0t^T
      d/dchi_y = yc @ Gh11 + xc @ Gh0t
    then one shared-weights backprop per lobe copy."""
    x, y = _traj_pairs(X, tau)
    if x is None:
        return None
    cx, ax = mlp_forward(params, x)
    cy, ay = mlp_forward(params, y)
    xc = cx - mu0
    yc = cy - mu1
    d_cx = _mm(xc, Gh00) + _mm(yc, Gh0t.T)
    d_cy = _mm(yc, Gh11) + _mm(xc, Gh0t)
    gx = mlp_backward(params, ax, d_cx)
    gy = mlp_backward(params, ay, d_cy)
    return [a + b for a, b in zip(gx, gy)]


def tae_grad_partial(params: List[np.ndarray], X: np.ndarray, tau: int
                     ) -> Optional[tuple]:
    """One trajectory's (n_pairs, sse, unscaled parameter-gradient sums)
    for the time-lagged autoencoder loss sum ||net(x_t) - x_{t+tau}||^2
    (the 1/N scaling happens once, driver-side)."""
    x, y = _traj_pairs(X, tau)
    if x is None:
        return None
    out, acts = mlp_forward(params, x)
    resid = out - y
    sse = float(_sum0((resid * resid)).sum())
    grads = mlp_backward(params, acts, 2.0 * resid)
    return float(len(x)), sse, grads


def _flatten(grads: List[np.ndarray]) -> np.ndarray:
    return np.concatenate([g.ravel() for g in grads])


def _unflatten(flat: np.ndarray, like: List[np.ndarray]) -> List[np.ndarray]:
    out, i = [], 0
    for p in like:
        out.append(flat[i : i + p.size].reshape(p.shape))
        i += p.size
    return out


def _require_rows(rows, what: str):
    if not rows:
        raise ValueError(
            f"no trajectory produced {what}: every trajectory is shorter "
            "than lagtime + 1 — lower the lagtime or provide longer "
            "trajectories"
        )


def reduce_vamp_stats(rows: List[tuple], k: int):
    """Sorted-traj-order reduction of pass-A rows [(traj_id, stats)] into
    (N, mu0, mu1, C00, C0t, C11) with 1/N mean-removed covariances —
    shared by the Spark driver and the replay so the float-add order is
    identical."""
    _require_rows(rows, "lagged-pair statistics")
    total = None
    for _tid, s in sorted(rows, key=lambda r: r[0]):
        total = s if total is None else total + s
    n = total[0]
    i = 1
    s0 = total[i : i + k]; i += k
    s1 = total[i : i + k]; i += k
    S00 = total[i : i + k * k].reshape(k, k); i += k * k
    S0t = total[i : i + k * k].reshape(k, k); i += k * k
    S11 = total[i : i + k * k].reshape(k, k)
    mu0 = s0 / n
    mu1 = s1 / n
    C00 = S00 / n - np.outer(mu0, mu0)
    C0t = S0t / n - np.outer(mu0, mu1)
    C11 = S11 / n - np.outer(mu1, mu1)
    return n, mu0, mu1, C00, C0t, C11


def reduce_sorted_grads(rows: List[tuple], like: List[np.ndarray]) -> List[np.ndarray]:
    _require_rows(rows, "gradient partials")
    total = None
    for _tid, g in sorted(rows, key=lambda r: r[0]):
        total = g if total is None else total + g
    return _unflatten(total, like)


# ------------------------------------------------- driver-side replays
# (the oracle and the pytest determinism checks call these; the Spark
# estimators below perform the IDENTICAL per-traj kernels + sorted
# reduces, so both produce bit-equal parameters)

def vampnet_train_arrays(trajs: List[tuple], layers: Sequence[int], tau: int,
                         n_epochs: int, lr: float = 0.05, seed: int = 42,
                         epsilon: float = 1e-6):
    """Full VAMPNet training replay over [(traj_id, X)] arrays. Returns
    (params, per-epoch scores). Score[e] is evaluated on the epoch-e
    parameters BEFORE the update (so scores[-1] is not post-final-step;
    the estimator mirrors this)."""
    k = int(layers[-1])
    params = mlp_init(layers, seed)
    opt = _Adam(params, lr=lr)
    scores = []
    for _epoch in range(n_epochs):
        rows = []
        for tid, X in trajs:
            s = vamp_cov_partial(params, X, tau, k)
            if s is not None:
                rows.append((tid, s))
        n, mu0, mu1, C00, C0t, C11 = reduce_vamp_stats(rows, k)
        score, G00, G0t, G11 = vamp2_grads(C00, C0t, C11, epsilon)
        scores.append(score)
        Gh00 = (-2.0 / n) * G00
        Gh0t = (-1.0 / n) * G0t
        Gh11 = (-2.0 / n) * G11
        grows = []
        for tid, X in trajs:
            g = vamp_grad_partial(params, X, tau, mu0, mu1, Gh00, Gh0t, Gh11)
            if g is not None:
                grows.append((tid, _flatten(g)))
        grads = reduce_sorted_grads(grows, params)
        opt.step(params, grads)
    return params, scores


def tae_train_arrays(trajs: List[tuple], layers: Sequence[int], tau: int,
                     n_epochs: int, lr: float = 0.01, seed: int = 42):
    """Full TAE training replay over [(traj_id, X)] arrays. Returns
    (params, per-epoch mean losses)."""
    params = mlp_init(layers, seed)
    opt = _Adam(params, lr=lr)
    losses = []
    for _epoch in range(n_epochs):
        rows = []
        for tid, X in trajs:
            out = tae_grad_partial(params, X, tau)
            if out is not None:
                n_i, sse, grads = out
                rows.append((tid, np.concatenate([[n_i, sse], _flatten(grads)])))
        _require_rows(rows, "per-trajectory partials")
        total = None
        for _tid, v in sorted(rows, key=lambda r: r[0]):
            total = v if total is None else total + v
        n = total[0]
        losses.append(float(total[1] / n))
        grads = _unflatten(total[2:] / n, params)
        opt.step(params, grads)
    return params, losses


# ------------------------------------------------------ Spark plumbing

def _traj_sel(df: DataFrame, traj_col: str, time_col: str, x_cols: List[str]):
    """The shared (tid, t, features) projection both execution paths
    start from — one place, so the driver and distributed fits can
    never disagree on the casts."""
    return df.select(
        F.col(traj_col).cast("long").alias("_tid"),
        F.col(time_col).alias("_t"),
        *[F.col(c).cast("double").alias(f"_x{i}") for i, c in enumerate(x_cols)],
    )


def _collocate(df: DataFrame, traj_col: str, time_col: str, x_cols: List[str]):
    """One shuffle: hash-partition by trajectory, time-sort within
    partitions, persist — every epoch then reads cached partitions."""
    sel = _traj_sel(df, traj_col, time_col, x_cols)
    return sel.repartition("_tid").sortWithinPartitions("_tid", "_t").persist()


# Below the "deep_fit" dispatch bound one bounded Arrow fetch plus the driver
# replay (*_train_arrays: the SAME per-traj kernels and sorted reduces, so
# bit-identical results) replaces n_epochs x (broadcast + mapInPandas +
# collect) round trips whose inputs the driver could hold outright.


def _driver_traj_arrays(a: dict, d: int) -> List[tuple]:
    """[(traj_id, (T, d) float64 X)] in sorted-trajectory order from the
    fetched projection (``dispatch.fetch`` of ``_traj_sel``) — the numpy
    mirror of ``_collocate`` + ``_partition_traj_arrays``: stable time sort
    within each trajectory, the same casts, and the Fortran-ordered blocks
    pandas' ``to_numpy`` hands the distributed kernels."""
    tid, t = a["_tid"], a["_t"]
    if not len(tid):
        return []
    order = np.lexsort((t, tid))
    tid = tid[order]
    X = np.column_stack([a[f"_x{i}"][order] for i in range(d)]).astype(np.float64)
    starts = np.flatnonzero(np.r_[True, tid[1:] != tid[:-1]])
    ends = np.r_[starts[1:], len(tid)]
    return [(int(tid[b]), np.asfortranarray(X[b:e])) for b, e in zip(starts, ends)]


def _partition_traj_arrays(batches: Iterator[pd.DataFrame], d: int):
    """Concatenate a partition's Arrow batches (a trajectory can span
    batches) and yield (traj_id, X) in within-partition order."""
    parts = list(batches)
    if not parts:
        return
    pdf = pd.concat(parts, ignore_index=True)
    if pdf.empty:
        return
    xcols = [f"_x{i}" for i in range(d)]
    for tid, grp in pdf.groupby("_tid", sort=True):
        yield int(tid), grp[xcols].to_numpy(dtype=np.float64)


class VAMPNetModel(Model, Transformer):
    """Trained lobe + training curve; ``transform`` adds the network
    features as an array column (one Arrow batch pass, map-only)."""

    def __init__(self, params: List[np.ndarray], layers: Sequence[int],
                 scores: List[float], lagtime: int):
        self.params = params
        self.layers = list(layers)
        self.scores = list(scores)
        self.lagtime = lagtime

    @property
    def output_dim(self) -> int:
        return int(self.layers[-1])

    def transform(self, df: DataFrame, x_cols: Sequence[str] = ("x",),
                  out_col: str = "features") -> DataFrame:
        from pyspark.sql.types import ArrayType, DoubleType

        params = [p.copy() for p in self.params]

        @F.pandas_udf(ArrayType(DoubleType()))
        def _net(*cols: pd.Series) -> pd.Series:
            if not len(cols[0]):
                return pd.Series([], dtype=object)
            X = _stack_feature_cols(cols)
            out, _ = mlp_forward(params, X)
            return pd.Series(out.tolist())

        return df.withColumn(out_col, _net(*[F.col(c) for c in x_cols]))


class VAMPNet(Estimator):
    """Distributed full-batch VAMPNet (reference _vampnet.py:330; shared
    two-lobe configuration). Each epoch = two jobs over the colocated
    trajectories: (A) per-traj feature covariance partials, (B) per-traj
    loss-gradient partials against the driver-computed VAMP-2 covariance
    gradients; Adam on the driver. Deterministic for any partition
    layout (sorted per-traj reduce), so the harness oracle replays it
    bit-exactly via :func:`vampnet_train_arrays`."""

    def __init__(self, lagtime: int, layers: Sequence[int], n_epochs: int = 8,
                 lr: float = 0.05, seed: int = 42, epsilon: float = 1e-6):
        super().__init__()
        self.lagtime = int(lagtime)
        self.layers = list(layers)
        self.n_epochs = int(n_epochs)
        self.lr = float(lr)
        self.seed = int(seed)
        self.epsilon = float(epsilon)

    def fit(self, df: DataFrame, x_cols: Sequence[str] = ("x",),
            traj_col: str = "traj_id", time_col: str = "t") -> "VAMPNet":
        d = len(x_cols)
        if self.layers[0] != d:
            raise ValueError(f"layers[0]={self.layers[0]} != len(x_cols)={d}")
        k = int(self.layers[-1])
        tau = self.lagtime
        sel = _traj_sel(df, traj_col, time_col, list(x_cols))
        local = dispatch.fetch("deep_fit", sel, max(d, 1))
        if local is not None:
            params, scores = vampnet_train_arrays(
                _driver_traj_arrays(local, d), self.layers, tau,
                self.n_epochs, self.lr, self.seed, self.epsilon,
            )
            self._model = VAMPNetModel(params, self.layers, scores, self.lagtime)
            return self
        data = _collocate(df, traj_col, time_col, list(x_cols))
        spark = df.sparkSession
        params = mlp_init(self.layers, self.seed)
        opt = _Adam(params, lr=self.lr)
        scores: List[float] = []
        stat_len = 1 + 2 * k + 3 * k * k
        try:
            for _epoch in range(self.n_epochs):
                b_params = spark.sparkContext.broadcast([p.copy() for p in params])

                def cov_pass(batches, _sl=stat_len):
                    ps = b_params.value
                    out_t, out_s = [], []
                    for tid, X in _partition_traj_arrays(batches, d):
                        s = vamp_cov_partial(ps, X, tau, k)
                        if s is not None:
                            out_t.append(tid)
                            out_s.append(s.tolist())
                    if out_t:
                        yield pd.DataFrame({"_tid": out_t, "_s": out_s})

                rows = data.mapInPandas(
                    cov_pass, schema="_tid long, _s array<double>"
                ).collect()
                n, mu0, mu1, C00, C0t, C11 = reduce_vamp_stats(
                    [(r["_tid"], np.asarray(r["_s"])) for r in rows], k
                )
                score, G00, G0t, G11 = vamp2_grads(C00, C0t, C11, self.epsilon)
                scores.append(score)
                b_ctx = spark.sparkContext.broadcast(
                    (mu0, mu1, (-2.0 / n) * G00, (-1.0 / n) * G0t, (-2.0 / n) * G11)
                )

                def grad_pass(batches):
                    ps = b_params.value
                    mu0_, mu1_, Gh00, Gh0t, Gh11 = b_ctx.value
                    out_t, out_g = [], []
                    for tid, X in _partition_traj_arrays(batches, d):
                        g = vamp_grad_partial(ps, X, tau, mu0_, mu1_, Gh00, Gh0t, Gh11)
                        if g is not None:
                            out_t.append(tid)
                            out_g.append(_flatten(g).tolist())
                    if out_t:
                        yield pd.DataFrame({"_tid": out_t, "_g": out_g})

                grows = data.mapInPandas(
                    grad_pass, schema="_tid long, _g array<double>"
                ).collect()
                grads = reduce_sorted_grads(
                    [(r["_tid"], np.asarray(r["_g"])) for r in grows], params
                )
                opt.step(params, grads)
                b_params.destroy()
                b_ctx.destroy()
        finally:
            data.unpersist()
        self._model = VAMPNetModel(params, self.layers, scores, self.lagtime)
        return self


class TAEModel(Model, Transformer):
    """Trained autoencoder; ``transform`` emits the BOTTLENECK features
    (encoder half) as an array column."""

    def __init__(self, params: List[np.ndarray], layers: Sequence[int],
                 losses: List[float], lagtime: int, bottleneck_layer: int):
        self.params = params
        self.layers = list(layers)
        self.losses = list(losses)
        self.lagtime = lagtime
        self.bottleneck_layer = int(bottleneck_layer)

    def transform(self, df: DataFrame, x_cols: Sequence[str] = ("x",),
                  out_col: str = "latent") -> DataFrame:
        from pyspark.sql.types import ArrayType, DoubleType

        # encoder = layers up to (and including) the bottleneck; the
        # bottleneck output of the full net is acts[bottleneck_layer]
        params = [p.copy() for p in self.params]
        bl = int(self.bottleneck_layer)
        enc_params = params[: 2 * bl]
        n_layers = len(params) // 2

        @F.pandas_udf(ArrayType(DoubleType()))
        def _enc(*cols: pd.Series) -> pd.Series:
            if not len(cols[0]):
                return pd.Series([], dtype=object)
            X = _stack_feature_cols(cols)
            a = X
            for layer in range(bl):
                W, b = enc_params[2 * layer], enc_params[2 * layer + 1]
                z = _mm(a, W) + b
                # hidden nonlinearity everywhere except the net's final
                # layer; a mid-net bottleneck is always tanh-activated
                a = z if layer == n_layers - 1 else np.tanh(z)
            return pd.Series(a.tolist())

        return df.withColumn(out_col, _enc(*[F.col(c) for c in x_cols]))


class TAE(Estimator):
    """Distributed full-batch time-lagged autoencoder (reference
    _tae.py:78): one job per epoch over the colocated trajectories
    emitting per-traj (n, sse, gradient) partials; Adam on the driver.
    ``layers`` is the full encoder+decoder stack, e.g. (d, h, b, h, d)
    with ``bottleneck_layer`` indexing the bottleneck position (number
    of weight layers in the encoder)."""

    def __init__(self, lagtime: int, layers: Sequence[int], bottleneck_layer: int,
                 n_epochs: int = 10, lr: float = 0.01, seed: int = 42):
        super().__init__()
        if layers[0] != layers[-1]:
            raise ValueError("TAE reconstructs its input space: layers[0] must equal layers[-1]")
        self.lagtime = int(lagtime)
        self.layers = list(layers)
        self.bottleneck_layer = int(bottleneck_layer)
        self.n_epochs = int(n_epochs)
        self.lr = float(lr)
        self.seed = int(seed)

    def fit(self, df: DataFrame, x_cols: Sequence[str] = ("x",),
            traj_col: str = "traj_id", time_col: str = "t") -> "TAE":
        d = len(x_cols)
        if self.layers[0] != d:
            raise ValueError(f"layers[0]={self.layers[0]} != len(x_cols)={d}")
        tau = self.lagtime
        sel = _traj_sel(df, traj_col, time_col, list(x_cols))
        local = dispatch.fetch("deep_fit", sel, max(d, 1))
        if local is not None:
            params, losses = tae_train_arrays(
                _driver_traj_arrays(local, d), self.layers, tau,
                self.n_epochs, self.lr, self.seed,
            )
            self._model = TAEModel(
                params, self.layers, losses, self.lagtime, self.bottleneck_layer
            )
            return self
        data = _collocate(df, traj_col, time_col, list(x_cols))
        spark = df.sparkSession
        params = mlp_init(self.layers, self.seed)
        opt = _Adam(params, lr=self.lr)
        losses: List[float] = []
        try:
            for _epoch in range(self.n_epochs):
                b_params = spark.sparkContext.broadcast([p.copy() for p in params])

                def epoch_pass(batches):
                    ps = b_params.value
                    out_t, out_v = [], []
                    for tid, X in _partition_traj_arrays(batches, d):
                        out = tae_grad_partial(ps, X, tau)
                        if out is not None:
                            n_i, sse, grads = out
                            out_t.append(tid)
                            out_v.append(
                                np.concatenate([[n_i, sse], _flatten(grads)]).tolist()
                            )
                    if out_t:
                        yield pd.DataFrame({"_tid": out_t, "_v": out_v})

                rows = data.mapInPandas(
                    epoch_pass, schema="_tid long, _v array<double>"
                ).collect()
                _require_rows(rows, "per-trajectory partials")
                total = None
                for _tid, v in sorted(
                    ((r["_tid"], np.asarray(r["_v"])) for r in rows), key=lambda r: r[0]
                ):
                    total = v if total is None else total + v
                n = total[0]
                losses.append(float(total[1] / n))
                grads = _unflatten(total[2:] / n, params)
                opt.step(params, grads)
                b_params.destroy()
        finally:
            data.unpersist()
        self._model = TAEModel(params, self.layers, losses, self.lagtime, self.bottleneck_layer)
        return self


# ------------------------------------------------------------------ TVAE

def tvae_init(d: int, hidden: int, bottleneck: int, seed: int = 42) -> List[np.ndarray]:
    """TVAE parameters as one flat list:
    [W_trunk, b_trunk, W_mu, b_mu, W_logvar, b_logvar, dec...] — a
    tanh trunk d->hidden, two linear heads hidden->bottleneck (mean /
    log-variance, reference _tae.py:TVAEEncoder:238), and a tanh-hidden
    decoder bottleneck->hidden->d."""
    rng = np.random.default_rng(seed)

    def lin(i, o):
        bound = np.sqrt(6.0 / (i + o))
        return [rng.uniform(-bound, bound, size=(i, o)), np.zeros(o)]

    return (
        lin(d, hidden) + lin(hidden, bottleneck) + lin(hidden, bottleneck)
        + lin(bottleneck, hidden) + lin(hidden, d)
    )


def _tvae_split(params: List[np.ndarray]):
    return params[0:2], params[2:4], params[4:6], params[6:10]


def tvae_encode_mean(params: List[np.ndarray], X: np.ndarray) -> np.ndarray:
    """Deterministic latent embedding: the encoder MEAN (at inference the
    reparametrized sample collapses to the mean in expectation; yielding
    mu keeps transform deterministic — documented deviation from the
    reference's sampled transform)."""
    (Wt, bt), (Wm, bm), _, _ = _tvae_split(params)
    a = np.tanh(_mm(X, Wt) + bt)
    return _mm(a, Wm) + bm


def tvae_grad_partial(params: List[np.ndarray], X: np.ndarray, tau: int,
                      beta: float, eps_seed: tuple) -> Optional[tuple]:
    """One trajectory's (n_pairs, sse, kld_sum, gradient sums/d) for the
    time-lagged VARIATIONAL autoencoder loss (reference _tae.py:281-298:
    MSE(dec(z), y) + beta * mean(KLD) / d with z = mu + sigma * eps).

    The reparametrization noise is COUNTER-BASED: eps is drawn from a
    PCG64 stream seeded by (seed, epoch, traj_id) in within-trajectory
    order — deterministic, independent of partitioning, and replayable
    by the oracle. Gradient sums carry every scale factor except the
    global 1/N, which the driver applies after the sorted reduce."""
    x, y = _traj_pairs(X, tau)
    if x is None:
        return None
    d = X.shape[1]
    (Wt, bt), (Wm, bm), (Wl, bl), dec = _tvae_split(params)
    # encoder forward
    zt = _mm(x, Wt) + bt
    a = np.tanh(zt)
    mu = _mm(a, Wm) + bm
    logvar = _mm(a, Wl) + bl
    sig = np.exp(0.5 * logvar)
    rng = np.random.default_rng(eps_seed)
    eps = rng.standard_normal(mu.shape)
    z = mu + sig * eps
    # decoder forward
    out, dacts = mlp_forward(dec, z)
    resid = out - y
    sse = float(_sum0(resid * resid).sum())
    kld = float(_sum0(-0.5 * (1.0 + logvar - mu * mu - np.exp(logvar))).sum())
    # backward: common 1/N deferred to the driver
    d_out = (2.0 / d) * resid
    dec_grads = mlp_backward(dec, dacts, d_out)
    # propagate into z: delta through the decoder input
    delta = d_out
    n_dec = len(dec) // 2
    for layer in range(n_dec - 1, 0, -1):
        W = dec[2 * layer]
        a_hidden = dacts[layer]
        delta = _mm(delta, W.T) * (1.0 - a_hidden * a_hidden)
    dz = _mm(delta, dec[0].T)
    d_mu = dz + (beta / d) * mu
    d_lv = dz * (0.5 * sig * eps) + (beta / d) * 0.5 * (np.exp(logvar) - 1.0)
    g_Wm, g_bm = _gemm_t(a, d_mu), _sum0(d_mu)
    g_Wl, g_bl = _gemm_t(a, d_lv), _sum0(d_lv)
    d_a = (_mm(d_mu, Wm.T) + _mm(d_lv, Wl.T)) * (1.0 - a * a)
    g_Wt, g_bt = _gemm_t(x, d_a), _sum0(d_a)
    grads = [g_Wt, g_bt, g_Wm, g_bm, g_Wl, g_bl] + dec_grads
    return float(len(x)), sse, kld, grads


def tvae_train_arrays(trajs: List[tuple], d: int, hidden: int, bottleneck: int,
                      tau: int, n_epochs: int, beta: float = 1.0,
                      lr: float = 0.01, seed: int = 42):
    """Full TVAE training replay over [(traj_id, X)] arrays. Returns
    (params, per-epoch losses) with loss = mse + beta * kld_mean / d."""
    params = tvae_init(d, hidden, bottleneck, seed)
    opt = _Adam(params, lr=lr)
    losses = []
    for epoch in range(n_epochs):
        rows = []
        for tid, X in trajs:
            out = tvae_grad_partial(params, X, tau, beta, (seed, epoch, tid))
            if out is not None:
                n_i, sse, kld, grads = out
                rows.append((tid, np.concatenate([[n_i, sse, kld], _flatten(grads)])))
        _require_rows(rows, "per-trajectory partials")
        total = None
        for _tid, v in sorted(rows, key=lambda r: r[0]):
            total = v if total is None else total + v
        n = total[0]
        losses.append(float(total[1] / (n * d) + beta * (total[2] / n) / d))
        grads = _unflatten(total[3:] / n, params)
        opt.step(params, grads)
    return params, losses


class TVAEModel(Model, Transformer):
    """Trained TVAE; ``transform`` emits the (deterministic) encoder
    mean as the latent array column."""

    def __init__(self, params: List[np.ndarray], losses: List[float], lagtime: int):
        self.params = params
        self.losses = list(losses)
        self.lagtime = lagtime

    def transform(self, df: DataFrame, x_cols: Sequence[str] = ("x",),
                  out_col: str = "latent") -> DataFrame:
        from pyspark.sql.types import ArrayType, DoubleType

        params = [p.copy() for p in self.params]

        @F.pandas_udf(ArrayType(DoubleType()))
        def _enc(*cols: pd.Series) -> pd.Series:
            if not len(cols[0]):
                return pd.Series([], dtype=object)
            X = _stack_feature_cols(cols)
            return pd.Series(tvae_encode_mean(params, X).tolist())

        return df.withColumn(out_col, _enc(*[F.col(c) for c in x_cols]))


class TVAE(Estimator):
    """Distributed full-batch time-lagged VARIATIONAL autoencoder
    (reference _tae.py:266): same per-trajectory-partials shape as TAE
    with counter-based reparametrization noise — eps is seeded by
    (seed, epoch, traj_id), so training is deterministic, partition-
    layout-invariant, and oracle-replayable despite being a stochastic
    method in the reference."""

    def __init__(self, lagtime: int, hidden: int, bottleneck: int,
                 n_epochs: int = 10, beta: float = 1.0, lr: float = 0.01,
                 seed: int = 42):
        super().__init__()
        self.lagtime = int(lagtime)
        self.hidden = int(hidden)
        self.bottleneck = int(bottleneck)
        self.n_epochs = int(n_epochs)
        self.beta = float(beta)
        self.lr = float(lr)
        self.seed = int(seed)

    def fit(self, df: DataFrame, x_cols: Sequence[str] = ("x",),
            traj_col: str = "traj_id", time_col: str = "t") -> "TVAE":
        d = len(x_cols)
        tau, beta, seed = self.lagtime, self.beta, self.seed
        sel = _traj_sel(df, traj_col, time_col, list(x_cols))
        local = dispatch.fetch("deep_fit", sel, max(d, 1))
        if local is not None:
            params, losses = tvae_train_arrays(
                _driver_traj_arrays(local, d), d, self.hidden, self.bottleneck,
                tau, self.n_epochs, beta, self.lr, seed,
            )
            self._model = TVAEModel(params, losses, self.lagtime)
            return self
        data = _collocate(df, traj_col, time_col, list(x_cols))
        spark = df.sparkSession
        params = tvae_init(d, self.hidden, self.bottleneck, seed)
        opt = _Adam(params, lr=self.lr)
        losses: List[float] = []
        try:
            for epoch in range(self.n_epochs):
                b_params = spark.sparkContext.broadcast([p.copy() for p in params])

                def epoch_pass(batches, _e=epoch):
                    ps = b_params.value
                    out_t, out_v = [], []
                    for tid, X in _partition_traj_arrays(batches, d):
                        out = tvae_grad_partial(ps, X, tau, beta, (seed, _e, tid))
                        if out is not None:
                            n_i, sse, kld, grads = out
                            out_t.append(tid)
                            out_v.append(
                                np.concatenate([[n_i, sse, kld], _flatten(grads)]).tolist()
                            )
                    if out_t:
                        yield pd.DataFrame({"_tid": out_t, "_v": out_v})

                rows = data.mapInPandas(
                    epoch_pass, schema="_tid long, _v array<double>"
                ).collect()
                _require_rows(rows, "per-trajectory partials")
                total = None
                for _tid, v in sorted(
                    ((r["_tid"], np.asarray(r["_v"])) for r in rows), key=lambda r: r[0]
                ):
                    total = v if total is None else total + v
                n = total[0]
                losses.append(float(total[1] / (n * d) + beta * (total[2] / n) / d))
                grads = _unflatten(total[3:] / n, params)
                opt.step(params, grads)
                b_params.destroy()
        finally:
            data.unpersist()
        self._model = TVAEModel(params, losses, self.lagtime)
        return self


# ---------------------------------------------------------------- KVADNet

def kvad_score_and_grads(params: List[np.ndarray], x: np.ndarray, G: np.ndarray,
                         epsilon: float = 1e-6):
    """KVAD score of the lobe features against a FIXED kernel Gram G of
    the lagged observable (reference decomposition/deep/_kvadnet.py:25:
    score = tr(W^T G W)/N^2 + mean(G) with W the whitened mean-free
    features, G treated as constant), plus EXACT parameter gradients.

    Identity used: tr(W^T G W) = tr(C^-1 Xc^T G Xc) with
    C = Xc^T Xc/(N-1) — the same truncated-inverse Daleckii-Krein
    machinery as vamp2_grads; the mean-free centering contributes a
    row-mean projector on the feature gradient (unlike VAMP-2, the
    G-weighted path does not annihilate the mean)."""
    chi, acts = mlp_forward(params, x)
    N = len(chi)
    mean = _sum0(chi) / N
    Xc = chi - mean
    C = _gemm_t(Xc, Xc) / (N - 1.0)
    lam, U, f, fp = _trunc_inverse_with_grad_basis(C, epsilon)
    Inv = (U * f) @ U.T
    GX = np.einsum("nm,mk->nk", G, Xc, optimize=False)
    M = _gemm_t(Xc, GX)
    n2 = float(N) * float(N)
    score = float(np.trace(Inv @ M)) / n2 + float(_sum0(G).sum()) / n2
    # d score / d Xc: through M (fixed C) + through C (Daleckii-Krein)
    dXc = np.einsum("nk,kj->nj", GX, (2.0 / n2) * Inv, optimize=False)
    G_C = _daleckii_krein(lam, U, f, fp, M / n2)
    dXc = dXc + np.einsum("nk,kj->nj", Xc, (2.0 / (N - 1.0)) * G_C, optimize=False)
    d_chi = dXc - _sum0(dXc) / N
    grads = mlp_backward(params, acts, d_chi)
    return score, grads


def kvadnet_train_arrays(x: np.ndarray, y: np.ndarray, layers: Sequence[int],
                         sigma: float = 1.0, n_epochs: int = 20, lr: float = 0.02,
                         seed: int = 42, epsilon: float = 1e-6):
    """Driver-side KVADNet training on a bounded sample: maximize the
    KVAD score of chi(x) against the Gaussian Gram of y. Returns
    (params, per-epoch scores); scores[e] is pre-update like the other
    deep replays."""
    from deeptime_spark.kernels import GaussianKernel

    G = GaussianKernel(sigma).apply(np.asarray(y, dtype=np.float64),
                                    np.asarray(y, dtype=np.float64))
    params = mlp_init(layers, seed)
    opt = _Adam(params, lr=lr)
    scores = []
    X = np.asarray(x, dtype=np.float64)
    for _epoch in range(n_epochs):
        score, grads = kvad_score_and_grads(params, X, G, epsilon)
        scores.append(score)
        opt.step(params, [-g for g in grads])
    return params, scores


class KVADNetModel(Model, Transformer):
    """Trained KVAD lobe; ``transform`` emits chi(x) distributed (one
    Arrow batch pass), exactly like VAMPNetModel."""

    def __init__(self, params: List[np.ndarray], scores: List[float],
                 lagtime: int, sigma: float):
        self.params = params
        self.scores = list(scores)
        self.lagtime = lagtime
        self.sigma = sigma

    @property
    def score(self) -> float:
        return self.scores[-1]

    def transform(self, df: DataFrame, x_cols: Sequence[str] = ("x",),
                  out_col: str = "features") -> DataFrame:
        from pyspark.sql.types import ArrayType, DoubleType

        params = [p.copy() for p in self.params]

        @F.pandas_udf(ArrayType(DoubleType()))
        def _net(*cols: pd.Series) -> pd.Series:
            if not len(cols[0]):
                return pd.Series([], dtype=object)
            X = _stack_feature_cols(cols)
            out, _ = mlp_forward(params, X)
            return pd.Series(out.tolist())

        return df.withColumn(out_col, _net(*[F.col(c) for c in x_cols]))


class KVADNet(Estimator):
    """Deep KVAD (reference decomposition/deep/_kvadnet.py): a numpy MLP
    lobe trained to maximize the kernel-embedded variational score of
    its features against the Gaussian Gram of the lagged observable.

    The Gram is N x N, so EXACT deep-KVAD training is inherently
    quadratic in the sample — the scale-honest design (mirroring the
    non-deep KVAD at kernel_methods.py:133-176 and standard Nystrom
    practice) trains on a bounded CONTENT-ADDRESSED sample (smallest
    md5(traj_id || '_' || t), partition-layout independent,
    TakeOrderedAndProject — no full sort), then featurizes the corpus
    DISTRIBUTED through the trained lobe. Training itself is seeded
    deterministic numpy, so the harness oracle replays it exactly."""

    def __init__(self, lagtime: int, layers: Sequence[int], sigma: float = 1.0,
                 n_epochs: int = 20, lr: float = 0.02, seed: int = 42,
                 max_samples: int = 2000, epsilon: float = 1e-6,
                 x_col: str = "x"):
        super().__init__()
        self.lagtime = int(lagtime)
        self.layers = list(layers)
        self.sigma = float(sigma)
        self.n_epochs = int(n_epochs)
        self.lr = float(lr)
        self.seed = int(seed)
        self.max_samples = int(max_samples)
        self.epsilon = float(epsilon)
        self.x_col = x_col

    def fit(self, df: DataFrame) -> "KVADNet":
        from deeptime_spark.decomposition.kernel_methods import _collect_pairs

        x, y = _collect_pairs(df, self.lagtime, self.x_col, self.max_samples)
        params, scores = kvadnet_train_arrays(
            x, y, self.layers, sigma=self.sigma, n_epochs=self.n_epochs,
            lr=self.lr, seed=self.seed, epsilon=self.epsilon,
        )
        self._model = KVADNetModel(params, scores, self.lagtime, self.sigma)
        return self
