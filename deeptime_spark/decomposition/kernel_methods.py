"""Kernel-based decompositions: KernelEDMD, KernelCCA, KVAD.

Reference: ``KernelEDMD``
(/root/reference/src/deeptime/decomposition/_dmd.py:335-423), ``KernelCCA``
(decomposition/_cca.py:51-127), ``KVAD`` (decomposition/_kvad.py:60-170).

These are T x T Gram-matrix methods — inherently quadratic in the number
of samples (SURVEY.md §7.4 hard part 6). The Spark division of labor:
Spark builds the lagged pair frame and draws a deterministic landmark
sample (``max_samples``); the Gram algebra runs on the driver exactly as
the reference does. Out-of-sample evaluation of the fitted eigenfunctions
IS distributed: ``transform_df`` ships the landmark set as broadcast
literals and evaluates kernel features + projection as column math.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deeptime_spark import dispatch
from deeptime_spark.base import Estimator, Model
from deeptime_spark.kernels import Kernel
from deeptime_spark.numeric.eigen import sort_eigs, spd_eig
from deeptime_spark.operators.lag import timeshifted


def spd_truncated_svd(M: np.ndarray, dim: Optional[int] = None, eps: float = 1e-10):
    """Truncated eigendecomposition of a symmetric PSD matrix, largest
    eigenvalues first (reference numeric spd_truncated_svd semantics)."""
    vals, vecs = np.linalg.eigh((M + M.T) / 2.0)
    order = np.argsort(vals)[::-1]
    vals, vecs = vals[order], vecs[:, order]
    cutoff = eps * max(vals.max(), 0.0) if vals.size else 0.0
    keep = vals > cutoff
    if dim is not None:
        keep[dim:] = False
    return vals[keep], vecs[:, keep]


def _collect_pairs(df: DataFrame, lagtime: int, x_col: str, max_samples: int, seed: int = 42):
    """Lagged pairs -> deterministic landmark sample -> driver arrays.

    Landmarks are the ``max_samples`` pairs with the smallest
    ``md5(traj_id || '_' || t)``: content-addressed pseudo-random selection
    that is independent of partitioning and cluster layout (a seeded
    Bernoulli sample changes with the partition split) and reproducible by
    any engine. orderBy+limit executes as TakeOrderedAndProject — a
    per-partition top-k plus a driver merge, no full sort and no extra
    count pass over the corpus.
    """
    pairs = timeshifted(df, lagtime, cols=(x_col,))
    key = F.md5(
        F.concat_ws("_", F.col("traj_id").cast("string"), F.col("t").cast("string"))
    )
    y_col = x_col + "_lagged"
    a = dispatch.arrays(pairs.orderBy(key).limit(max_samples).select(x_col, y_col))
    return a[x_col], a[y_col]


class KernelEDMDModel(Model):
    """Eigenvalues + eigenfunction evaluations (reference _dmd.py:335-363)."""

    def __init__(self, data: np.ndarray, eigenvalues: np.ndarray, eigenvectors: np.ndarray, kernel: Kernel):
        self.data = data
        self.eigenvalues = eigenvalues
        self.eigenvectors = eigenvectors
        self.kernel = kernel

    def transform(self, x: np.ndarray) -> np.ndarray:
        """Driver parity surface: phi(x) = K(x, X_train) @ V."""
        return self.kernel.apply(np.atleast_2d(x), self.data) @ self.eigenvectors

    def transform_df(self, df: DataFrame, x_col: str = "x", out_col: str = "phi") -> DataFrame:
        """Distributed out-of-sample evaluation: broadcast-landmark kernel
        features then the (real part of the) eigenvector projection as
        column math."""
        from deeptime_spark.decomposition.koopman import _project_expr

        with_k = self.kernel.gram_df(df, self.data, x_col=x_col, out_col="_k")
        W = np.real(self.eigenvectors).T  # (n_eigs, m)
        out = _project_expr(with_k, W, None, "_k", out_col)
        return out.drop("_k")


class KernelEDMD(Estimator):
    """Kernel EDMD (reference _dmd.py:365-423): solve
    (G_XX + eps I) A = G_XY^T, eigendecompose A."""

    def __init__(self, kernel: Kernel, epsilon: float = 0.0, n_eigs: Optional[int] = None,
                 max_samples: int = 2000, x_col: str = "x"):
        super().__init__()
        self.kernel = kernel
        self.epsilon = epsilon
        self.n_eigs = n_eigs
        self.max_samples = max_samples
        self.x_col = x_col

    def fit(self, df: DataFrame, lagtime: int = 1) -> "KernelEDMD":
        x, y = _collect_pairs(df, lagtime, self.x_col, self.max_samples)
        gram_0 = self.kernel.gram(x)
        gram_1 = self.kernel.apply(x, y)
        A = np.linalg.solve(gram_0 + self.epsilon * np.eye(len(x)), gram_1.T)
        vals, vecs = np.linalg.eig(A)
        vals, vecs = sort_eigs(vals, vecs)
        if self.n_eigs is not None:
            vals, vecs = vals[: self.n_eigs], vecs[:, : self.n_eigs]
        self._model = KernelEDMDModel(x, vals, vecs, self.kernel)
        return self


class KernelCCAModel(Model):
    """Kernelized CCA model (reference _cca.py:17-50)."""

    def __init__(self, data: np.ndarray, kernel: Kernel, eigenvalues: np.ndarray, eigenvectors: np.ndarray):
        self.data = data
        self.kernel = kernel
        self.eigenvalues = eigenvalues
        self.eigenvectors = eigenvectors

    def transform(self, x: np.ndarray) -> np.ndarray:
        return self.kernel.apply(np.atleast_2d(x), self.data) @ np.real(self.eigenvectors)


class KernelCCA(Estimator):
    """Kernel canonical correlation analysis (reference _cca.py:51-127):
    center both Gram matrices, solve the regularized product problem."""

    def __init__(self, kernel: Kernel, n_eigs: int, epsilon: float = 1e-6,
                 max_samples: int = 2000, x_col: str = "x"):
        super().__init__()
        self.kernel = kernel
        self.n_eigs = n_eigs
        self.epsilon = epsilon
        self.max_samples = max_samples
        self.x_col = x_col

    def fit(self, df: DataFrame, lagtime: int = 1) -> "KernelCCA":
        x, y = _collect_pairs(df, lagtime, self.x_col, self.max_samples)
        n = len(x)
        gram_0 = self.kernel.gram(x)
        gram_t = self.kernel.gram(y)
        eye = np.eye(n)
        N = eye - np.full((n, n), 1.0 / n)
        G_0 = N @ gram_0 @ N
        G_1 = N @ gram_t @ N
        K = np.linalg.solve(G_0 + self.epsilon * eye, G_0)
        Ak = np.linalg.solve(G_1 + self.epsilon * eye, G_1)
        vals, vecs = np.linalg.eig(K @ Ak)
        vals, vecs = sort_eigs(vals, vecs)
        vals, vecs = vals[: self.n_eigs], vecs[:, : self.n_eigs]
        self._model = KernelCCAModel(x, self.kernel, vals, vecs)
        return self


class KVADModel(Model):
    """KVAD model (reference _kvad.py:17-59)."""

    def __init__(self, kernel: Kernel, koopman_matrix: np.ndarray, singular_values: np.ndarray,
                 singular_vectors: np.ndarray, score: float):
        self.kernel = kernel
        self.koopman_matrix = koopman_matrix
        self.singular_values = singular_values
        self.singular_vectors = singular_vectors
        self.score = score


class KVAD(Estimator):
    """Kernel embedding based variational approach for dynamics
    (reference _kvad.py:60-170, Tian & Wu 2020): whiten instantaneous
    features, compute the kernel-embedded objective x^T G_yy x / n^2 and
    its truncated SVD; score = sum of singular values + mean Gram."""

    def __init__(self, kernel: Kernel, lagtime: int = 1, dim: Optional[int] = None,
                 epsilon: float = 1e-6, max_samples: int = 2000, x_col: str = "x"):
        super().__init__()
        self.kernel = kernel
        self.lagtime = lagtime
        self.dim = dim
        self.epsilon = epsilon
        self.max_samples = max_samples
        self.x_col = x_col

    def fit(self, df: DataFrame) -> "KVAD":
        from deeptime_spark.numeric.eigen import spd_inv_sqrt

        chi_x, chi_y = _collect_pairs(df, self.lagtime, self.x_col, self.max_samples)
        n = len(chi_x)
        g_yy = self.kernel.gram(chi_y)
        mean_x = chi_x.mean(axis=0)
        cov = (chi_x - mean_x).T @ (chi_x - mean_x) / (n - 1)
        W = spd_inv_sqrt(cov, epsilon=self.epsilon)
        chi_x_w = (chi_x - mean_x) @ W.T
        chi_y_w = (chi_y - mean_x) @ W.T
        x_g_x = chi_x_w.T @ g_yy @ chi_x_w / (n * n)
        svals, svecs = spd_truncated_svd(x_g_x, dim=self.dim, eps=self.epsilon)
        f_x = chi_x_w @ svecs
        f_y = chi_y_w @ svecs
        K = np.zeros((len(svals) + 1, len(svals) + 1))
        K[0, 0] = 1.0
        K[0, 1:] = svecs.T @ chi_y_w.mean(axis=0)
        K[1:, 1:] = f_x.T @ f_y / n
        score = float(np.sum(svals) + np.mean(g_yy))
        self._model = KVADModel(self.kernel, K, svals, svecs, score)
        return self
