"""Covariance estimation over trajectory DataFrames.

Reference: ``Covariance``/``CovarianceModel``
(/root/reference/src/deeptime/covariance/_covariance.py:186-523, 52-183) and
``KoopmanWeightingEstimator`` (:526-767). The reference loops chunks through
``RunningCovar`` with Chan merging; here the whole estimation is ONE Spark
job: lead-window lag -> single-pass moments aggregate (operators/moments.py)
-> driver finalize. ``partial_fit`` merges MomentsResult monoids, giving the
same chunked-ingestion surface (and the Structured Streaming foreachBatch
path) without any extra machinery.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deeptime_spark.base import Estimator, Model, Transformer
from deeptime_spark.operators.lag import timeshifted
from deeptime_spark.operators.moments import MomentsResult, compute_moments, feature_dim


class WhiteningTransform(Transformer):
    """y = W (x - mu), typically W = C00^{-1/2}
    (reference: covariance/_covariance.py:19-49).

    Executed as generated column expressions over the feature array —
    JVM-side, codegen-friendly; the small matrix ships to executors as
    literals (it is O(d^2) floats).
    """

    def __init__(self, W: np.ndarray, mu: Optional[np.ndarray] = None, x_col: str = "x", out_col: str = "y"):
        self.W = np.asarray(W)
        self.mu = np.zeros(self.W.shape[1]) if mu is None else np.asarray(mu)
        self.x_col = x_col
        self.out_col = out_col

    def transform(self, df: DataFrame) -> DataFrame:
        # shared dual-path projection: codegen expressions for small d,
        # Arrow-batched BLAS for wide feature/embedding columns
        from deeptime_spark.decomposition.koopman import _project_expr

        return _project_expr(df, self.W, self.mu, self.x_col, self.out_col)


class CovarianceModel(Model):
    """Holds C00/C0t/Ctt + means (reference: _covariance.py:52-183)."""

    def __init__(
        self,
        cov_00=None,
        cov_0t=None,
        cov_tt=None,
        mean_0=None,
        mean_t=None,
        bessels_correction=True,
        symmetrized=False,
        lagtime=None,
        weight_sum=None,
    ):
        self.cov_00 = cov_00
        self.cov_0t = cov_0t
        self.cov_tt = cov_tt
        self.mean_0 = mean_0
        self.mean_t = mean_t
        self.bessels_correction = bessels_correction
        self.symmetrized = symmetrized
        self.lagtime = lagtime
        self.weight_sum = weight_sum

    def whiten(self, epsilon: float = 1e-10, x_col: str = "x", out_col: str = "y") -> WhiteningTransform:
        """C00^{-1/2}-whitening transformer (reference: _covariance.py:159-183)."""
        from deeptime_spark.numeric.eigen import spd_inv_sqrt

        W = spd_inv_sqrt(self.cov_00, epsilon=epsilon)
        return WhiteningTransform(W, mu=self.mean_0, x_col=x_col, out_col=out_col)


class Covariance(Estimator):
    """One-pass covariance estimator (reference ctor: _covariance.py:186-260).

    Parameters mirror the reference: lagtime, compute_c00/c0t/ctt,
    remove_data_mean, reversible (symmetrization), bessels_correction,
    stride. ``fit(df)`` expects the trajectory schema; a ``weight`` column
    is used when ``weight_col`` is given (lazy Koopman weights are just a
    projection column computed in the same select — see KoopmanWeighting).
    ``fit`` raises ``ValueError`` when no (lagged) frame is left to aggregate.
    """

    def __init__(
        self,
        lagtime: int = 0,
        compute_c00: bool = True,
        compute_c0t: bool = False,
        compute_ctt: bool = False,
        remove_data_mean: bool = True,
        reversible: bool = False,
        bessels_correction: bool = True,
        stride: int = 1,
        x_col: str = "x",
        weight_col: Optional[str] = None,
    ):
        super().__init__()
        if (compute_c0t or compute_ctt) and lagtime <= 0:
            raise ValueError("lagged covariances require lagtime > 0")
        if reversible and not (compute_c0t or compute_ctt):
            # the reversible estimate symmetrizes instantaneous + lagged
            # statistics; without a lagged leg it would silently return the
            # plain c00 (reference couples symmetry to lagged estimation)
            raise ValueError("reversible=True requires compute_c0t or compute_ctt")
        self.lagtime = lagtime
        self.compute_c00 = compute_c00
        self.compute_c0t = compute_c0t
        self.compute_ctt = compute_ctt
        self.remove_data_mean = remove_data_mean
        self.reversible = reversible
        self.bessels_correction = bessels_correction
        self.stride = stride
        self.x_col = x_col
        self.weight_col = weight_col
        self._moments: Optional[MomentsResult] = None

    def _lagged(self, df: DataFrame) -> tuple[DataFrame, Optional[str]]:
        if self.compute_c0t or self.compute_ctt:
            lagged = timeshifted(df, self.lagtime, stride=self.stride, cols=(self.x_col,))
            return lagged, self.x_col + "_lagged"
        from deeptime_spark.operators.lag import strided

        return strided(df, self.stride), None

    def partial_fit(self, df: DataFrame) -> "Covariance":
        # read on the unlagged input; the lagged column is lead(x), so d_y == d
        d = feature_dim(df, self.x_col)
        lagged, y_col = self._lagged(df)
        m = compute_moments(
            lagged,
            x_col=self.x_col,
            y_col=y_col,
            weight_col=self.weight_col,
            d=d,
            d_y=d if y_col else None,
            compute_xx=self.compute_c00,
            compute_yy=self.compute_ctt or self.reversible,
        ).get(())
        if m is None:
            raise ValueError(f"no frame to aggregate at lagtime {self.lagtime}, stride {self.stride}")
        self._moments = m if self._moments is None else self._moments.combine(m)
        self._model = None
        return self

    def fit(self, df: DataFrame) -> "Covariance":
        self._moments = None
        return self.partial_fit(df)

    def fetch_model(self) -> CovarianceModel:
        if self._model is None:
            if self._moments is None:
                raise RuntimeError("call fit() first")
            self._model = self.model_from_moments(self._moments)
        return self._model

    def model_from_moments(self, moments: MomentsResult) -> CovarianceModel:
        """Driver finalize of one moments set under this estimator's settings."""
        c00, c0t, ctt, mean_x, mean_y = moments.covariances(
            remove_mean=self.remove_data_mean,
            bessels_correction=self.bessels_correction,
            symmetrize=self.reversible,
        )
        return CovarianceModel(
            cov_00=c00 if self.compute_c00 else None,
            cov_0t=c0t if self.compute_c0t else None,
            cov_tt=ctt if self.compute_ctt else None,
            mean_0=mean_x,
            mean_t=mean_y,
            bessels_correction=self.bessels_correction,
            symmetrized=self.reversible,
            lagtime=self.lagtime,
            weight_sum=moments.weight_sum,
        )


def covar(df: DataFrame, remove_mean: bool = True, bessels_correction: bool = True,
          x_col: str = "x") -> np.ndarray:
    """One-shot instantaneous covariance (reference covar convenience,
    covariance/util/_moments.py:985)."""
    model = Covariance(
        lagtime=0, compute_c00=True, remove_data_mean=remove_mean,
        bessels_correction=bessels_correction, x_col=x_col,
    ).fit_fetch(df)
    return model.cov_00


def covars(df: DataFrame, lagtime: int, remove_mean: bool = True,
           bessels_correction: bool = True, symmetrize: bool = False,
           x_col: str = "x"):
    """One-shot (C00, C0t) pair at a lag (reference covars convenience,
    _moments.py:1034). One Spark pass."""
    model = Covariance(
        lagtime=lagtime, compute_c00=True, compute_c0t=True, compute_ctt=symmetrize,
        remove_data_mean=remove_mean, bessels_correction=bessels_correction,
        reversible=symmetrize, x_col=x_col,
    ).fit_fetch(df)
    return model.cov_00, model.cov_0t


class KoopmanWeightingEstimator(Estimator):
    """Koopman reweighting (reference: _covariance.py:526-767).

    Estimates per-frame equilibrium weights w(x) = x_whitened . u + const by
    solving for the eigenvector of the reweighting matrix at eigenvalue 1
    (reference `_compute_u`, _covariance.py:699-722). Two Spark jobs: one
    covariance pass, one select for the weight column.
    """

    def __init__(self, lagtime: int, epsilon: float = 1e-6, x_col: str = "x"):
        super().__init__()
        self.lagtime = lagtime
        self.epsilon = epsilon
        self.x_col = x_col

    def fit(self, df: DataFrame) -> "KoopmanWeightingEstimator":
        from deeptime_spark.numeric.eigen import spd_inv_split

        cov = Covariance(
            lagtime=self.lagtime,
            compute_c00=True,
            compute_c0t=True,
            compute_ctt=True,
            remove_data_mean=True,
            bessels_correction=False,  # reference passes bessels off (:642)
            x_col=self.x_col,
        ).fit_fetch(df)
        # Whitened Koopman matrix in the (PC|1) basis, then eigenvector at
        # eigenvalue 1 -> linear weight functional. Algebra follows the
        # published Koopman-reweighting construction (Wu et al. 2017),
        # cf. reference fetch_model/_compute_u at _covariance.py:699-752:
        # the extended matrix carries the mean-coupling term in its last
        # ROW (K = vstack(K, (mean_t-mean_0) @ R) then hstack with e_{M+1})
        # — putting it in the last column instead makes Kext.T block-lower-
        # triangular, whose eigenvector at 1 is exactly e_N and every
        # weight degenerates to 1.0.
        R = spd_inv_split(cov.cov_00, epsilon=self.epsilon)  # (d, k)
        K = R.T @ cov.cov_0t @ R  # whitened Koopman (k, k)
        N = K.shape[0] + 1
        Kext = np.zeros((N, N))
        Kext[:-1, :-1] = K
        Kext[-1, :-1] = (cov.mean_t - cov.mean_0) @ R
        Kext[-1, -1] = 1.0
        vals, vecs = np.linalg.eig(Kext.T)
        i = int(np.argmin(np.abs(vals - 1.0)))
        u = np.real(vecs[:, i])
        # normalize so the empirical mean weight is 1 (reference u /= u[M])
        v = R @ u[:-1]
        const = u[-1] - np.dot(cov.mean_0, v)
        denom = np.dot(cov.mean_0, v) + const
        self._model = KoopmanWeightingModel(u=v / denom, const=const / denom, x_col=self.x_col)
        return self


class KoopmanWeightingModel(Model, Transformer):
    """weight(x) = x . u + const, appended as a column (one select)."""

    def __init__(self, u: np.ndarray, const: float, x_col: str = "x", out_col: str = "weight"):
        self.u = u
        self.const = const
        self.x_col = x_col
        self.out_col = out_col

    def transform(self, df: DataFrame) -> DataFrame:
        d = len(self.u)
        if d <= 24:
            expr = F.lit(float(self.const))
            for j in range(d):
                expr = expr + F.lit(float(self.u[j])) * F.col(self.x_col)[j]
        else:
            # literal-array dot: O(1) expression nodes for wide features
            from deeptime_spark.operators.similarity import _literal_array, dot

            expr = dot(F.col(self.x_col).cast("array<double>"), _literal_array(self.u)) + F.lit(
                float(self.const)
            )
        return df.withColumn(self.out_col, expr)
