"""VAMP — variational approach for Markov processes.

Reference: /root/reference/src/deeptime/decomposition/_vamp.py:19-470,
decomposition math at :168-194: half-weighted Koopman matrix
K_bar = C00^{-1/2} C0t Ctt^{-1/2}, SVD, singular functions
f = C00^{-1/2} U, g = Ctt^{-1/2} V. Covariances are one Spark aggregate;
the SVD is driver-side (d x d).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deeptime_spark.base import EstimatorTransformer
from deeptime_spark.covariance import Covariance, CovarianceModel
from deeptime_spark.decomposition.koopman import CovarianceKoopmanModel
from deeptime_spark.numeric.eigen import spd_inv_split


class VAMP(EstimatorTransformer):
    """ctor mirrors reference (_vamp.py:196-260): lagtime, dim, var_cutoff,
    scaling {None, 'kinetic_map'}, epsilon."""

    def __init__(
        self,
        lagtime: int,
        dim: Optional[int] = None,
        var_cutoff: Optional[float] = None,
        scaling: Optional[str] = None,
        epsilon: float = 1e-6,
        x_col: str = "x",
    ):
        super().__init__()
        self.lagtime = lagtime
        self.dim = dim
        self.var_cutoff = var_cutoff
        self.scaling = scaling
        self.epsilon = epsilon
        self.x_col = x_col

    def covariance_estimator(self) -> Covariance:
        """The estimator of the mean-free C00, C0t and Ctt a fit decomposes."""
        return Covariance(
            lagtime=self.lagtime,
            compute_c00=True,
            compute_c0t=True,
            compute_ctt=True,
            x_col=self.x_col,
        )

    def fit(self, df: DataFrame) -> "VAMP":
        self._model = self.fit_from_covariances(self.covariance_estimator().fit_fetch(df))
        return self

    def fit_from_covariances(self, cov: CovarianceModel) -> CovarianceKoopmanModel:
        """Driver-side decomposition (reference _vamp.py:168-194)."""
        L0 = spd_inv_split(cov.cov_00, epsilon=self.epsilon)
        Lt = spd_inv_split(cov.cov_tt, epsilon=self.epsilon)
        Kbar = L0.T @ cov.cov_0t @ Lt
        Uw, s, Vwt = np.linalg.svd(Kbar, full_matrices=False)
        if self.var_cutoff is not None:
            cumvar = np.cumsum(s**2) / np.sum(s**2)
            n = int(np.searchsorted(cumvar, self.var_cutoff) + 1)
        elif self.dim is not None:
            n = min(self.dim, len(s))
        else:
            n = len(s)
        s = s[:n]
        U = L0 @ Uw[:, :n]  # (d, n) left singular functions
        V = Lt @ Vwt[:n].T  # (d, n) right singular functions
        if self.scaling == "kinetic_map":
            U = U * s[None, :]
            V = V * s[None, :]
        return CovarianceKoopmanModel(
            singular_values=s,
            U=U,
            V=V,
            cov=cov,
            lagtime=self.lagtime,
            scaling=self.scaling,
            epsilon=self.epsilon,
            x_col=self.x_col,
        )


def schatten_norm(M: np.ndarray, r: float) -> float:
    """Schatten-r norm: (sum sigma_i^r)^(1/r) (reference numeric/_norm.py)."""
    sv = np.linalg.svd(M, compute_uv=False)
    return float(np.power(np.sum(np.power(sv, r)), 1.0 / r))


def vamp_score(
    model: CovarianceKoopmanModel,
    r="VAMP2",
    covariances_test=None,
    dim: Optional[int] = None,
    epsilon: float = 1e-10,
) -> float:
    """VAMP-r / VAMP-E score, optionally against held-out test covariances
    (reference decomposition/_score.py:13-118; Wu & Noe 2020 eqns 33/30).

    With ``covariances_test`` the score is the cross-validation form:
    A = (U^T C00 U)^-1/2, B = U^T C0t V, C = (V^T Ctt V)^-1/2 and
    score = ||A B C||_r^r (+1 for the mean-removed constant function);
    VAMP-E: trace(2 K U^T C0t V - K U^T C00 U K V^T Ctt V).
    Requires an unscaled model (scaling=None) so U, V are the
    singular-function coefficients.
    """
    from deeptime_spark.numeric.eigen import spd_inv_sqrt

    if isinstance(r, str):
        rl = r.lower().replace("vamp", "")
        r = "e" if rl == "e" else float(rl)
    if model.scaling is not None:
        raise ValueError("vamp_score requires a model fitted with scaling=None")
    cov_test = covariances_test if covariances_test is not None else model.cov
    order = np.argsort(model.singular_values)[::-1][:dim]
    U = model.U[:, order]
    V = model.V[:, order]
    if r == "e":
        K = np.diag(model.singular_values[order])
        score = float(
            np.trace(
                2.0 * K @ U.T @ cov_test.cov_0t @ V
                - K @ U.T @ cov_test.cov_00 @ U @ K @ V.T @ cov_test.cov_tt @ V
            )
        )
    else:
        if r < 1:
            raise ValueError("score only for r >= 1 or r = 'E'")
        A = np.atleast_2d(spd_inv_sqrt(U.T @ cov_test.cov_00 @ U, epsilon=epsilon))
        B = np.atleast_2d(U.T @ cov_test.cov_0t @ V)
        C = np.atleast_2d(spd_inv_sqrt(V.T @ cov_test.cov_tt @ V, epsilon=epsilon))
        score = schatten_norm(A @ B @ C, r) ** r
    # mean removal drops the constant singular function: add it back
    return score + 1.0


def vamp_score_data(
    df: DataFrame, lagtime: int, dim: Optional[int] = None, r: float = 2.0, epsilon: float = 1e-6
) -> float:
    """Score directly from data (reference: _score.py:119-155)."""
    m = VAMP(lagtime=lagtime, dim=dim, epsilon=epsilon).fit(df).fetch_model()
    return m.score(r=r)


def vamp_score_cv(
    df: DataFrame,
    lagtime: int,
    n: int = 10,
    blocksize: Optional[int] = None,
    r="VAMP2",
    dim: Optional[int] = None,
    epsilon: float = 1e-6,
    random_state: int = 42,
    x_col: str = "x",
) -> np.ndarray:
    """Cross-validated VAMP score (reference _score.py:226-319,
    McGibbon & Pande 2015): per fold, trajectory blocks of ``blocksize``
    (default ``max(10 * lagtime, lagtime + 1)``) are split 50/50 into train
    and validation by ``pmod(xxhash64(block_id, fold + random_state), 2)``;
    the model fits on train blocks and is scored against validation
    covariances. All folds run as one grouped pass: one lag over the blocks,
    the folds exploded after it, one ``compute_moments(by=("fold", "split"))``;
    fits and scores are driver-side. Cost: the explode sends n x the lagged
    rows through map-side partial aggregation; the shuffle stays at 2n rows
    per partition. Raises ``ValueError`` for ``n < 1`` and, naming the fold,
    when a fold's train or test split has no lagged pair.

    Deviation: blocks are non-overlapping and lagged pairs never cross
    block boundaries (the reference's sliding blocks overlap by one lag
    window to conserve counts) — a small-bias, shuffle-free formulation.
    """
    from deeptime_spark.operators.lag import blocksplit, timeshifted
    from deeptime_spark.operators.moments import compute_moments, feature_dim

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    bs = blocksize or max(10 * lagtime, lagtime + 1)
    vamp = VAMP(lagtime=lagtime, dim=dim, epsilon=epsilon, x_col=x_col)
    cov = vamp.covariance_estimator()
    d = feature_dim(df, x_col)
    y_col = x_col + "_lagged"
    pairs = timeshifted(blocksplit(df, blocksize=bs), lagtime, cols=(x_col,), traj_col="block_id")
    folds = pairs.select(
        "block_id", x_col, y_col, F.explode(F.array(*[F.lit(i) for i in range(n)])).alias("fold")
    ).withColumn(
        # integer fold + seed: the spark_hashes replica hashes it as IntegerType
        "split", F.pmod(F.xxhash64("block_id", F.col("fold") + F.lit(random_state)), F.lit(2))
    )
    moments = compute_moments(folds, x_col=x_col, y_col=y_col, d=d, d_y=d, by=("fold", "split"))
    scores = []
    for fold in range(n):
        train, test = moments.get((fold, 1)), moments.get((fold, 0))
        if train is None or test is None:
            side = "train" if train is None else "test"
            raise ValueError(f"vamp_score_cv fold {fold}: the {side} split has no lagged pair")
        model = vamp.fit_from_covariances(cov.model_from_moments(train))
        cov_test = cov.model_from_moments(test)
        scores.append(vamp_score(model, r=r, covariances_test=cov_test, dim=dim))
    return np.array(scores)
