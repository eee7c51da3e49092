"""SINDy — sparse identification of nonlinear dynamics.

Reference: ``SINDy``/``STLSQ``/``SINDyModel``
(/root/reference/src/deeptime/sindy/_sindy.py:240-542, 367-542, 17-239) and
``finite_difference_coefficients`` (util/diff.py:8-66).

Spark shape (SURVEY.md §2.10): the data-volume work is (a) the centered
finite-difference derivative — one window pass per trajectory — and (b) the
normal-equation gramians Theta'Theta and Theta'Xdot — ONE moments aggregate
(reusing operators/moments.py). STLSQ then iterates on the driver against
the cached gramians: re-thresholding never re-reads the data.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deeptime_spark.base import Estimator, Model
from deeptime_spark.basis import Monomials
from deeptime_spark.operators.lag import lagged
from deeptime_spark.operators.moments import compute_moments, feature_dim


def finite_difference_coefficients(deriv_order: int, offsets: np.ndarray) -> np.ndarray:
    """Fornberg-style finite-difference weights for the given stencil
    offsets (reference util/diff.py:8-66): solves the Vandermonde moment
    system sum_k w_k s_k^m = m! [m == deriv_order]."""
    import math

    offsets = np.asarray(offsets, dtype=np.float64)
    n = len(offsets)
    if deriv_order >= n:
        raise ValueError("need more stencil points than derivative order")
    A = np.vander(offsets, n, increasing=True).T  # A[m, k] = s_k^m
    b = np.zeros(n)
    b[deriv_order] = float(math.factorial(deriv_order))
    return np.linalg.solve(A, b)


def with_derivative(
    df: DataFrame,
    x_col: str = "x",
    dt: float = 1.0,
    out_col: str = "x_dot",
    traj_col: str = "traj_id",
    time_col: str = "t",
) -> DataFrame:
    """np.gradient-equivalent time derivative per trajectory: second-order
    central differences in the interior, second-order one-sided stencils at
    trajectory edges. One window pass (the four +-1, +-2 partners come from
    one ``lagged`` projection), all JVM zip_with arithmetic."""
    shifts = {"_xp": 1, "_xm": -1, "_xp2": 2, "_xm2": -2}
    df = lagged(df, {n: (x_col, k) for n, k in shifts.items()}, by=(traj_col,), order=time_col)
    xp, xm, xp2, xm2 = (F.col(n) for n in shifts)
    two_dt = F.lit(2.0 * dt)

    central = F.zip_with(xp, xm, lambda a, b: (a - b) / two_dt)
    # second-order one-sided: (-3 f0 + 4 f1 - f2) / (2 dt)
    fwd = F.zip_with(
        F.zip_with(F.col(x_col), xp, lambda f0, f1: -3.0 * f0 + 4.0 * f1),
        xp2,
        lambda acc, f2: (acc - f2) / two_dt,
    )
    bwd = F.zip_with(
        F.zip_with(F.col(x_col), xm, lambda f0, f1: 3.0 * f0 - 4.0 * f1),
        xm2,
        lambda acc, f2: (acc + f2) / two_dt,
    )
    expr = (
        F.when(xm.isNull() & xp.isNotNull() & xp2.isNotNull(), fwd)
        .when(xp.isNull() & xm.isNotNull() & xm2.isNotNull(), bwd)
        .when(xm.isNotNull() & xp.isNotNull(), central)
        .otherwise(F.lit(None))
    )
    return df.withColumn(out_col, expr).where(F.col(out_col).isNotNull()).drop(*shifts)


class STLSQ:
    """Sequentially-thresholded least squares on cached gramians
    (reference _sindy.py:367-542): ridge-solve, hard-threshold, repeat.
    Operating on (G = Theta'Theta, B = Theta'Xdot) means iterations cost
    O(n_features^3) on the driver — no data re-pass."""

    def __init__(self, threshold: float = 0.1, alpha: float = 0.05, max_iter: int = 20,
                 normalize_columns: bool = False):
        self.threshold = threshold
        self.alpha = alpha
        self.max_iter = max_iter
        self.normalize_columns = normalize_columns

    def solve(self, G: np.ndarray, B: np.ndarray) -> np.ndarray:
        """G: (f, f) gramian; B: (f, d) cross moments. Returns Xi (d, f)."""
        f, d = B.shape
        scale = np.ones(f)
        if self.normalize_columns:
            scale = np.sqrt(np.maximum(np.diag(G), 1e-30))
        Gs = G / scale[:, None] / scale[None, :]
        Bs = B / scale[:, None]
        Xi = np.zeros((d, f))
        for j in range(d):
            active = np.ones(f, dtype=bool)
            coef = np.zeros(f)
            for _ in range(self.max_iter):
                if not active.any():
                    break
                idx = np.flatnonzero(active)
                A = Gs[np.ix_(idx, idx)] + self.alpha * np.eye(len(idx))
                sol = np.linalg.solve(A, Bs[idx, j])
                coef = np.zeros(f)
                coef[idx] = sol
                new_active = np.abs(coef) >= self.threshold
                if np.array_equal(new_active, active):
                    break
                active = new_active
            Xi[j] = coef / scale
        return Xi


class SINDyModel(Model):
    """Xi coefficients + library (reference _sindy.py:17-239)."""

    def __init__(self, coefficients: np.ndarray, library: Monomials, feature_names: list,
                 x_col: str = "x"):
        self.coefficients = coefficients  # (d, n_features)
        self.library = library
        self.feature_names = feature_names
        self.x_col = x_col

    def equations(self, precision: int = 3) -> list:
        """Human-readable governing equations (reference :equations)."""
        eqs = []
        for row in self.coefficients:
            terms = [
                f"{c:.{precision}f} {name}"
                for c, name in zip(row, self.feature_names)
                if abs(c) > 0
            ]
            eqs.append(" + ".join(terms) if terms else "0")
        return eqs

    def predict(self, df: DataFrame, out_col: str = "x_dot_pred") -> DataFrame:
        """x_dot ~ Theta(x) Xi^T as executor-side column math."""
        from deeptime_spark.decomposition.koopman import _project_expr

        phi = self.library(df, x_col=self.x_col, out_col="_phi")
        out = _project_expr(phi, self.coefficients, None, "_phi", out_col)
        return out.drop("_phi")

    def score(self, df: DataFrame, xdot_col: str = "x_dot") -> float:
        """R^2 of the predicted derivatives (reference :score) — one agg."""
        pred = self.predict(df)
        d = self.coefficients.shape[0]
        res = [
            F.sum((F.col(xdot_col)[i] - F.col("x_dot_pred")[i]) ** 2).alias(f"ss_res_{i}")
            for i in range(d)
        ]
        tot_mean = [F.avg(F.col(xdot_col)[i]).alias(f"mean_{i}") for i in range(d)]
        tot_sq = [F.sum(F.col(xdot_col)[i] ** 2).alias(f"sq_{i}") for i in range(d)]
        n = [F.count(F.lit(1)).alias("n")]
        row = pred.agg(*(res + tot_mean + tot_sq + n)).first()
        ss_res = sum(row[f"ss_res_{i}"] for i in range(d))
        ss_tot = sum(
            row[f"sq_{i}"] - row["n"] * row[f"mean_{i}"] ** 2 for i in range(d)
        )
        return float(1.0 - ss_res / ss_tot) if ss_tot > 0 else float("nan")

    def simulate(self, x0: np.ndarray, n_steps: int, dt: float = 0.01) -> np.ndarray:
        """Integrate the identified ODE with classic RK4 on the driver
        (reference uses scipy solve_ivp; RK4 avoids the scipy dependency)."""
        powers = self.library._powers

        def theta(x):
            out = np.empty(len(powers))
            for i, combo in enumerate(powers):
                v = 1.0
                for j in combo:
                    v *= x[j]
                out[i] = v
            return out

        def rhs(x):
            return self.coefficients @ theta(x)

        xs = np.empty((n_steps + 1, len(x0)))
        xs[0] = x0
        for k in range(n_steps):
            x = xs[k]
            k1 = rhs(x)
            k2 = rhs(x + 0.5 * dt * k1)
            k3 = rhs(x + 0.5 * dt * k2)
            k4 = rhs(x + dt * k3)
            xs[k + 1] = x + dt / 6.0 * (k1 + 2 * k2 + 2 * k3 + k4)
        return xs


class SINDy(Estimator):
    """ctor mirrors the reference (:240-366): library (default polynomial
    degree 2 with bias), optimizer (default STLSQ)."""

    def __init__(
        self,
        library: Optional[Monomials] = None,
        optimizer: Optional[STLSQ] = None,
        x_col: str = "x",
    ):
        super().__init__()
        self.library = library
        self.optimizer = optimizer or STLSQ()
        self.x_col = x_col

    def fit(self, df: DataFrame, xdot_col: Optional[str] = None, dt: float = 1.0) -> "SINDy":
        """Featurize -> ONE gramian aggregate -> driver STLSQ. When no
        derivative column is given it is computed by the window FD pass."""
        d = feature_dim(df, self.x_col)
        lib = self.library or Monomials(p=2, d=d)
        if xdot_col is None:
            df = with_derivative(df, x_col=self.x_col, dt=dt)
            xdot_col = "x_dot"
        phi = lib(df, x_col=self.x_col, out_col="_phi")
        # widths are known: the library's arity, and x_dot has x's width
        m = compute_moments(
            phi,
            x_col="_phi",
            y_col=xdot_col,
            d=len(lib.get_feature_names_out()),
            d_y=d,
            compute_xx=True,
            compute_yy=False,
        ).get(())
        if m is None:
            raise ValueError("SINDy found no frame to fit")
        Xi = self.optimizer.solve(m.mxx, m.mxy)
        self._model = SINDyModel(Xi, lib, lib.get_feature_names_out(), x_col=self.x_col)
        return self
