"""Single-pass weighted moment accumulation (the engine's aggregation core).

Reference semantics: ``moments_XX`` / ``moments_XXXY``
(/root/reference/src/deeptime/covariance/util/_moments.py:594-833) compute
``(w, sx, sy, Mxx, Mxy, Myy)`` in one pass; chunk results are merged pairwise
with the Chan/Golub/LeVeque rule (``Moments.combine``,
covariance/util/_running_moments.py:37-59).

Spark realization — two physical strategies behind one logical op:

1. **Expression path** (d <= EXPR_MAX_DIM): flatten the feature array into
   columns and emit ``sum(w*x_i*x_j)`` expressions. Everything stays inside
   whole-stage codegen with map-side partial aggregation; the shuffle moves
   exactly one row of O(d^2) floats per partition. This is the plan you want
   at 100 TB: a single scan, no Python, no skew (global agg).

2. **Arrow path** (large d): ``mapInPandas`` accumulates the per-partition
   outer-product partials in numpy (BLAS ``X.T @ X`` per batch — same
   algebra the reference's C++ uses), yielding one flattened row per
   partition and key; the driver sums the ~num_partitions partial rows
   of each key. Raw-moment
   sums commute, so merge order is irrelevant (the Chan mean-free form is
   only needed for streaming mean-removed accumulation; at fp64 with
   tree-style partial sums raw moments are numerically adequate, matching
   the reference's own fp64 policy in _moments.py:1-13).

Grouped form: ``by`` columns key the aggregate (``groupBy(*by)`` on the
expression path, one accumulator per key and partition on the Arrow path),
so many independent moment sets — e.g. every cross-validation fold's train
and test split — come from one pass. ``by=()`` is the global aggregate.

Both strategies return identical ``MomentsResult`` sufficient statistics;
mean removal, Bessel correction (_running_moments.py:69-83) and
symmetrization (covariance/_covariance.py:517-519) are O(d^2) driver-side
finalizers.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from deeptime_spark.operators.lag import FEATURES_COL

EXPR_MAX_DIM = 24  # above this, d^2 codegen expressions stop paying off


@dataclass
class MomentsResult:
    """Sufficient statistics of one pass: weights, first and second raw moments."""

    weight_sum: float
    sx: np.ndarray  # (d,)  sum w*x
    mxx: np.ndarray  # (d, d) sum w*x x^T
    sy: Optional[np.ndarray] = None  # (d,)  sum w*y   (lagged leg)
    mxy: Optional[np.ndarray] = None  # (d, d) sum w*x y^T
    myy: Optional[np.ndarray] = None  # (d, d) sum w*y y^T

    @property
    def mean_x(self) -> np.ndarray:
        return self.sx / self.weight_sum

    @property
    def mean_y(self) -> Optional[np.ndarray]:
        return None if self.sy is None else self.sy / self.weight_sum

    def combine(self, other: "MomentsResult") -> "MomentsResult":
        """Merge two accumulators (raw moments are additive — this is the
        commutative-monoid property treeAggregate relies on; the reference's
        Chan combine (_running_moments.py:37-59) is the mean-free variant of
        the same merge)."""

        def add(a, b):
            if a is None and b is None:
                return None
            return a + b

        return MomentsResult(
            weight_sum=self.weight_sum + other.weight_sum,
            sx=self.sx + other.sx,
            mxx=self.mxx + other.mxx,
            sy=add(self.sy, other.sy),
            mxy=add(self.mxy, other.mxy),
            myy=add(self.myy, other.myy),
        )

    def covariances(
        self,
        remove_mean: bool = True,
        bessels_correction: bool = True,
        symmetrize: bool = False,
    ):
        """Finalize to (c00, c0t, ctt, mean_x, mean_y).

        Mean removal converts raw to central moments:
        ``C = (M - w * mean_x mean_y^T) / denom`` with denom = w-1 (Bessel,
        _running_moments.py:69-83) or w. ``symmetrize`` implements the
        reversible/symmetric estimate (covariance/_covariance.py:517-519):
        means of both legs are pooled and C0t is averaged with its transpose.
        """
        w = self.weight_sum
        denom = w - 1.0 if bessels_correction else w
        has_y = self.sy is not None

        if symmetrize and has_y:
            mean = 0.5 * (self.mean_x + self.mean_y)
            mean_x = mean_y = mean
            mxx = 0.5 * (self.mxx + self.myy)
            mxy = 0.5 * (self.mxy + self.mxy.T)
            myy = mxx
        else:
            mean_x = self.mean_x
            mean_y = self.mean_y
            mxx, mxy, myy = self.mxx, self.mxy, self.myy

        def central(m, mu_a, mu_b):
            if m is None:
                return None
            if remove_mean:
                m = m - w * np.outer(mu_a, mu_b)
            return m / denom

        c00 = central(mxx, mean_x, mean_x)
        c0t = central(mxy, mean_x, mean_y) if has_y else None
        ctt = central(myy, mean_y, mean_y) if has_y else None
        return c00, c0t, ctt, mean_x, (mean_y if has_y else None)


WIDTH_KEY = "width"  # schema-metadata key holding an array column's width


def features(*exprs) -> Column:
    """``F.array(*exprs)`` as the trajectory feature column ``x``, with its
    width in the schema metadata (``WIDTH_KEY``) so ``feature_dim`` reads it
    without a job. Like ``F.array``, it takes the elements spread out or as
    one list; the recorded width is the number of elements either way."""
    if len(exprs) == 1 and isinstance(exprs[0], (list, tuple)):
        exprs = tuple(exprs[0])
    return F.array(*exprs).alias(FEATURES_COL, metadata={WIDTH_KEY: len(exprs)})


def feature_dim(df: DataFrame, col: str = "x") -> int:
    """Width of the array column ``col``, the package's one width reader:
    the ``WIDTH_KEY`` schema metadata when present (no job; projections,
    filters, lags and explodes keep it), else a one-row probe job. Raises
    ``ValueError`` naming ``col`` when the probe finds no row or a NULL."""
    width = df.schema[col].metadata.get(WIDTH_KEY)
    if width is not None:
        return int(width)
    row = df.select(F.size(F.col(col))).first()
    if row is None or row[0] is None or row[0] < 0:
        raise ValueError(f"feature_dim: no row or a NULL {col!r} to read its width from")
    return int(row[0])


def compute_moments(
    df: DataFrame,
    x_col: str = "x",
    y_col: Optional[str] = None,
    weight_col: Optional[str] = None,
    d: Optional[int] = None,
    d_y: Optional[int] = None,
    compute_xx: bool = True,
    compute_yy: bool = True,
    by: Sequence[str] = (),
) -> dict[tuple, MomentsResult]:
    """One Spark aggregate -> ``{key: MomentsResult}`` per value of the ``by``
    columns (``by=()``: the global aggregate, key ``()``); keys with no rows
    are absent, so an empty input gives ``{}``. Strategy chosen by feature dim.

    ``d_y`` allows a rectangular cross moment (x and y of different widths,
    e.g. SINDy's Theta'Xdot); it defaults to ``d``.
    """
    if d is None:
        d = feature_dim(df, x_col)
    if d_y is None:
        d_y = feature_dim(df, y_col) if y_col else d
    path = _moments_expr if max(d, d_y) <= EXPR_MAX_DIM else _moments_arrow
    return path(df, x_col, y_col, weight_col, d, d_y, compute_xx, compute_yy, tuple(by))


def _moments_expr(df, x_col, y_col, weight_col, d, d_y, compute_xx, compute_yy, by=()):
    """Codegen path: one ``groupBy(*by)`` aggregate of sum-of-product
    expressions (``groupBy()`` is the plan ``df.agg`` runs)."""
    x = [F.col(x_col)[i] for i in range(d)]
    y = [F.col(y_col)[i] for i in range(d_y)] if y_col else None
    w = F.col(weight_col) if weight_col else F.lit(1.0)

    aggs = [F.sum(w).alias("w")]
    aggs += [F.sum(w * x[i]).alias(f"sx_{i}") for i in range(d)]
    if y is not None:
        aggs += [F.sum(w * y[i]).alias(f"sy_{i}") for i in range(d_y)]
    if compute_xx:
        # symmetric: only upper triangle crosses the shuffle
        aggs += [
            F.sum(w * x[i] * x[j]).alias(f"mxx_{i}_{j}") for i in range(d) for j in range(i, d)
        ]
    if y is not None:
        aggs += [F.sum(w * x[i] * y[j]).alias(f"mxy_{i}_{j}") for i in range(d) for j in range(d_y)]
        if compute_yy:
            aggs += [
                F.sum(w * y[i] * y[j]).alias(f"myy_{i}_{j}") for i in range(d_y) for j in range(i, d_y)
            ]

    def sym(row, prefix, n):
        return np.array([[row[f"{prefix}_{min(i, j)}_{max(i, j)}"] for j in range(n)]
                         for i in range(n)])

    out = {}
    for row in df.groupBy(*by).agg(*aggs).collect():
        if row["w"] is None:  # the global aggregate of no rows
            continue
        res = MomentsResult(
            weight_sum=float(row["w"]),
            sx=np.array([row[f"sx_{i}"] for i in range(d)]),
            mxx=sym(row, "mxx", d) if compute_xx else np.zeros((d, d)),
        )
        if y is not None:
            res.sy = np.array([row[f"sy_{i}"] for i in range(d_y)])
            res.mxy = np.array([[row[f"mxy_{i}_{j}"] for j in range(d_y)] for i in range(d)])
            res.myy = sym(row, "myy", d_y) if compute_yy else None
        out[tuple(row[k] for k in by)] = res
    return out


def _moments_arrow(df, x_col, y_col, weight_col, d, d_y, compute_xx, compute_yy, by=()):
    """Arrow path: per-partition BLAS partials, driver-side merge.

    Emits ONE row per (partition, key) — a few thousand rows even on a
    1000-executor cluster, each O(d^2) — the classic treeAggregate shape.
    """
    has_y = y_col is not None
    by = list(by)
    cols = by + [x_col] + ([y_col] if has_y else []) + ([weight_col] if weight_col else [])
    narrow = df.select(*cols)
    shapes = {"sx": (d,), "sy": (d_y,), "mxx": (d, d), "mxy": (d, d_y), "myy": (d_y, d_y)}
    out_schema = StructType(
        [narrow.schema[k] for k in by]
        + [StructField("w", DoubleType())]
        + [StructField(a, ArrayType(DoubleType())) for a in shapes]
    )

    def partial(pdf) -> MomentsResult:
        X = np.stack(pdf[x_col].to_numpy())
        wv = pdf[weight_col].to_numpy() if weight_col else None
        Xw = X if wv is None else X * wv[:, None]
        m = MomentsResult(
            weight_sum=float(len(X) if wv is None else wv.sum()),
            sx=Xw.sum(axis=0),
            mxx=Xw.T @ X if compute_xx else np.zeros((d, d)),
        )
        if has_y:
            Y = np.stack(pdf[y_col].to_numpy())
            Yw = Y if wv is None else Y * wv[:, None]
            m.sy = Yw.sum(axis=0)
            m.mxy = Xw.T @ Y
            m.myy = Yw.T @ Y if compute_yy else None
        return m

    def flat(a):
        return None if a is None else a.ravel().tolist()

    def acc(batches: Iterator) -> Iterator:
        import pandas as pd

        parts: dict = {}  # one accumulator per key in this partition
        for pdf in batches:
            groups = pdf.groupby(by, sort=False, dropna=False) if by else [((), pdf)]
            for key, g in groups:
                if len(g) == 0:
                    continue
                m = partial(g)
                parts[key] = parts[key].combine(m) if key in parts else m
        if parts:
            yield pd.DataFrame(
                [
                    [*key, m.weight_sum] + [flat(getattr(m, a)) for a in shapes]
                    for key, m in parts.items()
                ],
                columns=out_schema.fieldNames(),
            )

    out: dict = {}
    for p in narrow.mapInPandas(acc, schema=out_schema).collect():
        arrays = {a: None if p[a] is None else np.reshape(p[a], s) for a, s in shapes.items()}
        m = MomentsResult(weight_sum=p["w"], **arrays)
        key = tuple(p[k] for k in by)
        out[key] = out[key].combine(m) if key in out else m
    return out
