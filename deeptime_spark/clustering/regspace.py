"""Regular-space clustering — two-level leader algorithm.

Reference: ``RegularSpace``
(/root/reference/src/deeptime/clustering/_regspace.py:14-175): scan frames
in order, admit a frame as a new center if it is farther than dmin from all
existing centers, cap at max_centers. The scan is inherently sequential;
the *result contract* is only "a valid dmin-packing that covers the data"
(SURVEY.md §7.4 item 1), which a two-level leader pass preserves:

  level 1 (distributed): per-partition leader scan via mapInPandas — each
      partition emits its local centers (<= max_centers each);
  level 2 (driver): leader scan over the concatenated local centers.

Every point is within dmin of some local center (level 1), and every local
center is within dmin of some final center or is one (level 2), so every
point is within 2*dmin of a final center and all final centers are pairwise
> dmin apart — the packing invariant tests assert (exact center identity is
order-dependent even in the reference).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from deeptime_spark import dispatch
from deeptime_spark.base import Estimator
from deeptime_spark.clustering.cluster_model import ClusterModel, _pairwise_sq_dists


def _leader_scan(X: np.ndarray, dmin: float, max_centers: int, centers: list) -> None:
    """Sequential leader scan, vectorized: track each row's min squared
    distance to the admitted centers and jump straight to the next
    uncovered row — O(n * n_admitted) numpy work instead of a Python loop
    with an O(n_centers) distance call per row. Admission order and
    results are identical to the row-by-row scan."""
    n = len(X)
    if n == 0:
        return
    d2min = dmin * dmin
    if centers:
        d2 = _pairwise_sq_dists(X, np.asarray(centers)).min(axis=1)
    else:
        d2 = np.full(n, np.inf)
    start = 0
    while len(centers) < max_centers and start < n:
        rest = d2[start:] > d2min
        if not rest.any():
            break
        idx = start + int(np.argmax(rest))
        centers.append(X[idx].copy())
        d2 = np.minimum(d2, _pairwise_sq_dists(X, X[idx][None, :])[:, 0])
        start = idx + 1


class RegularSpace(Estimator):
    """ctor mirrors reference (:14-80): dmin, max_centers.

    ``exact=True`` reproduces the reference's strictly order-dependent
    center set by streaming frames through the driver in (traj_id, t)
    order — partition-at-a-time via toLocalIterator, never a full collect.
    Exact center identity is inherently sequential; use it when center
    reproducibility against the reference matters more than throughput.
    The default two-level mode is the distributed path (packing invariant
    preserved, centers order-dependent-but-different).
    """

    def __init__(self, dmin: float, max_centers: int = 500, x_col: str = "x", exact: bool = False):
        super().__init__()
        if dmin <= 0:
            raise ValueError("dmin must be positive")
        self.dmin = dmin
        self.max_centers = max_centers
        self.x_col = x_col
        self.exact = exact

    def _fit_exact(self, df: DataFrame) -> None:
        order = [c for c in ("traj_id", "t") if c in df.columns]
        if not order:
            # no deterministic scan order available — stream through the
            # driver in the DataFrame's own order (small-data fallback)
            self._fit_exact_stream(df)
            return

        from pyspark.sql import functions as F

        # Distributed-exact leader scan. Key fact (by induction): a point
        # the sequential scan skips is within dmin of a center admitted
        # BEFORE it, so removing already-covered points never changes the
        # scan's outcome on the rest. Each round therefore (1) filters the
        # data to points uncovered by all current centers — a vectorized
        # map, no shuffle, (2) takes the first ``batch`` of them in scan
        # order (TakeOrdered — no global sort), and (3) runs the reference
        # sequential scan over that small driver-side batch, admitting
        # every center it finds. One distributed job per round and a
        # typical round admits many centers, so rounds ~ O(max_centers /
        # batch-yield), usually 1-2 — the exact reference center set at
        # cluster scale, with no row-by-row driver streaming.
        d2min = self.dmin * self.dmin
        x_col, max_centers = self.x_col, self.max_centers
        batch_size = 4096
        key = [F.col(c) for c in order]
        src = df.select(*key, x_col).persist()
        centers: list = []

        def make_far(C: np.ndarray):
            # factory: the UDF closes over THIS round's center matrix in a
            # private cell (a shared loop variable would corrupt recompute
            # of an earlier stage after cache eviction)
            @F.pandas_udf("boolean")
            def far(xs: pd.Series) -> pd.Series:
                X = np.stack(xs.to_numpy()).astype(np.float64)
                d2 = _pairwise_sq_dists(X, C).min(axis=1)
                return pd.Series(d2 > d2min)

            return far

        try:
            while len(centers) < max_centers:
                cand = src
                if centers:
                    cand = src.filter(make_far(np.asarray(centers))(F.col(x_col)))
                batch = dispatch.arrays(cand.orderBy(*order).limit(batch_size).select(x_col))
                X = np.asarray(batch[x_col], dtype=np.float64)
                if not len(X):
                    break
                n_before = len(centers)
                _leader_scan(X, self.dmin, max_centers, centers)
                if len(X) < batch_size or len(centers) == n_before:
                    break  # batch covered the whole remainder
        finally:
            src.unpersist()
        if not centers:
            raise ValueError("no data")
        self._model = ClusterModel(np.asarray(centers), converged=True)

    def _fit_exact_stream(self, df: DataFrame) -> None:
        centers: list = []
        for row in df.select(self.x_col).toLocalIterator(prefetchPartitions=True):
            if len(centers) >= self.max_centers:
                break
            _leader_scan(
                np.asarray(row[self.x_col], dtype=np.float64)[None, :],
                self.dmin,
                self.max_centers,
                centers,
            )
        if not centers:
            raise ValueError("no data")
        self._model = ClusterModel(np.asarray(centers), converged=True)

    def fit(self, df: DataFrame) -> "RegularSpace":
        import pandas as pd

        if self.exact:
            self._fit_exact(df)
            return self

        dmin, max_centers, x_col = self.dmin, self.max_centers, self.x_col
        schema = StructType([StructField("center", ArrayType(DoubleType()))])

        def local_leaders(batches):
            centers: list = []
            for pdf in batches:
                if len(pdf):
                    _leader_scan(np.stack(pdf[x_col].to_numpy()), dmin, max_centers, centers)
            if centers:
                yield pd.DataFrame({"center": [c.tolist() for c in centers]})

        local = df.select(x_col).mapInPandas(local_leaders, schema=schema).collect()
        final: list = []
        _leader_scan(np.array([r["center"] for r in local]), dmin, max_centers, final)
        if not final:
            raise ValueError("no data")
        self._model = ClusterModel(np.asarray(final), converged=True)
        return self
