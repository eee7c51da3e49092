"""KMeans / MiniBatchKMeans over trajectory DataFrames.

Reference: ``KMeans`` (/root/reference/src/deeptime/clustering/
_kmeans.py:148-472; C++ Lloyd loop kmeans_bits.h with OpenMP) and
``MiniBatchKMeans`` (:474-559).

Spark realization: MLlib's KMeans is the idiomatic replacement — its
k-means|| init (Bahmani et al.) is the distributed analogue of kmeans++
(reference :24-56), and its Lloyd iterations are map-side partial
aggregations. We adapt our array<double> schema via array_to_vector and
return a driver-side ClusterModel so downstream assignment composes with
the rest of the engine without MLlib types leaking out.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deeptime_spark import dispatch
from deeptime_spark.base import Estimator
from deeptime_spark.clustering.cluster_model import ClusterModel


class KMeansModel(ClusterModel):
    """Centers + inertia (reference _kmeans.py:58-146)."""

    def __init__(self, cluster_centers: np.ndarray, inertia: float = float("nan"),
                 converged: bool = True, metric: str = "euclidean"):
        super().__init__(cluster_centers, metric=metric, converged=converged)
        self.inertia = inertia


class KMeans(Estimator):
    """ctor mirrors reference (:148-236): n_clusters, max_iter, tolerance,
    init_strategy ('kmeans++' -> k-means||), fixed_seed, initial_centers."""

    def __init__(
        self,
        n_clusters: int,
        max_iter: int = 32,
        tolerance: float = 1e-5,
        init_strategy: str = "kmeans++",
        fixed_seed: int | bool = 42,
        initial_centers: Optional[np.ndarray] = None,
        x_col: str = "x",
    ):
        super().__init__()
        self.n_clusters = n_clusters
        self.max_iter = max_iter
        self.tolerance = tolerance
        self.init_strategy = init_strategy
        self.seed = int(fixed_seed) if not isinstance(fixed_seed, bool) else 42
        self.initial_centers = initial_centers
        self.x_col = x_col

    def fit(self, df: DataFrame) -> "KMeans":
        from pyspark.ml.clustering import KMeans as MLKMeans
        from pyspark.ml.functions import array_to_vector

        # persist the assembled vectors: k-means|| init + every Lloyd
        # iteration re-reads the input (MLlib no longer auto-caches), so an
        # uncached source pays the scan + conversion ~2(init)+maxIter times
        vec = df.select(array_to_vector(F.col(self.x_col)).alias("features")).persist()
        try:
            init_mode = "k-means||" if self.init_strategy == "kmeans++" else "random"
            km = MLKMeans(
                k=self.n_clusters,
                maxIter=self.max_iter,
                tol=self.tolerance,
                initMode=init_mode,
                seed=self.seed,
            )
            fitted = km.fit(vec)
            centers = np.array([np.asarray(c) for c in fitted.clusterCenters()])
            inertia = float(fitted.summary.trainingCost)
        finally:
            vec.unpersist()
        self._model = KMeansModel(centers, inertia=inertia, converged=True)
        return self


class MiniBatchKMeans(KMeans):
    """Minibatch variant (reference :474-559): each ``partial_fit``/epoch
    refines centers on a random sample — on Spark a sampled MLlib fit warm-
    started from the previous centers via per-center weighted averaging.

    v1 approximation: Lloyd steps on a Bernoulli sample per epoch; the
    sample fraction replaces the reference's batch_size (cluster-friendly:
    sampling is a narrow op, no shuffle).
    """

    def __init__(self, n_clusters: int, batch_fraction: float = 0.1, max_iter: int = 8,
                 batch_size: Optional[int] = None, **kwargs):
        super().__init__(n_clusters, max_iter=max_iter, **kwargs)
        self.batch_fraction = batch_fraction
        # reference parity (_kmeans.py:474-559): batch_size caps the sample
        # row count per partial fit. On Spark it maps to a fraction
        # (batch_size / n, computed once per fit) — fraction sampling is a
        # narrow op; a row-exact take would need a shuffle or limit job.
        self.batch_size = batch_size
        self._centers: Optional[np.ndarray] = None
        self._counts: Optional[np.ndarray] = None
        self._epoch = 0
        self._inertias: list = []

    def partial_fit(self, df: DataFrame) -> "MiniBatchKMeans":
        import pandas as pd
        from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

        # fresh Bernoulli sample per call (seed varies by epoch) — a fixed
        # seed would refit the identical subsample every epoch instead of
        # streaming new data like the reference minibatch loop
        self._epoch += 1
        frac = self.batch_fraction
        if self.batch_size is not None:
            if not hasattr(self, "_n"):
                self._n = df.count()
            frac = min(1.0, self.batch_size / max(self._n, 1))
        batch = df.sample(fraction=min(1.0, frac), seed=self.seed + self._epoch)
        if self._centers is None and self.initial_centers is not None:
            # reference parity (_kmeans.py:148-236 ctor): caller-provided
            # initial centers skip the MLlib init entirely and the first
            # batch performs a real minibatch update — the fully
            # deterministic path (the k-means|| seed stream is
            # MLlib-internal, replayable by no other engine)
            centers0 = np.asarray(self.initial_centers, dtype=np.float64)
            if centers0.shape[0] != self.n_clusters:
                raise ValueError(
                    f"initial_centers has {centers0.shape[0]} rows, "
                    f"expected n_clusters={self.n_clusters}"
                )
            self._centers = centers0.copy()
            self._counts = np.ones(self.n_clusters)
        elif self._centers is None:
            # init from an MLlib fit on the first batch
            KMeans.fit(self, batch)
            self._centers = self._model.cluster_centers
            self._counts = np.ones(self.n_clusters)
            return self
        centers = self._centers
        d = centers.shape[1]
        schema = StructType(
            [
                StructField("sums", ArrayType(DoubleType())),
                StructField("counts", ArrayType(DoubleType())),
                StructField("cost", DoubleType()),
            ]
        )

        def acc(batches):
            sums = np.zeros((len(centers), d))
            counts = np.zeros(len(centers))
            cost = 0.0
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf[self.x_col].to_numpy())
                d2 = (
                    np.einsum("ij,ij->i", X, X)[:, None]
                    - 2.0 * (X @ centers.T)
                    + np.einsum("ij,ij->i", centers, centers)[None, :]
                )
                a = np.argmin(d2, axis=1)
                cost += float(np.clip(d2[np.arange(len(a)), a], 0.0, None).sum())
                np.add.at(sums, a, X)
                np.add.at(counts, a, 1.0)
            yield pd.DataFrame(
                {"sums": [sums.ravel().tolist()], "counts": [counts.tolist()], "cost": [cost]}
            )

        partials = batch.select(self.x_col).mapInPandas(acc, schema=schema).collect()
        sums = np.zeros((self.n_clusters, d))
        counts = np.zeros(self.n_clusters)
        cost = 0.0
        for p in partials:
            sums += np.array(p["sums"]).reshape(self.n_clusters, d)
            counts += np.array(p["counts"])
            cost += p["cost"]
        # minibatch update: running per-center mean (learning rate 1/n_c)
        self._counts += counts
        mask = counts > 0
        eta = (counts[mask] / self._counts[mask])[:, None]
        batch_means = sums[mask] / counts[mask][:, None]
        self._centers[mask] = (1 - eta) * self._centers[mask] + eta * batch_means
        # convergence by relative batch-inertia change (reference
        # _kmeans.py:556-558; cost here is measured pre-update in the same
        # Arrow pass rather than with a second pass after the update)
        converged = False
        if self._inertias and cost != 0.0:
            converged = abs(cost - self._inertias[-1]) / cost <= self.tolerance
        self._inertias.append(cost)
        self._model = KMeansModel(
            self._centers.copy(), inertia=cost, converged=converged
        )
        return self

    def fit(self, df: DataFrame) -> "MiniBatchKMeans":
        self._centers = None
        self._epoch = 0
        self._inertias = []
        for _ in range(self.max_iter):
            self.partial_fit(df)
            if self._model is not None and self._model.converged:
                break
        return self


# --------------------------------------------------- deterministic k-means

def kmeanspp_init(X: np.ndarray, k: int, rng: np.random.Generator) -> np.ndarray:
    """Seeded kmeans++ (reference _kmeans.py:24-56) on an in-memory sample
    via deterministic inverse-CDF draws — same rng, same sample, same
    centers, on any machine."""
    n = X.shape[0]
    if n < k:
        raise ValueError(f"kmeans++ needs >= k={k} sample points, got {n}")
    centers = [X[int(rng.integers(n))].astype(np.float64)]
    for _ in range(1, k):
        from deeptime_spark.clustering.cluster_model import _pairwise_sq_dists

        d2 = _pairwise_sq_dists(X, np.asarray(centers)).min(axis=1)
        d2 = np.clip(d2, 0.0, None)
        total = float(d2.sum())
        if total <= 0.0:
            idx = int(rng.integers(n))
        else:
            r = float(rng.random()) * total
            idx = min(int(np.searchsorted(np.cumsum(d2), r, side="right")), n - 1)
        centers.append(X[idx].astype(np.float64))
    return np.asarray(centers)


def _fixed_point_partials(X: np.ndarray, assign: np.ndarray, k: int, scale: int):
    """Per-cluster (count, int64 coordinate sums) with coordinates scaled
    by a power of two and rounded to nearest int. Integer addition is
    associative and commutative, so these partials reduce to the same
    totals under ANY partitioning / ordering of the rows — the core of the
    layout-independence guarantee. Caller must keep per-partial magnitude
    under int64 (rows_per_partition * scale * max|x| < 2^63; reduce
    ``scale`` for huge partitions of large-magnitude data)."""
    Xi = np.rint(X * scale).astype(np.int64)
    counts = np.bincount(assign, minlength=k).astype(np.int64)
    sums = np.zeros((k, X.shape[1]), dtype=np.int64)
    np.add.at(sums, assign, Xi)
    return counts, sums


def _centers_from_partials(old: np.ndarray, counts, sums, scale: int) -> np.ndarray:
    """New centers from exactly-reduced integer partials. ``counts`` and
    ``sums`` must be Python ints (arbitrary precision — the cross-
    partition reduce can exceed int64 even when each partial fits); the
    single int/int -> float division per coordinate is correctly rounded
    and therefore deterministic."""
    new = old.copy()
    for j in range(old.shape[0]):
        c = int(counts[j])
        if c > 0:
            denom = c * scale
            new[j] = np.array([s / denom for s in sums[j]], dtype=np.float64)
    return new


def deterministic_kmeans_numpy(
    X_sample: np.ndarray,
    X: np.ndarray,
    n_clusters: int,
    seed: int = 42,
    max_iter: int = 32,
    tolerance: float = 1e-6,
    scale: int = 2**30,
):
    """Single-machine replica of ``DeterministicKMeans.fit`` — returns
    (centers, n_iter). Bit-identical to the distributed fit because every
    cross-row reduction in the algorithm is over integers and every
    per-row computation uses the batch-shape-invariant distance kernel."""
    from deeptime_spark.clustering.metrics import _euclidean_batch_invariant

    rng = np.random.default_rng(seed)
    centers = kmeanspp_init(X_sample, n_clusters, rng)
    it = 0
    for it in range(1, max_iter + 1):
        a = np.argmin(_euclidean_batch_invariant(X, centers), axis=1)
        counts, sums = _fixed_point_partials(X, a, n_clusters, scale)
        new = _centers_from_partials(
            centers,
            [int(c) for c in counts],
            [[int(v) for v in row] for row in sums],
            scale,
        )
        shift = float(np.abs(new - centers).max())
        centers = new
        if shift < tolerance:
            break
    return centers, it


class DeterministicKMeans(Estimator):
    """Bit-reproducible distributed k-means: identical results on any
    partition count, row order, or cluster size.

    MLlib's k-means|| (the ``KMeans`` wrapper above) is the throughput
    path, but its init sampling is framework-internal and its centroid
    updates are floating-point sums in shuffle order — rerunning on a
    different layout gives a slightly different model. This estimator
    trades a little per-iteration CPU for exact reproducibility:

    - **init**: seeded kmeans++ on the ``sample_size`` lowest rows by
      ``order_col`` (a deterministic, pushdown-friendly TakeOrdered), run
      driver-side in numpy;
    - **assignment**: batch-shape-invariant distance kernel
      (metrics.py:_euclidean_batch_invariant) — per-row results don't
      depend on how rows are batched into partitions;
    - **update**: fixed-point integer partial sums per partition
      (coordinates scaled by ``scale``, a power of two, so the scaling
      itself is exact in binary), reduced on the driver with Python ints.
      Integer addition is associative: the reduce is layout-independent.

    One scan per iteration; the shuffle is k rows of (count, int sums)
    per partition — O(partitions * k * d) longs to the driver.
    """

    def __init__(
        self,
        n_clusters: int,
        max_iter: int = 32,
        tolerance: float = 1e-6,
        seed: int = 42,
        sample_size: int = 4096,
        scale: int = 2**30,
        x_col: str = "x",
        order_col: str = "_det_order",
    ):
        super().__init__()
        self.n_clusters = n_clusters
        self.max_iter = max_iter
        self.tolerance = tolerance
        self.seed = seed
        self.sample_size = sample_size
        self.scale = scale
        self.x_col = x_col
        self.order_col = order_col

    def fit(self, df: DataFrame) -> "DeterministicKMeans":
        import pandas as pd
        from pyspark.sql.types import ArrayType, LongType, StructField, StructType

        from deeptime_spark.clustering.metrics import _euclidean_batch_invariant

        k, x_col, scale = self.n_clusters, self.x_col, self.scale
        # tie-break the TakeOrdered by the feature vector itself (array
        # ordering is lexicographic and deterministic): a non-unique
        # order_col otherwise leaves the sample's tie order to the
        # physical layout, breaking the class's any-partitioning
        # determinism promise (surfaced in r12 when a layout pin changed
        # partition counts; rows identical in BOTH keys are fully
        # interchangeable, so the residual ambiguity is harmless). A
        # no-op for unique order keys.
        sample = df.orderBy(self.order_col, x_col).limit(self.sample_size).select(x_col)
        X0 = np.asarray(dispatch.arrays(sample)[x_col], dtype=np.float64)
        if dispatch.on_driver("kmeans", int(len(X0) >= self.sample_size)):
            # The bounded init sample IS the whole relation (limit
            # returned fewer rows than requested), so the Lloyd loop
            # runs driver-side on the rows already collected —
            # bit-identical by construction (deterministic_kmeans_numpy
            # shares kmeanspp_init, the batch-shape-invariant distance
            # kernel, and the exactly-reduced fixed-point update; the
            # integer partials are associative, so one batch == any
            # partitioning). Saves max_iter mapInPandas jobs whose
            # inputs the driver already holds (the "kmeans" bound of
            # deeptime_spark/dispatch.py). Above sample_size rows the
            # distributed path below is unchanged at any scale.
            centers, self.n_iter_ = deterministic_kmeans_numpy(
                X0,
                X0,
                k,
                seed=self.seed,
                max_iter=self.max_iter,
                tolerance=self.tolerance,
                scale=scale,
            )
            self._model = KMeansModel(
                centers, converged=True, metric="euclidean-deterministic"
            )
            return self
        rng = np.random.default_rng(self.seed)
        centers = kmeanspp_init(X0, k, rng)

        from deeptime_spark.operators.layout import spread_for_map_parallelism

        # every Lloyd iteration is one mapInPandas over this frame; a
        # single-row-group scan would serialize the BLAS work on one core.
        # Safe under the round-robin exchange: partials are fixed-point
        # integers reduced exactly, so results are batch-shape-invariant
        # (pinned by tests). No-op when the scan already has enough
        # splits; size-capped because the per-byte cost here is one BLAS
        # gemm — slicing a sub-MB input across every core costs more in
        # per-iteration task scheduling than the map work saved.
        vecs = spread_for_map_parallelism(
            df.select(x_col), min_bytes_per_partition=4 << 20
        ).persist()
        try:
            schema = StructType(
                [
                    StructField("cluster", LongType()),
                    StructField("n", LongType()),
                    StructField("sums", ArrayType(LongType())),
                ]
            )
            n_iter = 0
            for n_iter in range(1, self.max_iter + 1):
                C = centers

                def partials(batches):
                    counts = None
                    sums = None
                    for pdf in batches:
                        if not len(pdf):
                            continue
                        X = np.stack(pdf[x_col].to_numpy()).astype(np.float64)
                        a = np.argmin(_euclidean_batch_invariant(X, C), axis=1)
                        c, s = _fixed_point_partials(X, a, k, scale)
                        if counts is None:
                            counts, sums = c, s
                        else:
                            counts += c
                            sums += s
                    if counts is None:
                        return
                    yield pd.DataFrame(
                        {
                            "cluster": np.arange(k, dtype=np.int64),
                            "n": counts,
                            "sums": [row.tolist() for row in sums],
                        }
                    )

                rows = vecs.mapInPandas(partials, schema=schema).collect()
                counts = [0] * k
                sums = [[0] * centers.shape[1] for _ in range(k)]
                for r in rows:
                    j = int(r["cluster"])
                    counts[j] += int(r["n"])
                    row = sums[j]
                    for i, v in enumerate(r["sums"]):
                        row[i] += int(v)
                new = _centers_from_partials(centers, counts, sums, scale)
                shift = float(np.abs(new - centers).max())
                centers = new
                if shift < self.tolerance:
                    break
        finally:
            vecs.unpersist()
        self.n_iter_ = n_iter
        self._model = KMeansModel(
            centers, converged=True, metric="euclidean-deterministic"
        )
        return self
