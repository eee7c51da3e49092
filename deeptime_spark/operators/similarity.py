"""Similarity search over embedding columns.

Training-data-pipeline surface (BASELINE.json north star): brute-force
cosine top-k as the exact baseline; random-hyperplane LSH, IVF, and IVF-PQ
(IVFADC) as the scale paths, plus a persisted partition-pruned IVF serving
index. Embeddings are ``array<float>`` rows; all distance math is JVM
(zip_with/aggregate) so the scan stays inside codegen — no Python per row.
Both corpus AND query sides are distributed: probe-cell assignment and
ADC-table construction are broadcast-centers Arrow kernels, never a
driver collect (r9 fix; probe_ivf_index is the one deliberate,
max_batch-capped serving-side exception).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd
from deeptime_spark import dispatch
from deeptime_spark.local_relation import local_df as _local_df
from deeptime_spark.operators.moments import feature_dim
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _literal_array(vec: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    Plan: broadcast the (small) query side, compute similarity per
    (query, corpus) pair map-side, then a TWO-STAGE top-k: stage 1 keeps
    the per-(query, input-partition) top-k — keyed on
    (query_id, partition_id), so no single reducer sees more than one
    partition's scored rows even when there are few queries; stage 2 takes
    the exact global top-k over the surviving |parts| * k rows per query.
    This removes the skewed single-key funnel a plain
    ``row_number over (partition by query_id)`` would create when
    |queries| is small and the corpus is 100 TB. Exactness is preserved:
    the global top-k is a subset of the union of per-partition top-ks.
    """
    q = queries.select(
        F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qvec")
    )
    if metric == "cosine":
        sim = cosine_similarity(F.col(vec_col), F.col("_qvec"))
        order = F.desc("similarity")
    elif metric == "dot":
        sim = dot(F.col(vec_col), F.col("_qvec"))
        order = F.desc("similarity")
    elif metric == "euclidean":
        diff = F.zip_with(F.col(vec_col), F.col("_qvec"), lambda x, y: (x - y) * (x - y))
        sim = F.sqrt(F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v))
        order = F.asc("similarity")
    else:
        raise ValueError(f"unknown metric {metric!r}")
    scored = corpus.join(F.broadcast(q)).select(
        F.col("_qid").alias(query_id_col),
        F.col(id_col),
        sim.alias("similarity"),
        F.spark_partition_id().alias("_part"),
    )
    w1 = Window.partitionBy(query_id_col, "_part").orderBy(order, F.col(id_col))
    survivors = (
        scored.withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= k)
        .drop("_rn", "_part")
    )
    w2 = Window.partitionBy(query_id_col).orderBy(order, F.col(id_col))
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
    )


def topk_for_vector(
    corpus: DataFrame, query_vec: Sequence[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding", metric: str = "cosine",
) -> DataFrame:
    """Single-vector convenience: no join at all — the query is a literal
    folded into the scan; top-k via global orderBy+limit (Spark executes
    it as per-partition top-k + driver merge: TakeOrderedAndProject)."""
    if metric == "cosine":
        sim = cosine_similarity(F.col(vec_col), _literal_array(query_vec))
        return corpus.select(F.col(id_col), sim.alias("similarity")).orderBy(
            F.desc("similarity"), F.col(id_col)
        ).limit(k)
    raise ValueError(f"unknown metric {metric!r}")


def random_hyperplane_buckets(
    emb: DataFrame, n_planes: int = 8, seed: int = 42,
    vec_col: str = "embedding", out_col: str = "bucket", n_tables: int = 1,
    d: int | None = None,
) -> DataFrame:
    """Sign-pattern LSH bucket id(s) as a column.

    With ``n_tables == 1`` adds one int bucket in [0, 2^n_planes); with
    more, an array of per-table buckets (independent hyperplane sets — the
    OR-construction: a pair colliding in ANY table becomes a candidate,
    recall 1 - (1 - p^n_planes)^n_tables for match probability
    p = 1 - theta/pi).

    Narrow vectors use ``aggregate(zip_with(x, plane_literal, *), +)``
    literal-array dots (O(n_planes x n_tables) Catalyst nodes); wide
    embeddings go through an Arrow pandas_udf doing ONE
    sign(X @ planes^T) BLAS gemm per batch for ALL tables — Spark's
    higher-order functions are interpreted per element, so 64-d+ columns
    are ~10x faster on the BLAS path with identical buckets.

    ``d`` (the embedding width) defaults to ``feature_dim(emb, vec_col)``,
    a one-row probe job unless the column carries its width.
    """
    if d is None:
        d = feature_dim(emb, vec_col)
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_tables * n_planes, d))
    if d <= 24:
        buckets = []
        for t in range(n_tables):
            bucket = F.lit(0)
            for i in range(n_planes):
                proj = dot(
                    F.col(vec_col).cast("array<double>"),
                    _literal_array(planes[t * n_planes + i]),
                )
                bucket = bucket + F.when(proj >= 0, F.lit(2**i)).otherwise(F.lit(0))
            buckets.append(bucket)
        col = buckets[0] if n_tables == 1 else F.array(*buckets)
        return emb.withColumn(out_col, col)

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    planes_T = np.ascontiguousarray(planes.T)
    powers = (2 ** np.arange(n_planes)).astype(np.int64)

    if n_tables == 1:

        @pandas_udf(IntegerType())
        def bucket_of(xs: pd.Series) -> pd.Series:
            X = np.stack(xs.to_numpy()).astype(np.float64, copy=False)
            signs = (X @ planes_T) >= 0
            return pd.Series((signs @ powers).astype(np.int32))

        return emb.withColumn(out_col, bucket_of(F.col(vec_col)))

    @pandas_udf(ArrayType(IntegerType()))
    def buckets_of(xs: pd.Series) -> pd.Series:
        X = np.stack(xs.to_numpy()).astype(np.float64, copy=False)
        signs = (X @ planes_T).reshape(len(X), n_tables, n_planes) >= 0
        ids = (signs @ powers).astype(np.int32)
        return pd.Series(list(ids))

    return emb.withColumn(out_col, buckets_of(F.col(vec_col)))


def _probe_cells(
    queries: DataFrame,
    centers: np.ndarray,
    n_probe: int,
    query_id_col: str,
    vec_col: str,
) -> DataFrame:
    """EXECUTOR-SIDE probe-cell assignment: broadcast the tiny
    (n_lists × d) center matrix, compute each query's ``n_probe``
    nearest cells in one Arrow batch kernel, explode to one
    (_qid, _qvec, _cell) row per probe. The query frame never touches
    the driver, so a corpus-sized query set (corpus-vs-corpus semantic
    dedup, batch re-ranking) stays distributed — the same regime the
    corpus side already uses via ClusterModel.transform.

    Distance + selection are the exact expressions the driver-side loop
    (and oracle replicas) use: ``((centers - q)**2).sum(axis=1)`` then
    ``np.argsort(d2)[:n_probe]`` — identical floats, identical
    tie-handling, so rankings are byte-identical to the pre-r9 path.
    """
    from pyspark.sql.types import ArrayType, IntegerType

    spark = queries.sparkSession
    b_centers = spark.sparkContext.broadcast(np.asarray(centers, dtype=np.float64))
    n_probe_ = int(n_probe)

    @F.pandas_udf(ArrayType(IntegerType()))
    def nearest_cells(xs: pd.Series) -> pd.Series:
        C = b_centers.value
        out = []
        for v in xs:
            d2 = ((C - np.asarray(v, dtype=np.float64)) ** 2).sum(axis=1)
            out.append([int(c) for c in np.argsort(d2)[:n_probe_]])
        return pd.Series(out)

    # explode the UDF expression DIRECTLY: a withColumn + explode of the
    # result column plans TWO ArrowEvalPython nodes (the extracted UDF is
    # re-evaluated above and below the Generate); this form plans one
    return queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(vec_col).cast("array<double>").alias("_qvec"),
    ).select("_qid", "_qvec", F.explode(nearest_cells(F.col("_qvec"))).alias("_cell"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    quantizer_iters: int = 8,
    quantizer_sample: int = 65536,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    partitions the corpus into ``n_lists`` cells; each query scans only
    its ``n_probe`` nearest cells.

    Plan shape at scale: the coarse quantizer is trained driver-side on a
    bounded sample (one takeSample job — the quantizer needs coarse
    density, not every vector); BOTH sides then stay distributed —
    corpus assignment is a broadcast-centers argmin map
    (ClusterModel.transform) and query probe assignment is the same
    broadcast-centers Arrow kernel (:func:`_probe_cells`), so a
    corpus-sized query frame never hits the driver. The candidate join
    is equi on cell id — pruning the scan by ~n_lists/n_probe with a
    shuffle-friendly key — followed by the salted two-stage top-k.
    ``broadcast_queries=True`` (default) pins a broadcast-hash join for
    request-batch-scale query sets; pass False for corpus-scale query
    frames to let the cell-id equi-join shuffle both sides (AQE still
    upgrades it to broadcast when the probe side turns out small).
    Higher recall than sign-LSH at the same pruning factor because cells
    adapt to the data distribution.
    """
    from deeptime_spark.clustering.cluster_model import ClusterModel

    # coarse quantizer trained on a bounded content-addressed sample
    # (standard IVF practice: the quantizer needs the coarse density, not
    # every vector) — see _content_sample/_lloyd for the determinism and
    # no-extra-scan properties; ivfpq_topk shares the identical quantizer
    sample = _content_sample(corpus, id_col, vec_col, quantizer_sample)
    centers = _lloyd(sample, n_lists, quantizer_iters, seed)
    km = ClusterModel(centers)
    assigned = km.transform(corpus, x_col=vec_col, out_col="_cell")
    # coalesce makes the join key provably non-null: without it the
    # join's inferred isnotnull(_cell) filter re-evaluates the assign
    # kernel a second time below the projection (UDF never returns null,
    # so values are unchanged — this is purely a plan fix)
    assigned = assigned.withColumn("_cell", F.coalesce(F.col("_cell"), F.lit(-1)))
    probes = _probe_cells(queries, centers, n_probe, query_id_col, vec_col)
    if broadcast_queries:
        probes = F.broadcast(probes)
    scored = assigned.join(probes, "_cell").select(
        F.col("_qid").alias(query_id_col),
        F.col(id_col),
        cosine_similarity(F.col(vec_col).cast("array<double>"), F.col("_qvec")).alias("similarity"),
        F.spark_partition_id().alias("_part"),
    )
    w1 = Window.partitionBy(query_id_col, "_part").orderBy(F.desc("similarity"), F.col(id_col))
    survivors = (
        scored.withColumn("_rn", F.row_number().over(w1)).where(F.col("_rn") <= k).drop("_rn", "_part")
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("similarity"), F.col(id_col))
    return survivors.withColumn("rank", F.row_number().over(w2)).where(F.col("rank") <= k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    Both sides get the same hyperplane buckets (same seed); the join is
    equi on bucket — at scale this prunes the scan by ~2^n_planes and the
    bucket key is shuffle-friendly. ``n_tables > 1`` unions candidates
    from independent plane-sets (OR construction) for higher recall at
    n_tables x the bucketing cost. Both sides are bucketed
    executor-side (the planes ride the closure), so the query frame may
    be corpus-sized: pass ``broadcast_queries=False`` to drop the
    broadcast hint and let the bucket equi-join shuffle both sides
    instead of materializing an unbounded frame on every executor.
    """
    # probe the dimension on the (broadcast-small) query side once, so
    # the corpus-side bucketing launches no probe job against the big table
    d = feature_dim(queries, vec_col)
    cb = random_hyperplane_buckets(corpus, n_planes, seed, vec_col, n_tables=n_tables, d=d)
    qb = random_hyperplane_buckets(
        queries.select(F.col(query_id_col), F.col(vec_col)), n_planes, seed, vec_col,
        n_tables=n_tables, d=d,
    ).select(F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qvec"), F.col("bucket"))
    if n_tables > 1:
        cb = cb.select(id_col, vec_col, F.posexplode("bucket").alias("_tbl", "bucket"))
        qb = qb.select("_qid", "_qvec", F.posexplode("bucket").alias("_tbl", "bucket"))
        keys = ["_tbl", "bucket"]
    else:
        keys = ["bucket"]
    cands = cb.join(F.broadcast(qb) if broadcast_queries else qb, keys)
    if n_tables > 1:
        # the same (query, vector) pair can collide in several tables
        cands = cands.dropDuplicates(["_qid", id_col])
    scored = cands.select(
        F.col("_qid").alias(query_id_col),
        F.col(id_col),
        cosine_similarity(F.col(vec_col), F.col("_qvec")).alias("similarity"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("similarity"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# ------------------------------------------------------------- IVF-PQ

def _content_sample(corpus: DataFrame, id_col: str, vec_col: str, n: int) -> np.ndarray:
    """Content-addressed sample (smallest md5(id)): pseudo-random yet
    independent of partitioning/layout, reproducible by any engine, and
    no corpus-size pass (TakeOrderedAndProject heap, not a full sort)."""
    key = F.md5(F.col(id_col).cast("string"))
    sample = corpus.select(F.col(vec_col), key.alias("_h")).orderBy("_h").limit(n)
    return np.asarray(dispatch.arrays(sample.select(vec_col))[vec_col], dtype=np.float64)


def _lloyd(sample: np.ndarray, n_centers: int, iters: int, seed: int) -> np.ndarray:
    from deeptime_spark.clustering.cluster_model import _pairwise_sq_dists

    rng = np.random.default_rng(seed)
    centers = sample[rng.choice(len(sample), size=min(n_centers, len(sample)), replace=False)]
    for _ in range(iters):
        assign = _pairwise_sq_dists(sample, centers).argmin(axis=1)
        for c in range(len(centers)):
            mask = assign == c
            if mask.any():
                centers[c] = sample[mask].mean(axis=0)
    return centers


def pq_train_codebooks(
    residuals: np.ndarray, m_subvectors: int, k_codes: int, iters: int = 8, seed: int = 42
) -> np.ndarray:
    """Per-subspace codebooks for product quantization (Jégou, Douze,
    Schmid: "Product Quantization for Nearest Neighbor Search",
    TPAMI'11): split d dims into m contiguous subvectors and run Lloyd
    independently per subspace. Returns (m, k_codes, d/m) float64."""
    n, d = residuals.shape
    if d % m_subvectors:
        raise ValueError(f"m_subvectors={m_subvectors} must divide d={d}")
    ds = d // m_subvectors
    books = np.empty((m_subvectors, min(k_codes, n), ds))
    for m in range(m_subvectors):
        sub = residuals[:, m * ds : (m + 1) * ds]
        books[m] = _lloyd(sub, k_codes, iters, seed + m)
    return books


def pq_encode_df(
    assigned: DataFrame,
    centers: np.ndarray,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    cell_col: str = "_cell",
    out_col: str = "codes",
) -> DataFrame:
    """Residual-PQ encode: codes[m] = argmin_c ||(x - center_cell)_m -
    codebook[m][c]||² (ties -> lowest code, np.argmin). One Arrow-batched
    pass; per-row results are independent of batch shape (each row's
    argmin reads only that row's residual), so the encoding is
    layout-invariant. At corpus scale this runs ONCE at ingest and
    shrinks each vector to m small ints — the whole point of PQ: the
    scan-side working set drops from 4·d bytes to m bytes per vector."""
    from pyspark.sql.types import ArrayType, IntegerType

    spark = assigned.sparkSession
    b_centers = spark.sparkContext.broadcast(np.asarray(centers, dtype=np.float64))
    b_books = spark.sparkContext.broadcast(np.asarray(codebooks, dtype=np.float64))

    m_sub, _, ds = codebooks.shape

    @F.pandas_udf(ArrayType(IntegerType()))
    def _encode(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        C = b_centers.value
        B = b_books.value
        out = []
        for v, cell in zip(vecs, cells):
            resid = np.asarray(v, dtype=np.float64) - C[int(cell)]
            codes = np.empty(m_sub, dtype=np.int32)
            for m in range(m_sub):
                sub = resid[m * ds : (m + 1) * ds]
                d2 = ((B[m] - sub) ** 2).sum(axis=1)
                codes[m] = int(np.argmin(d2))
            out.append(codes.tolist())
        return pd.Series(out)

    return assigned.withColumn(out_col, _encode(F.col(vec_col), F.col(cell_col)))


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    m_subvectors: int = 8,
    k_codes: int = 16,
    seed: int = 42,
    quantizer_iters: int = 8,
    quantizer_sample: int = 65536,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF-PQ approximate top-k (IVFADC of Jégou et al. TPAMI'11): coarse
    inverted-file pruning + asymmetric distance computation over
    product-quantized RESIDUAL codes. Returns (query_id, vec_id, rank,
    adc_dist) with rank by (adc_dist asc, vec_id asc).

    100 TB shape:
    - quantizer + codebooks train driver-side on one bounded
      content-addressed sample (coarse density only);
    - the corpus is encoded ONCE (Arrow batch pass) to m small ints per
      vector; every later query touches codes, never raw vectors —
      memory-bandwidth-bound scans shrink ~4·d/m fold;
    - the QUERY side is distributed too: probe cells come from the
      broadcast-centers Arrow kernel (:func:`_probe_cells`) and each
      (query, probed cell)'s tiny ADC lookup table (m × k_codes
      doubles) is computed in a second Arrow kernel over the exploded
      probe rows — no query collect, no driver table-building, so a
      corpus-sized query frame works;
    - scoring is pure JVM: fold over the m code entries with
      element_at into the table — left-to-right double adds, so any
      engine that sums the same table entries in subvector order
      reproduces the distances bit-exactly;
    - the salted two-stage top-k bounds every reducer at O(k);
    - ``broadcast_queries=False`` drops the probe-side broadcast hint
      for corpus-scale query sets (the join stays equi on cell id).
    """
    sample = _content_sample(corpus, id_col, vec_col, quantizer_sample)
    centers = _lloyd(sample, n_lists, quantizer_iters, seed)
    from deeptime_spark.clustering.cluster_model import ClusterModel, _pairwise_sq_dists

    s_assign = _pairwise_sq_dists(sample, centers).argmin(axis=1)
    residuals = sample - centers[s_assign]
    books = pq_train_codebooks(residuals, m_subvectors, k_codes, quantizer_iters, seed)

    km = ClusterModel(centers)
    assigned = km.transform(corpus, x_col=vec_col, out_col="_cell")
    # same non-null join-key fix as ivf_topk (values unchanged)
    assigned = assigned.withColumn("_cell", F.coalesce(F.col("_cell"), F.lit(-1)))
    encoded = pq_encode_df(assigned, centers, books, vec_col).select(
        id_col, "_cell", "codes"
    )

    # probe rows: (qid, cell, ADC table) — the table for query q in cell
    # c is ||(q - center_c)_m - codebook[m][code]||² per (m, code). Both
    # Arrow kernels run executor-side over the exploded probe rows.
    from pyspark.sql.types import ArrayType, DoubleType

    m_sub, kc, ds = books.shape
    spark = corpus.sparkSession
    b_centers = spark.sparkContext.broadcast(np.asarray(centers, dtype=np.float64))
    b_books = spark.sparkContext.broadcast(np.asarray(books, dtype=np.float64))

    @F.pandas_udf(ArrayType(ArrayType(DoubleType())))
    def _adc_table(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        C = b_centers.value
        B = b_books.value
        out = []
        for v, cell in zip(vecs, cells):
            resid = np.asarray(v, dtype=np.float64) - C[int(cell)]
            tab = [
                [float(d) for d in ((B[m] - resid[m * ds : (m + 1) * ds]) ** 2).sum(axis=1)]
                for m in range(m_sub)
            ]
            out.append(tab)
        return pd.Series(out)

    probes = _probe_cells(queries, centers, n_probe, query_id_col, vec_col).select(
        "_qid", "_cell", _adc_table(F.col("_qvec"), F.col("_cell")).alias("_tab")
    )
    if broadcast_queries:
        probes = F.broadcast(probes)
    scored = encoded.join(probes, "_cell").select(
        F.col("_qid").alias(query_id_col),
        F.col(id_col),
        F.aggregate(
            F.zip_with("codes", "_tab", lambda c, t: F.element_at(t, c + 1)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("adc_dist"),
        F.spark_partition_id().alias("_part"),
    )
    w1 = Window.partitionBy(query_id_col, "_part").orderBy(F.asc("adc_dist"), F.col(id_col))
    survivors = (
        scored.withColumn("_rn", F.row_number().over(w1)).where(F.col("_rn") <= k).drop("_rn", "_part")
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.asc("adc_dist"), F.col(id_col))
    return survivors.withColumn("rank", F.row_number().over(w2)).where(F.col("rank") <= k)


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall of an approximate neighbor ranking against the exact one —
    the standard ANN quality gate (recall@k), computed per query:
    ``|approx ∩ exact| / |exact|``. Pure set algebra over the two
    (query, id) relations: one left-semi join + two bounded per-query
    counts — the frames are at most queries x k rows, so every join is
    broadcast-scale no matter the corpus the rankings came from.

    Returns (query_id, n_exact, n_hit, recall) for every query present
    in ``exact`` (a query with no approx rows scores 0.0).
    """
    e = exact.select(F.col(query_id_col), F.col(id_col))
    a = approx.select(F.col(query_id_col), F.col(id_col))
    hits = e.join(a, [query_id_col, id_col], "left_semi")
    n_e = e.groupBy(query_id_col).agg(F.count(F.lit(1)).alias("n_exact"))
    n_h = hits.groupBy(query_id_col).agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_e.join(n_h, query_id_col, "left")
        .select(
            query_id_col,
            F.col("n_exact").cast("long").alias("n_exact"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            (
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.col("n_exact").cast("double")
            ).alias("recall"),
        )
    )


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    n_lists: int = 16,
    seed: int = 42,
    quantizer_iters: int = 8,
    quantizer_sample: int = 65536,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index as a CELL-PARTITIONED parquet table plus a
    quantizer sidecar — the serving-side counterpart of :func:`ivf_topk`
    (same content-addressed sample, same seeded Lloyd, so a probe over
    the index returns byte-identical rankings to the in-session
    operator).

    The physical layout IS the index: ``partitionBy("_cell")`` writes
    one directory per inverted list, so a probe's
    ``_cell IN (probed...)`` predicate becomes PARTITION PRUNING — at
    100 TB the probe reads ``n_probe/n_lists`` of the bytes without any
    row-level filtering, the same contract as the persisted minhash
    signature index (operators/dedup.py:write_signature_index).
    """
    from deeptime_spark.clustering.cluster_model import ClusterModel

    spark = corpus.sparkSession
    sample = _content_sample(corpus, id_col, vec_col, quantizer_sample)
    centers = _lloyd(sample, n_lists, quantizer_iters, seed)
    km = ClusterModel(centers)
    assigned = km.transform(corpus, x_col=vec_col, out_col="_cell")
    assigned.write.mode("overwrite").partitionBy("_cell").parquet(f"{path}/lists")
    _local_df(spark, 
        [(int(i), [float(v) for v in c]) for i, c in enumerate(centers)],
        "cell int, center array<double>",
    ).write.mode("overwrite").parquet(f"{path}/quantizer")


def probe_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_batch: int = 4096,
) -> DataFrame:
    """Probe a :func:`write_ivf_index` layout: per query, the
    ``n_probe`` nearest cells (from the tiny quantizer sidecar) become
    a partition-pruning IN-filter on the cell-partitioned list table;
    only those directories are scanned, then the same fold-exact cosine
    + salted two-stage top-k as :func:`ivf_topk`. Identical parameters
    ⇒ identical ranking to the in-session operator.

    This is the SERVING path: the query frame is a bounded request
    batch and is brought to the driver so the probed cell set can be a
    literal IN-list — that is what makes the scan statically
    partition-pruned. ``max_batch`` makes the contract explicit and
    fails loudly instead of silently materializing an unbounded frame;
    for corpus-scale query sets (all-pairs / batch re-ranking) use
    :func:`ivf_topk`, which keeps both sides distributed."""
    qa = dispatch.arrays(
        queries.select(F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qvec"))
        .limit(max_batch + 1)
    )
    if len(qa["_qid"]) > max_batch:
        raise ValueError(
            f"probe_ivf_index is a serving-side probe over a bounded "
            f"request batch (> {max_batch} query rows); for "
            f"corpus-scale query sets use ivf_topk, which keeps the "
            f"query side distributed"
        )
    q = dispatch.arrays(spark.read.parquet(f"{path}/quantizer"))
    centers = q["center"][np.argsort(q["cell"])]
    probe_rows = []
    cells = set()
    for qid, qv in zip(qa["_qid"].tolist(), np.asarray(qa["_qvec"], dtype=np.float64)):
        d2 = ((centers - qv) ** 2).sum(axis=1)
        for cell in np.argsort(d2)[:n_probe]:
            probe_rows.append((qid, qv.tolist(), int(cell)))
            cells.add(int(cell))
    lists = spark.read.parquet(f"{path}/lists").where(
        F.col("_cell").isin(sorted(cells))
    )
    probes = _local_df(spark, probe_rows, ["_qid", "_qvec", "_cell"])
    scored = lists.join(F.broadcast(probes), "_cell").select(
        F.col("_qid").alias(query_id_col),
        F.col(id_col),
        cosine_similarity(
            F.col(vec_col).cast("array<double>"), F.col("_qvec")
        ).alias("similarity"),
        F.spark_partition_id().alias("_part"),
    )
    w1 = Window.partitionBy(query_id_col, "_part").orderBy(
        F.desc("similarity"), F.col(id_col)
    )
    survivors = (
        scored.withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= k)
        .drop("_rn", "_part")
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("similarity"), F.col(id_col))
    return survivors.withColumn("rank", F.row_number().over(w2)).where(
        F.col("rank") <= k
    )


# --------------------------------------------------------- SQ8 (int8)
def sq8_quantize(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[float], list[float]]:
    """Scalar int8 quantization (SQ8) of an embedding column — the
    serving-memory format complementary to product quantization
    (pq_encode_df): 4x smaller than float32 with NO codebook training,
    the default "compressed flat" index of the public ANN engines
    (faiss ScalarQuantizer QT_8bit, Lucene/Elasticsearch int8_hnsw).

    Train: ONE wide aggregate computes per-dimension min/max — 2·d
    paired aggregates in a single corpus pass, partial-aggregated
    map-side, no explode. Encode (all JVM column expressions):
    ``code_i = floor((v_i - min_i) · 255/(max_i - min_i) + 0.5)``
    clamped to [0, 255], stored offset by −128 as ``array<tinyint>``
    (1 byte/dim). The explicit ``floor(x + 0.5)`` makes the rounding
    rule engine-independent (ANSI ROUND ties differ between engines;
    floor does not). Constant dimensions (max == min) encode as 0 and
    decode back to the constant.

    Returns (codes frame ``(id_col, sq8_code)``, mins, maxs); the
    driver-side lists are the 2·d-double quantizer sidecar a serving
    index persists next to the codes.
    """
    vec = F.col(vec_col).cast("array<double>")
    d = feature_dim(corpus, vec_col)
    aggs = []
    for i in range(d):
        aggs.append(F.min(F.element_at(vec, i + 1)).alias(f"_mn{i}"))
        aggs.append(F.max(F.element_at(vec, i + 1)).alias(f"_mx{i}"))
    row = corpus.agg(*aggs).first()
    mins = [float(row[f"_mn{i}"]) for i in range(d)]
    maxs = [float(row[f"_mx{i}"]) for i in range(d)]
    # driver-computed literals: the replica recomputes the SAME python
    # doubles, so encode/decode arithmetic is bit-identical offline
    invs = [
        (255.0 / (maxs[i] - mins[i])) if maxs[i] > mins[i] else 0.0
        for i in range(d)
    ]
    mins_lit = F.array(*[F.lit(m) for m in mins])
    invs_lit = F.array(*[F.lit(s) for s in invs])
    centered = F.zip_with(vec, mins_lit, lambda v, m: v - m)
    codes = F.zip_with(
        centered,
        invs_lit,
        lambda x, s: (
            F.greatest(
                F.lit(0), F.least(F.lit(255), F.floor(x * s + F.lit(0.5)))
            )
            - F.lit(128)
        ).cast("byte"),
    )
    return (
        corpus.select(F.col(id_col), codes.alias("sq8_code")),
        mins,
        maxs,
    )


def sq8_decode(
    codes: DataFrame,
    mins: Sequence[float],
    maxs: Sequence[float],
    code_col: str = "sq8_code",
    out_col: str = "embedding",
) -> DataFrame:
    """Reconstruct ``v̂_i = min_i + (code_i + 128) · (max_i - min_i)/255``
    from an SQ8 codes frame — JVM column expressions only."""
    d = len(mins)
    steps = [
        ((maxs[i] - mins[i]) / 255.0) if maxs[i] > mins[i] else 0.0
        for i in range(d)
    ]
    mins_lit = F.array(*[F.lit(float(m)) for m in mins])
    steps_lit = F.array(*[F.lit(s) for s in steps])
    scaled = F.zip_with(
        F.col(code_col),
        steps_lit,
        lambda c, st: (c.cast("double") + F.lit(128.0)) * st,
    )
    dec = F.zip_with(scaled, mins_lit, lambda x, m: x + m)
    return codes.withColumn(out_col, dec).drop(code_col)


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric SQ8 search: the corpus is scanned as int8 codes
    reconstructed on the fly (¼ the bytes of float32 — at 100 TB the
    scan IS the cost), queries stay full-precision, ranking is exact
    cosine over the reconstruction via the same two-stage top-k as
    ``brute_force_topk``. Recall loss is the quantization error only —
    gate it with :func:`ann_recall` against the float baseline."""
    codes, mins, maxs = sq8_quantize(corpus, id_col=id_col, vec_col=vec_col)
    decoded = sq8_decode(codes, mins, maxs, out_col=vec_col)
    return brute_force_topk(
        decoded,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    )


# ------------------------------------------------ MMR diversified rerank
def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein,
    SIGIR'98): greedily pick ``k`` of the top-``pool`` candidates per
    query maximizing ``λ·rel(c) − (1−λ)·max_{s∈selected} cos(c, s)`` —
    the standard diversity pass between retrieval and consumption
    (dedup of near-identical hits in RAG context assembly).

    Scale shape: relevance + candidate pool come from the distributed
    exact scan (``brute_force_topk``, two-stage top-k); candidate
    vectors ride a BROADCAST semi-join back onto the pool (queries ×
    pool rows — bounded, never corpus-scale); the greedy selection is
    inherently sequential per query but bounded (pool² cosines on ≤pool
    rows), so it runs as one Arrow ``applyInPandas`` per query group —
    queries parallelize across executors, the corpus is never touched
    again. Ties (equal MMR score) break on lower id; λ=1 degenerates to
    the relevance ranking.

    Returns (query_id, vec_id, relevance, mmr_score, mmr_rank).
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0,1], got {lam}")
    if k < 1 or pool < k:
        raise ValueError(f"need pool >= k >= 1, got k={k} pool={pool}")
    cands = brute_force_topk(
        corpus, queries, k=pool, id_col=id_col,
        vec_col=vec_col, query_id_col=query_id_col,
    ).select(query_id_col, id_col, "similarity")
    with_vec = F.broadcast(cands).join(
        corpus.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
        ),
        id_col,
    )
    lam_f = float(lam)
    k_i = int(k)

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["similarity", id_col], ascending=[False, True]
        ).reset_index(drop=True)
        V = np.array(pdf["_v"].tolist(), dtype=np.float64)
        nrm = np.sqrt((V * V).sum(axis=1))
        nrm[nrm == 0.0] = 1.0
        U = V / nrm[:, None]
        rel = pdf["similarity"].to_numpy(dtype=np.float64)
        ids = pdf[id_col].to_numpy()
        n = len(pdf)
        selected: list[int] = []
        remaining = list(range(n))
        out_rows = []
        # incremental redundancy: one matvec per PICK (O(k·pool·d)),
        # maintaining max-sim-to-selected, instead of re-reducing
        # U[selected] @ U[j] per candidate per round (O(k²·pool·d)).
        # Each pairwise dot and the running max are the identical float
        # ops either way — the oracle replica mirrors this form.
        maxred = None
        while remaining and len(selected) < k_i:
            best_j, best_score = None, None
            for j in remaining:
                red = float(maxred[j]) if maxred is not None else 0.0
                score = lam_f * float(rel[j]) - (1.0 - lam_f) * red
                if (
                    best_score is None
                    or score > best_score
                    or (score == best_score and ids[j] < ids[best_j])
                ):
                    best_j, best_score = j, score
            selected.append(best_j)
            remaining.remove(best_j)
            sims = U @ U[best_j]
            maxred = sims if maxred is None else np.maximum(maxred, sims)
            out_rows.append(
                (
                    pdf[query_id_col].iloc[0],
                    ids[best_j],
                    float(rel[best_j]),
                    float(best_score),
                    len(selected),
                )
            )
        return pd.DataFrame(
            out_rows,
            columns=[query_id_col, id_col, "relevance", "mmr_score", "mmr_rank"],
        )

    # derive the id column types from the inputs — hardcoding `long`
    # would break string/other id columns despite the generic API
    from pyspark.sql.types import IntegerType, StructField, StructType
    from pyspark.sql.types import DoubleType as _Dbl

    out_schema = StructType(
        [
            StructField(query_id_col, queries.schema[query_id_col].dataType),
            StructField(id_col, corpus.schema[id_col].dataType),
            StructField("relevance", _Dbl()),
            StructField("mmr_score", _Dbl()),
            StructField("mmr_rank", IntegerType()),
        ]
    )
    return with_vec.groupBy(query_id_col).applyInPandas(_greedy, out_schema)


# ---------------------------------------------- JL random projection
def random_projection(
    emb: DataFrame,
    out_dim: int,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dim``
    dimensions: ``y = X @ G^T / sqrt(out_dim)`` with a seeded Gaussian
    ``G`` — the third member of the compression family next to PQ and
    SQ8 (distance-preserving within (1±ε) for
    out_dim = O(log n / ε²), Johnson & Lindenstrauss 1984; dense
    Gaussian per Indyk & Motwani 1998). The projection matrix derives
    from the seed alone, so corpus and queries project identically
    with no trained state to persist.

    One Arrow pandas_udf gemm per batch (the
    :func:`random_hyperplane_buckets` wide path — HOF dots would pay
    out_dim interpreted passes per row). Determinism caveat shared
    with that kernel: BLAS blocking makes individual projected values
    batch-shape-sensitive at the ULP level, so layout invariance holds
    at RANK level (what the recall gate compares), not bit level —
    consumers needing bit-stable artifacts should persist the
    projection once rather than recompute it per run.

    Returns (id_col, vec_col) with ``array<double>`` length out_dim.
    Without ``d`` the width comes from ``feature_dim``, which raises
    ``ValueError`` on an empty input or a NULL sampled vector.
    """
    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    if d is None:
        d = feature_dim(emb, vec_col)
    rng = np.random.default_rng(seed)
    proj_T = np.ascontiguousarray(
        (rng.normal(size=(out_dim, d)) / float(np.sqrt(out_dim))).T
    )

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    @pandas_udf(ArrayType(DoubleType()))
    def project(xs: pd.Series) -> pd.Series:
        X = np.stack(xs.to_numpy()).astype(np.float64, copy=False)
        Y = X @ proj_T
        return pd.Series(list(Y))

    return emb.select(
        F.col(id_col), project(F.col(vec_col)).alias(vec_col)
    )


def rp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    out_dim: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k by cosine in the JL-projected space (both sides projected
    with the same seeded matrix): the scan reads out_dim/d of the
    float bytes — the dimensionality-reduction serving path. Gate the
    recall loss with :func:`ann_recall` against the full-dimension
    baseline, exactly like SQ8."""
    pc = random_projection(
        corpus, out_dim, seed=seed, id_col=id_col, vec_col=vec_col
    )
    pq = random_projection(
        queries, out_dim, seed=seed, id_col=query_id_col, vec_col=vec_col
    )
    return brute_force_topk(
        pc, pq, k=k, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col
    )
