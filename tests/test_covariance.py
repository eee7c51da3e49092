"""Covariance/moments vs numpy oracles (reference algebra re-run in numpy,
mirroring the reference's own test tolerances: SURVEY.md §5)."""

import uuid

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from conftest import matching_defs
from deeptime_spark.covariance import Covariance, KoopmanWeightingEstimator
from deeptime_spark.data import trajectory_from_arrays
from deeptime_spark.operators.lag import blocksplit, timeshifted
from deeptime_spark.operators.moments import (
    EXPR_MAX_DIM,
    _moments_arrow,
    _moments_expr,
    compute_moments,
    feature_dim,
    features,
)


@pytest.fixture(scope="module")
def data():
    rng = np.random.default_rng(42)
    return [rng.normal(size=(500, 4)) @ np.diag([1.0, 2.0, 0.5, 3.0]), rng.normal(size=(300, 4))]


@pytest.fixture(scope="module")
def df(spark, data):
    return trajectory_from_arrays(spark, data)


def _np_lagged(data, tau):
    X = np.concatenate([d[:-tau] for d in data])
    Y = np.concatenate([d[tau:] for d in data])
    return X, Y


def test_c00_matches_numpy(spark, df, data):
    model = Covariance(lagtime=0, compute_c00=True).fit_fetch(df)
    X = np.concatenate(data)
    expected = np.cov(X.T, ddof=1)
    np.testing.assert_allclose(model.cov_00, expected, rtol=1e-10, atol=1e-12)
    np.testing.assert_allclose(model.mean_0, X.mean(axis=0), rtol=1e-10)


def test_lagged_covariances_match_numpy(spark, df, data):
    tau = 5
    model = Covariance(lagtime=tau, compute_c00=True, compute_c0t=True, compute_ctt=True).fit_fetch(df)
    X, Y = _np_lagged(data, tau)
    w = len(X)
    mx, my = X.mean(axis=0), Y.mean(axis=0)
    c0t = (X - mx).T @ (Y - my) / (w - 1)
    np.testing.assert_allclose(model.cov_0t, c0t, rtol=1e-8, atol=1e-12)
    c00 = np.cov(X.T, ddof=1)
    np.testing.assert_allclose(model.cov_00, c00, rtol=1e-8, atol=1e-12)


def test_reversible_symmetrization(spark, df, data):
    tau = 2
    model = Covariance(lagtime=tau, compute_c00=True, compute_c0t=True, reversible=True).fit_fetch(df)
    np.testing.assert_allclose(model.cov_0t, model.cov_0t.T, atol=1e-12)
    X, Y = _np_lagged(data, tau)
    w = len(X)
    mean = 0.5 * (X.mean(axis=0) + Y.mean(axis=0))
    mxy = 0.5 * (X.T @ Y + Y.T @ X)
    c0t = (mxy - w * np.outer(mean, mean)) / (w - 1)
    np.testing.assert_allclose(model.cov_0t, c0t, rtol=1e-8, atol=1e-10)


def test_no_bessel_no_mean_removal(spark, df, data):
    model = Covariance(lagtime=0, remove_data_mean=False, bessels_correction=False).fit_fetch(df)
    X = np.concatenate(data)
    np.testing.assert_allclose(model.cov_00, X.T @ X / len(X), rtol=1e-10)


def test_weighted_covariance(spark, data, rng):
    weights = [np.abs(rng.random(len(d))) + 0.1 for d in data]
    wdf = trajectory_from_arrays(spark, data, weights=weights)
    model = Covariance(lagtime=0, weight_col="weight", bessels_correction=False).fit_fetch(wdf)
    X = np.concatenate(data)
    w = np.concatenate(weights)
    mx = (w[:, None] * X).sum(axis=0) / w.sum()
    expected = ((X - mx) * w[:, None]).T @ (X - mx) / w.sum()
    np.testing.assert_allclose(model.cov_00, expected, rtol=1e-8, atol=1e-12)


def test_partial_fit_merges_like_single_pass(spark, data):
    df1 = trajectory_from_arrays(spark, [data[0]])
    df2 = trajectory_from_arrays(spark, [data[1]])
    est = Covariance(lagtime=0)
    est.partial_fit(df1).partial_fit(df2)
    merged = est.fetch_model()
    X = np.concatenate(data)
    np.testing.assert_allclose(merged.cov_00, np.cov(X.T, ddof=1), rtol=1e-10)


def test_arrow_path_matches_expr_path(spark, df):
    d = feature_dim(df, "x")
    m_expr = _moments_expr(df, "x", None, None, d, d, True, True)[()]
    m_arrow = _moments_arrow(df, "x", None, None, d, d, True, True)[()]
    assert abs(m_expr.weight_sum - m_arrow.weight_sum) < 1e-9
    np.testing.assert_allclose(m_expr.sx, m_arrow.sx, rtol=1e-10)
    np.testing.assert_allclose(m_expr.mxx, m_arrow.mxx, rtol=1e-10)


@pytest.mark.parametrize("weighted", [False, True], ids=["unweighted", "weighted"])
@pytest.mark.parametrize("d", [4, 30], ids=["expr", "arrow"])
def test_grouped_moments_equal_filtered_moments(spark, d, weighted):
    """compute_moments(by=("g",))[k] is the aggregate of the rows with g == k,
    on both physical paths; keys without rows are absent."""
    rng = np.random.default_rng(5)
    n = 600
    X = rng.normal(size=(n, d)) + 1.0
    Y = rng.normal(size=(n, d)) + 1.0
    w = rng.random(n) + 0.1
    g = rng.integers(0, 3, size=n)
    gdf = spark.createDataFrame(
        [(int(g[i]), X[i].tolist(), Y[i].tolist(), float(w[i])) for i in range(n)],
        "g int, x array<double>, y array<double>, weight double",
    ).repartition(3)
    wcol = "weight" if weighted else None
    assert (d > EXPR_MAX_DIM) == (d == 30)
    grouped = compute_moments(gdf, "x", "y", wcol, by=("g",))
    assert set(grouped) == {(0,), (1,), (2,)}
    for (k,), m in grouped.items():
        ref = compute_moments(gdf.where(F.col("g") == k), "x", "y", wcol)
        assert set(ref) == {()}
        ref = ref[()]
        if weighted:
            np.testing.assert_allclose(m.weight_sum, ref.weight_sum, rtol=1e-12)
        else:
            assert m.weight_sum == ref.weight_sum == np.sum(g == k)
        for a in ("sx", "mxx", "sy", "mxy", "myy"):
            np.testing.assert_allclose(getattr(m, a), getattr(ref, a), rtol=1e-12)
    assert set(compute_moments(gdf.where(F.col("g") != 1), "x", "y", wcol, by=("g",))) == {(0,), (2,)}
    assert compute_moments(gdf.limit(0), "x", "y", wcol, d=d, d_y=d, by=("g",)) == {}
    assert compute_moments(gdf.limit(0), "x", "y", wcol, d=d, d_y=d) == {}


def test_lagged_covariance_without_lagged_pair_raises_value_error(spark):
    short = trajectory_from_arrays(spark, [np.arange(6.0).reshape(3, 2)])
    with pytest.raises(ValueError, match="no frame to aggregate at lagtime 5"):
        Covariance(lagtime=5, compute_c0t=True).fit(short)


def test_koopman_weighting_uniform_on_equilibrium_data(spark, rng):
    # iid data is already in equilibrium -> weights should be ~uniform (=1)
    data = rng.normal(size=(4000, 3))
    kdf = trajectory_from_arrays(spark, [data])
    est = KoopmanWeightingEstimator(lagtime=1).fit(kdf)
    wdf = est.model.transform(kdf)
    ws = np.array([r["weight"] for r in wdf.collect()])
    assert abs(ws.mean() - 1.0) < 0.05
    assert ws.std() < 0.2


def _windowed_features(spark, annotated):
    """``(traj_id, t, x)`` whose ``t`` comes from a ``row_number`` window,
    the shape of the harness's event trajectories: a one-row probe of it
    re-runs the window's shuffle."""
    rs = np.random.default_rng(9)
    rows = [(i % 4, float(i), float(v)) for i, v in enumerate(rs.normal(size=400))]
    ev = spark.createDataFrame(rows, "traj_id long, ts double, v double")
    w = Window.partitionBy("traj_id").orderBy("ts")
    traj = ev.select("traj_id", (F.row_number().over(w) - 1).alias("t"), "v")
    v = F.col("v")
    x = features(v, v * v) if annotated else F.array(v, v * v).alias("x")
    return traj.select("traj_id", "t", x)


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"cov-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "covariance jobs")
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_features_width_survives_lag_blocks_and_filters(spark):
    feat = _windowed_features(spark, annotated=True)
    pairs = timeshifted(blocksplit(feat, blocksize=10), 1, traj_col="block_id")
    folds = pairs.select("x", F.explode(F.array(F.lit(0), F.lit(1))).alias("fold"))
    # like F.array, features takes its elements as one list too
    listed = feat.select(features([F.col("x")[0], F.col("x")[1], F.col("x")[0]]))
    widths, jobs = _jobs(
        spark,
        lambda: [feature_dim(feat), feature_dim(folds.where("fold > 0")), feature_dim(listed)],
    )
    assert (widths, jobs) == ([2, 2, 3], 0)
    assert listed.select(F.size("x")).first()[0] == 3


def test_covariance_fit_on_a_features_frame_runs_no_width_probe(spark):
    feat = _windowed_features(spark, annotated=True)
    est = Covariance(lagtime=1, compute_c0t=True)
    _, fit_jobs = _jobs(spark, lambda: est.fit(feat))
    pairs = timeshifted(feat, 1)
    _, aggregate_jobs = _jobs(
        spark, lambda: compute_moments(pairs, y_col="x_lagged", d=2, d_y=2, compute_yy=False)
    )
    assert fit_jobs == aggregate_jobs > 0


def test_covariance_fit_without_width_metadata_gives_the_same_model(spark):
    est = Covariance(lagtime=1, compute_c0t=True)
    bare = est.fit(_windowed_features(spark, annotated=False)).fetch_model()
    annotated = est.fit(_windowed_features(spark, annotated=True)).fetch_model()
    for attr in ("cov_00", "cov_0t", "mean_0", "mean_t"):
        np.testing.assert_allclose(getattr(annotated, attr), getattr(bare, attr), rtol=1e-12)


def test_only_feature_dim_probes_an_array_width():
    assert matching_defs(r"F\.size\(.*\)\)\.first\(\)") == {
        ("deeptime_spark/operators/moments.py", "feature_dim")
    }
