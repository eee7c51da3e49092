"""Priors, Girsanov reweighting, bootstrap, rate matrix, two-step counts."""

import numpy as np

from deeptime_spark.data.schema import dtraj_from_arrays
from deeptime_spark.markov.counting_extras import (
    bootstrap_counts,
    bootstrap_trajectories_df,
    girsanov_reweighted_count_matrix,
    prior_const,
    prior_neighbor,
    prior_rev,
)
from deeptime_spark.markov.rate_matrix import expm, rate_matrix
from deeptime_spark.markov.transition_counting import (
    TransitionCountEstimator,
    two_step_counts_df,
)


def test_priors_reference_doctest_shapes():
    C = np.array([[10, 1, 0], [2, 0, 3], [0, 1, 4]])
    B = prior_neighbor(C)
    np.testing.assert_allclose(
        B, 0.001 * np.array([[1, 1, 0], [1, 0, 1], [0, 1, 1]]), atol=1e-12
    )
    np.testing.assert_allclose(prior_const(C), np.full((3, 3), 0.001))
    R = prior_rev(C)
    assert np.all(R[np.tril_indices(3, -1)] == 0) and np.all(R[np.triu_indices(3)] == -1.0)


def test_girsanov_unit_weights_match_plain_counts(spark, rng):
    from pyspark.sql import functions as F

    dtrajs = [rng.integers(0, 3, size=1000) for _ in range(2)]
    df = dtraj_from_arrays(spark, dtrajs).withColumn("weight", F.lit(1.0))
    C_w = girsanov_reweighted_count_matrix(df, lagtime=2)
    C = TransitionCountEstimator(lagtime=2, count_mode="sliding").fit(df).fetch_model().count_matrix
    np.testing.assert_allclose(C_w, C, atol=1e-9)


def test_girsanov_weighting_shifts_counts(spark, rng):
    from pyspark.sql import functions as F

    dtrajs = [rng.integers(0, 2, size=2000)]
    df = dtraj_from_arrays(spark, dtrajs)
    # upweight frames in state 1: transitions out of 1 gain weight
    df = df.withColumn("weight", F.when(F.col("state") == 1, 2.0).otherwise(1.0))
    C_w = girsanov_reweighted_count_matrix(df, lagtime=1)
    C = TransitionCountEstimator(lagtime=1).fit(df).fetch_model().count_matrix
    assert C_w[1].sum() > 1.5 * C[1].sum()
    assert C_w[0].sum() < 1.5 * C[0].sum()


def test_bootstrap_counts_statistics(spark, rng):
    dtrajs = [rng.integers(0, 2, size=2000) for _ in range(2)]
    df = dtraj_from_arrays(spark, dtrajs)
    C0 = TransitionCountEstimator(lagtime=1).fit(df).fetch_model().count_matrix
    reps = [bootstrap_counts(df, lagtime=1, blocksize=50, seed=s, n_states=2) for s in range(5)]
    # total counts are invariant across replicates (sum of multiplicities x
    # pairs per block; slightly below the unblocked total because pairs
    # never cross block boundaries)
    totals = [r.sum() for r in reps]
    np.testing.assert_allclose(totals, totals[0], atol=1e-9)
    assert 0.9 * C0.sum() < totals[0] <= C0.sum()
    cell = np.array([r[0, 0] for r in reps])
    assert abs(cell.mean() - C0[0, 0]) / C0[0, 0] < 0.15
    assert cell.std() > 0


def test_bootstrap_trajectories_df(spark, rng):
    dtrajs = [rng.integers(0, 3, size=500)]
    df = dtraj_from_arrays(spark, dtrajs)
    out = bootstrap_trajectories_df(df, blocksize=50, seed=3)
    rows = out.collect()
    assert len(rows) == 500  # same total volume (10 blocks drawn 10 times)
    assert len({r["traj_id"] for r in rows}) <= 10


def test_bootstraps_draw_the_same_blocks_at_any_shuffle_layout(spark):
    # distinct() orders the block ids by the shuffle layout; the draw must not
    dtrajs = [np.random.default_rng(s).integers(0, 3, size=120) for s in range(3)]
    df = dtraj_from_arrays(spark, dtrajs)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    counts, trajs = [], []
    try:
        for partitions in (4, 7, 1):
            spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
            counts.append(bootstrap_counts(df, lagtime=1, blocksize=10, seed=1, n_states=3))
            out = bootstrap_trajectories_df(df, blocksize=10, seed=1)
            trajs.append(sorted(tuple(r) for r in out.select("traj_id", "t", "state").collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for C, rows in zip(counts[1:], trajs[1:]):
        np.testing.assert_array_equal(C, counts[0])
        assert rows == trajs[0]


def test_rate_matrix_roundtrip():
    K_true = np.array([[-0.3, 0.2, 0.1], [0.4, -0.5, 0.1], [0.05, 0.15, -0.2]])
    dt = 0.1
    T = expm(K_true, dt)
    for method in ("truncated_log", "pseudo"):
        K = rate_matrix(T, dt=dt, method=method)
        np.testing.assert_allclose(K.sum(axis=1), 0.0, atol=1e-10)
        off = K - np.diag(np.diag(K))
        assert np.all(off >= 0)
        tol = 1e-6 if method == "truncated_log" else 0.05
        np.testing.assert_allclose(K, K_true, atol=tol)


def test_two_step_counts(spark):
    # deterministic cycle 0->1->2->0: every (s, s+1, s+2) triple appears
    dtraj = np.tile([0, 1, 2], 100)
    df = dtraj_from_arrays(spark, [dtraj])
    rows = {(r["s0"], r["s1"], r["s2"]): r["n"] for r in two_step_counts_df(df, lagtime=1).collect()}
    assert set(rows) == {(0, 1, 2), (1, 2, 0), (2, 0, 1)}
    assert all(v >= 99 for v in rows.values())
