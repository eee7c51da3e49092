"""One-pass counting over many lags (``transition_counting.count_models``)
and the typed errors of the estimators that fit from its counts."""

import uuid

import numpy as np
import pytest

from deeptime_spark.data.schema import dtraj_from_arrays
from deeptime_spark.markov.msm import BayesianMSM, MaximumLikelihoodMSM
from deeptime_spark.markov.transition_counting import count_models
from deeptime_spark.markov.tram import TRAM
from deeptime_spark.validation import fit_msms_at_lags, implied_timescales_from_dtrajs

# ragged trajectories with unassigned (-1) frames mid-trajectory and at the
# ends; one shorter than the largest lag
DTRAJS = [
    np.random.default_rng(s).integers(-1, 4, size=n) for s, n in ((1, 120), (2, 75), (3, 4))
]


def brute_counts(dtrajs, tau, count_mode):
    n = max(int(d.max()) for d in dtrajs) + 1
    C = np.zeros((n, n))
    for d in dtrajs:
        for t in range(len(d) - tau):
            if count_mode == "sample" and t % tau:
                continue
            if d[t] >= 0 and d[t + tau] >= 0:
                C[d[t], d[t + tau]] += 1
    # the estimator's definition of sliding-effective: sliding counts x 1/tau
    return C * (1.0 / tau) if count_mode == "sliding-effective" else C


@pytest.fixture(scope="module")
def dtraj_df(spark):
    # rows shuffled so the per-trajectory window has to restore time order
    df = dtraj_from_arrays(spark, DTRAJS)
    return df.orderBy(df.state, df.t.desc()).repartition(3)


@pytest.mark.parametrize("partitions", [1, 7])
@pytest.mark.parametrize("lagtimes", [[1], [1, 2, 3, 5]])
@pytest.mark.parametrize("count_mode", ["sliding", "sliding-effective", "sample"])
def test_count_models_equal_brute_force(spark, dtraj_df, count_mode, lagtimes, partitions):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        models = count_models(dtraj_df, lagtimes, count_mode=count_mode)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    states = np.concatenate(DTRAJS)
    hist = np.bincount(states[states >= 0])
    assert [m.lagtime for m in models] == lagtimes
    for tau, m in zip(lagtimes, models):
        np.testing.assert_array_equal(m.count_matrix, brute_counts(DTRAJS, tau, count_mode))
        np.testing.assert_array_equal(m.state_histogram, hist)
        assert m.counting_mode == count_mode


@pytest.mark.parametrize("count_mode", ["sliding", "sliding-effective", "sample"])
def test_count_models_of_fetched_arrays_equal_the_frames_bit_for_bit(spark, dtraj_df, count_mode):
    from deeptime_spark import dispatch

    lagtimes = [1, 2, 3, 5, 200]  # 200: longer than every trajectory
    fetched = count_models(dispatch.arrays(dtraj_df), lagtimes, count_mode=count_mode)
    for a, b in zip(fetched, count_models(dtraj_df, lagtimes, count_mode=count_mode)):
        assert a.count_matrix.tobytes() == b.count_matrix.tobytes()
        assert a.state_histogram.tobytes() == b.state_histogram.tobytes()


def test_fit_msms_jobs_land_in_the_callers_group_and_do_not_grow_with_lags(spark):
    rng = np.random.default_rng(11)
    df = dtraj_from_arrays(spark, [rng.integers(0, 3, size=300) for _ in range(3)]).cache()
    df.count()
    sc = spark.sparkContext
    jobs = []
    try:
        for lagtimes in ([1], [1, 2, 3, 4, 5]):
            group = f"fit-msms-{uuid.uuid4().hex}"
            sc.setJobGroup(group, "fit_msms_at_lags")
            models = fit_msms_at_lags(df, lagtimes)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            assert [m.lagtime for m in models] == lagtimes
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        df.unpersist()
    assert jobs[0] > 0
    assert jobs[0] == jobs[1], jobs


@pytest.mark.parametrize(
    "dtrajs", [[np.zeros(0, dtype=int)], [np.full(50, -1)]], ids=["empty", "all_negative"]
)
def test_msm_fit_on_dtraj_without_states_raises_value_error(spark, dtrajs):
    df = dtraj_from_arrays(spark, dtrajs)
    with pytest.raises(ValueError, match="lagtime 1"):
        MaximumLikelihoodMSM(lagtime=1).fit(df)
    with pytest.raises(ValueError, match="lagtime 1"):
        implied_timescales_from_dtrajs(df, [1, 2, 3])
    with pytest.raises(ValueError, match="lagtime 1"):
        BayesianMSM().fit(count_models(df, [1])[0])


def test_its_on_dtraj_shorter_than_a_lag_names_that_lag(spark):
    df = dtraj_from_arrays(spark, [np.array([0, 0])])
    with pytest.raises(ValueError, match="lagtime 2"):
        implied_timescales_from_dtrajs(df, [1, 2, 3])


def test_tram_fit_without_assigned_samples_raises_value_error(spark):
    df = spark.createDataFrame(
        [(0, 0, t, -1, [0.0, 0.5]) for t in range(5)],
        "therm_state int, traj_id long, t long, state int, bias array<double>",
    )
    with pytest.raises(ValueError, match="no sample with state >= 0"):
        TRAM(lagtime=1).fit(df)
    with pytest.raises(ValueError, match="no sample with state >= 0"):
        TRAM(lagtime=1).fit(df.limit(0))
