"""TRAM tests: exact recovery on a state-dependent-bias two-ensemble
system where every quantity has a closed form."""

import contextlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from deeptime_spark.markov.tram import TRAM


def _detailed_balance_T(pi, rate01):
    """2-state reversible T with given stationary vector."""
    T = np.zeros((2, 2))
    T[0, 1] = rate01
    T[1, 0] = rate01 * pi[0] / pi[1]
    T[0, 0] = 1 - T[0, 1]
    T[1, 1] = 1 - T[1, 0]
    return T


@pytest.fixture(scope="module")
def tram_df(spark):
    from deeptime_spark.data.generators import simulate_msm

    pi0 = np.array([0.25, 0.75])
    b = np.array([0.0, 2.0])  # ensemble-1 bias per Markov state
    w = pi0 * np.exp(-b)
    pi1 = w / w.sum()
    T0 = _detailed_balance_T(pi0, 0.3)
    T1 = _detailed_balance_T(pi1, 0.1)
    rows = []
    for k, T in ((0, T0), (1, T1)):
        for traj in range(3):
            dtraj = simulate_msm(T, 6000, start=traj % 2, seed=10 * k + traj)
            for t, s in enumerate(dtraj):
                rows.append((k, traj, t, int(s), [0.0, float(b[s])]))
    df = spark.createDataFrame(rows, ["therm_state", "traj_id", "t", "state", "bias"])
    return df, pi0, pi1, T0, T1, b


def test_tram_recovers_unbiased_stationary(spark, tram_df):
    df, pi0, pi1, T0, T1, b = tram_df
    model = TRAM(lagtime=1, maxiter=500, maxerr=1e-10).fit(df).fetch_model()
    # unbiased stationary distribution from the Markov state energies
    np.testing.assert_allclose(model.stationary_distribution, pi0, atol=0.03)
    # biased conformation energies satisfy f_i^1 - f_i^0 ~ b_i (+ const)
    df_energy = model.biased_conf_energies[1] - model.biased_conf_energies[0]
    np.testing.assert_allclose(df_energy[1] - df_energy[0], b[1] - b[0], atol=0.1)
    # free-energy difference between the ensembles: Delta f = f^1 - f^0 =
    # -ln sum_i pi_i e^{-b_i}
    delta_f_true = -np.log(np.sum(pi0 * np.exp(-b)))
    delta_f = model.therm_state_energies[1] - model.therm_state_energies[0]
    np.testing.assert_allclose(delta_f, delta_f_true, atol=0.05)


def test_tram_transition_matrices(spark, tram_df):
    df, pi0, pi1, T0, T1, b = tram_df
    model = TRAM(lagtime=1, maxiter=500, maxerr=1e-10).fit(df).fetch_model()
    for k, T_true in ((0, T0), (1, T1)):
        Tk = model.transition_matrices[k]
        np.testing.assert_allclose(Tk.sum(axis=1), 1.0, atol=1e-8)
        np.testing.assert_allclose(Tk, T_true, atol=0.04)
    # per-ensemble MSM accessor composes with the analysis layer
    msm0 = model.msm(0)
    np.testing.assert_allclose(msm0.stationary_distribution, pi0, atol=0.04)


def test_tram_dataset_df_and_connectivity(spark):
    import numpy as np

    from deeptime_spark.markov.tram import restrict_connected, tram_dataset_df

    rng = np.random.default_rng(11)
    # two ensembles; state 3 appears only as an isolated self-loop island
    d0 = rng.integers(0, 3, size=200)
    d1 = rng.integers(0, 3, size=200)
    d1[195:200] = 3  # trailing block: entries into 3 but no exit -> not in SCC
    bias0 = np.zeros((200, 2))
    bias1 = np.column_stack([np.zeros(200), rng.random(200)])
    df = tram_dataset_df(spark, [d0, d1], [bias0, bias1])
    assert df.count() == 400
    assert dict(df.dtypes)["bias"] == "array<double>"
    # without ttrajs the ensemble is the trajectory index
    assert df.where((F.col("traj_id") == 1) & (F.col("therm_state") != 1)).count() == 0
    restricted = restrict_connected(df, lagtime=1)
    kept = {r["state"] for r in restricted.select("state").distinct().collect()}
    assert 3 not in kept and -1 in kept
    assert {0, 1, 2} <= kept


def test_tram_spark_bias_store_matches_driver(spark, tram_df):
    """The distributed bias store folds each state's samples in the
    driver blocks' (traj_id, t) order, so the two fits are bit-equal."""
    from deeptime_spark import dispatch

    # per-sample noise on the bias, so a block summed in another order
    # would differ in the last bits
    df = tram_df[0].withColumn(
        "bias",
        F.array(F.lit(0.0), F.col("bias")[1] + 0.1 * F.sin(F.col("t") * 0.37 + F.col("traj_id"))),
    )
    m_driver = TRAM(lagtime=1, maxiter=60).fit(df).fetch_model()
    with dispatch.force("distributed"):
        m_spark = TRAM(lagtime=1, maxiter=60).fit(df.repartition(5)).fetch_model()
    for attr in ("biased_conf_energies", "markov_state_energies",
                 "therm_state_energies", "transition_matrices"):
        np.testing.assert_array_equal(getattr(m_spark, attr), getattr(m_driver, attr))


@pytest.mark.parametrize("distributed", [False, True])
def test_tram_bias_wider_than_the_counted_ensembles_raises_on_both_paths(spark, distributed):
    """Ensemble 2 has no sample with state >= 0, so the counts see two
    ensembles while every bias holds three energies."""
    from deeptime_spark import dispatch

    rows = [(k, k, t, t % 2 if k < 2 else -1, [0.0, 0.1 * k, 0.2]) for k in range(3) for t in range(6)]
    df = spark.createDataFrame(rows, "therm_state int, traj_id long, t long, state int, bias array<double>")
    path = dispatch.force("distributed") if distributed else contextlib.nullcontext()
    with path, pytest.raises(ValueError, match="bias widths 3..3 .* their 2 ensembles"):
        TRAM(lagtime=1, maxiter=5).fit(df)


def test_restrict_connected_without_valid_transition_raises_value_error(spark):
    from deeptime_spark.markov.tram import restrict_connected

    df = spark.createDataFrame(
        [(0, 0, t, -1, [0.0, 0.5]) for t in range(5)],
        "therm_state int, traj_id long, t long, state int, bias array<double>",
    )
    with pytest.raises(ValueError, match="no valid transition at lagtime 1"):
        restrict_connected(df, lagtime=1)


def test_restrict_connected_post_hoc_re(spark):
    import numpy as np

    from deeptime_spark.markov.tram import restrict_connected, tram_dataset_df

    rng = np.random.default_rng(21)
    # two ensembles over states {0,1}; ensemble 1 also visits state 2 with
    # ENORMOUS bias difference -> no thermodynamic overlap for state 2
    d0 = rng.integers(0, 2, size=300)
    d1 = rng.integers(0, 2, size=300)
    d1[200:300] = 2  # state 2 only in ensemble 1, trailing block
    bias0 = np.zeros((300, 2))
    bias1 = np.column_stack([np.zeros(300), 0.1 * rng.random(300)])
    df = tram_dataset_df(spark, [d0, d1], [bias0, bias1])
    # overlapping ensembles: everything stays connected through states 0/1;
    # state 2 connects via intra-ensemble transitions of ensemble 1
    out = restrict_connected(df, connectivity="post_hoc_RE")
    kept = {r["state"] for r in out.select("state").distinct().collect()}
    assert {0, 1, 2} <= kept
    # BAR variance mode also runs and keeps the overlapping core
    out2 = restrict_connected(df, connectivity="BAR_variance", connectivity_factor=10.0)
    kept2 = {r["state"] for r in out2.select("state").distinct().collect()}
    assert {0, 1} <= kept2
