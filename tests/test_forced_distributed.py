"""Driver-vs-distributed dispatch (deeptime_spark/dispatch.py).

Every gated operator finishes small inputs on the driver and large ones
distributed; ``dispatch.force("distributed")`` — or the
``DEEPTIME_DISPATCH=distributed`` variable tools/forced_distributed_bench.py
sets — must reach every site, skip every driver kernel and change no
result, on real inputs and on empty ones.
"""

import os
import random

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from conftest import python_sources
from deeptime_spark import dispatch
from deeptime_spark.clustering import kmeans
from deeptime_spark.decomposition import deep
from deeptime_spark.hmm import hmm_model, mlhmm, random_guess
from deeptime_spark.markov.tram import TRAM
from deeptime_spark.operators import dedup
from deeptime_spark.operators import graph as G
from test_partition_invariance import SF, normalize
from tools.forced_distributed_bench import FORCE_ENV


def test_only_dispatch_module_reads_deeptime_env():
    sources = python_sources("deeptime_spark")
    assert sources
    offenders = [
        path
        for path, text in sources.items()
        if path != "deeptime_spark/dispatch.py" and "DEEPTIME_" in text
    ]
    assert offenders == []


def _edges(spark, empty):
    rng = random.Random(17)
    rows = [] if empty else [(rng.randint(0, 90), rng.randint(0, 90)) for _ in range(2000)]
    rows += [] if empty else [(2, 8), (8, 2), (2, 8), (4, 4)]  # multi-edges + self-loop
    return spark.createDataFrame(rows, "src long, dst long")


def _trajs(spark, empty):
    rows = []
    for tid in range(0 if empty else 3):
        x = np.random.default_rng(tid).normal(size=300).cumsum() * 0.1
        rows += [(tid, t, float(x[t]), float(x[t] ** 2)) for t in range(len(x))]
    return spark.createDataFrame(rows, "traj_id long, t long, x0 double, x1 double")


def _points(spark, empty):
    X = np.random.default_rng(55).normal(size=(0 if empty else 90, 3))
    return spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))], "id long, x array<double>"
    ).repartition(4)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _deep(est, key):
    def fit(df):
        m = est().fit(df, x_cols=["x0", "x1"]).fetch_model()
        return getattr(m, key), [p.tolist() for p in m.params]
    return fit


def _dtrajs(spark, empty):
    rows = []
    for tid in range(0 if empty else 4):
        obs = HMM0.simulate(150, seed=tid)[1]
        rows += [(tid, t, int(o)) for t, o in enumerate(obs)]
    rows += [] if empty else [(9, 0, 1)]  # singleton: dropped by the fit
    return spark.createDataFrame(rows, "traj_id long, t long, state long")


def _hmm_fit(df):
    m = mlhmm.MaximumLikelihoodHMM(HMM0, lagtime=1, maxit=3).fit(df).fetch_model()
    return [m.transition_matrix.tolist(), m.initial_distribution.tolist(),
            m.output_model.output_probabilities.tolist(), m.likelihoods.tolist()]


def _tram_samples(spark, empty):
    rng = np.random.default_rng(5)
    rows = []
    for k in range(0 if empty else 2):
        states = rng.integers(0, 3, size=400)
        rows += [(k, k, t, int(s), [0.0, 0.4 * int(s) + 0.1 * float(rng.normal())])
                 for t, s in enumerate(states)]
    return spark.createDataFrame(
        rows, "therm_state int, traj_id long, t long, state int, bias array<double>"
    ).repartition(3)


def _tram_fit(df):
    m = TRAM(lagtime=1, maxiter=30).fit(df).fetch_model()
    return [m.biased_conf_energies.tolist(), m.markov_state_energies.tolist(),
            m.therm_state_energies.tolist(), m.transition_matrices.tolist()]


# a fixed initial model: an empty input reaches the EM itself
HMM0 = random_guess(n_observation_states=3, n_hidden_states=2, seed=11)
KMEANS = dict(n_clusters=4, seed=3, max_iter=10, order_col="id", sample_size=91)

# decision, module, driver kernel, input builder, run, empty-input outcome
CASES = {
    "triangles": (
        "triangles", G, "_driver_triangle_counts", _edges,
        lambda e: _rows(G.triangle_counts(e, include_degree=True)), [],
    ),
    "graph-k_core": (
        "graph", G, "_driver_k_core", _edges, lambda e: _rows(G.k_core(e, k=5)), [],
    ),
    "graph-bfs": (
        "graph", G, "_driver_bfs", _edges,
        lambda e: _rows(G.bfs_distances(e, sources=[0], max_depth=3)), [(0, 0)],
    ),
    "graph-label_propagation": (
        "graph", G, "_driver_label_propagation", _edges,
        lambda e: _rows(G.label_propagation(e, n_iter=4)), [],
    ),
    "deep_fit-vampnet": (
        "deep_fit", deep, "vampnet_train_arrays", _trajs,
        _deep(lambda: deep.VAMPNet(lagtime=1, layers=[2, 8, 2], n_epochs=3, seed=42), "scores"),
        ValueError,
    ),
    "deep_fit-tae": (
        "deep_fit", deep, "tae_train_arrays", _trajs,
        _deep(lambda: deep.TAE(lagtime=1, layers=[2, 8, 1, 8, 2], bottleneck_layer=2,
                               n_epochs=3, lr=0.02, seed=42), "losses"),
        ValueError,
    ),
    "deep_fit-tvae": (
        "deep_fit", deep, "tvae_train_arrays", _trajs,
        _deep(lambda: deep.TVAE(lagtime=1, hidden=8, bottleneck=1, n_epochs=3,
                                beta=0.1, lr=0.02, seed=42), "losses"),
        ValueError,
    ),
    "kmeans": (
        "kmeans", kmeans, "deterministic_kmeans_numpy", _points,
        lambda df: kmeans.DeterministicKMeans(**KMEANS).fit(df).fetch_model()
        .cluster_centers.tolist(),
        ValueError,
    ),
    "hmm-fit": ("hmm", mlhmm, "_driver_estep", _dtrajs, _hmm_fit, ValueError),
    "hmm-viterbi": (
        "hmm", hmm_model, "_decode_groups", _dtrajs, lambda df: _rows(HMM0.viterbi_df(df)), [],
    ),
    "hmm-gamma": (
        "hmm", hmm_model, "_decode_groups", _dtrajs,
        lambda df: _rows(HMM0.state_probabilities_df(df)), [],
    ),
    "tram_bias": ("tram_bias", TRAM, "_collect_bias", _tram_samples, _tram_fit, ValueError),
    "union_find": (
        "union_find", dedup, "_union_find_local", _edges,
        lambda e: _rows(dedup.connected_components(e, "src", "dst")), [],
    ),
}


def _outcome(run, df):
    try:
        return run(df)
    except ValueError as e:
        return ValueError, str(e)


def test_every_decision_has_a_forced_case():
    # triangle_wedges is the driver triangle kernel's own budget: forcing
    # "triangles" already keeps the kernel from running
    assert {c[0] for c in CASES.values()} == set(dispatch.BOUNDS) - {"triangle_wedges"}


@pytest.mark.parametrize("name", sorted(CASES))
def test_force_skips_driver_kernel_bit_equal(spark, monkeypatch, name):
    _, module, kernel, build, run, empty = CASES[name]
    calls = []
    real = getattr(module, kernel)

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(module, kernel, spy)
    df = build(spark, empty=False)
    by_default = run(df)
    assert calls == [1]
    with dispatch.force("distributed"):
        forced = run(df)
    assert calls == [1]
    assert forced == by_default

    # empty input: the same outcome on both paths (rows or the ValueError)
    df = build(spark, empty=True)
    by_default = _outcome(run, df)
    with dispatch.force("distributed"):
        forced = _outcome(run, df)
    assert forced == by_default
    if empty is ValueError:
        assert by_default[0] is ValueError
    else:
        assert by_default == empty


def test_kmeans_dispatch_switch_forces_distributed_lloyd(spark, monkeypatch):
    """sample_size > n puts the whole relation in the init sample, which
    the driver Lloyd loop absorbs; the gate's FORCE_ENV must run the
    distributed loop instead, with bit-identical centers."""
    assert FORCE_ENV == {"DEEPTIME_DISPATCH": "distributed"}
    df = _points(spark, empty=False)
    calls = []
    driver_lloyd = kmeans.deterministic_kmeans_numpy

    def spy(*args, **kwargs):
        calls.append(1)
        return driver_lloyd(*args, **kwargs)

    monkeypatch.setattr(kmeans, "deterministic_kmeans_numpy", spy)
    m_driver = kmeans.DeterministicKMeans(**KMEANS).fit(df).fetch_model()
    assert calls == [1]

    monkeypatch.setenv("DEEPTIME_DISPATCH", "distributed")
    m_dist = kmeans.DeterministicKMeans(**KMEANS).fit(df).fetch_model()
    assert calls == [1]
    assert np.array_equal(m_dist.cluster_centers, m_driver.cluster_centers)


def test_dispatch_rejects_unknown_modes(monkeypatch):
    monkeypatch.delenv(dispatch.ENV, raising=False)
    assert dispatch.on_driver("graph", 10)
    assert not dispatch.on_driver("graph", 0)
    with pytest.raises(ValueError):
        with dispatch.force("driver"):
            pass
    with dispatch.force("distributed"):
        assert not dispatch.on_driver("graph", 10)
    assert dispatch.ENV not in os.environ
    monkeypatch.setenv(dispatch.ENV, "driver")
    with pytest.raises(ValueError):
        dispatch.on_driver("graph", 10)


@pytest.mark.parametrize("name", entrymod.DISPATCH)
def test_gated_query_unchanged_when_forced_distributed(spark, name):
    q = entrymod.queries()[name]
    try:
        by_default = normalize(q(spark, SF))
        with dispatch.force("distributed"):
            forced = normalize(q(spark, SF))
    finally:
        spark.catalog.clearCache()
    assert len(by_default)
    pd.testing.assert_frame_equal(forced, by_default, check_exact=True)


def test_k_core_bound_edge_fetches_once_and_runs_no_count(spark, monkeypatch):
    """k_core's input at exactly the graph bound: one fetch, the driver
    peel, and no count() before it; one row over the bound: the
    distributed loop, bit-equal; forced distributed: no fetch at all."""
    from pyspark.sql import DataFrame

    edges = _edges(spark, empty=False)
    n = len({(min(a, b), max(a, b)) for a, b in edges.collect() if a != b})
    calls = {"fetch": 0, "kernel": 0, "count": 0}

    def spy(key, real):
        def wrapped(*args, **kwargs):
            calls[key] += 1
            return real(*args, **kwargs)
        return wrapped

    monkeypatch.setattr(dispatch, "arrays", spy("fetch", dispatch.arrays))
    monkeypatch.setattr(G, "_driver_k_core", spy("kernel", G._driver_k_core))
    monkeypatch.setattr(DataFrame, "count", spy("count", DataFrame.count))

    def run(bound):
        monkeypatch.setitem(dispatch.BOUNDS, "graph", (1, bound))
        for key in calls:
            calls[key] = 0
        return _rows(G.k_core(edges, k=5))

    at_bound = run(n)
    assert calls == {"fetch": 1, "kernel": 1, "count": 0}
    over = run(n - 1)
    assert calls["fetch"] == 1 and calls["kernel"] == 0
    assert over == at_bound and at_bound
    with dispatch.force("distributed"):
        forced = run(n)
    assert calls["fetch"] == 0 and calls["kernel"] == 0
    assert forced == at_bound
