"""Deep estimators (torch-free VAMPNet / TAE): FD-pinned gradients,
learning behavior on the canonical two-state problem, and the
distributed == driver-replay bit-equality the oracle gate relies on."""

import numpy as np
import pytest

from deeptime_spark.data.generators import simulate_msm
from deeptime_spark.decomposition.deep import (
    TAE,
    VAMPNet,
    mlp_backward,
    mlp_forward,
    mlp_init,
    tae_train_arrays,
    vamp2_grads,
    vampnet_train_arrays,
)


def _toy_trajs(n_traj=4, n=2000):
    """Two-state jump process observed through a nonlinear 2-d lift."""
    T = np.array([[0.95, 0.05], [0.05, 0.95]])
    out = []
    for tid in range(n_traj):
        d = simulate_msm(T, n, start=tid % 2, seed=100 + tid)
        x = d.astype(float) * 2.0 - 1.0 + 0.3 * np.random.default_rng(tid).normal(size=len(d))
        out.append((tid, np.column_stack([x, x * x])))
    return out


def test_vamp2_grads_match_finite_differences():
    rng = np.random.default_rng(0)
    k, h = 4, 1e-6
    A = rng.normal(size=(k, k))
    B = rng.normal(size=(k, k))
    C00 = A @ A.T + 0.1 * np.eye(k)
    Ctt = B @ B.T + 0.1 * np.eye(k)
    C0t = rng.normal(size=(k, k)) * 0.3
    _, G00, G0t, G11 = vamp2_grads(C00, C0t, Ctt)

    def fd(name):
        G = np.zeros((k, k))
        mats = {"C00": C00, "C0t": C0t, "Ctt": Ctt}
        for i in range(k):
            for j in range(k):
                m = mats[name]
                m[i, j] += h
                sp = vamp2_grads(C00, C0t, Ctt)[0]
                m[i, j] -= 2 * h
                sm = vamp2_grads(C00, C0t, Ctt)[0]
                m[i, j] += h
                G[i, j] = (sp - sm) / (2 * h)
        return G

    np.testing.assert_allclose(fd("C00"), G00, atol=1e-6)
    np.testing.assert_allclose(fd("C0t"), G0t, atol=1e-6)
    np.testing.assert_allclose(fd("Ctt"), G11, atol=1e-6)


def test_mlp_backward_matches_finite_differences():
    rng = np.random.default_rng(1)
    params = mlp_init([2, 8, 3], seed=1)
    X = rng.normal(size=(40, 2))
    R = rng.normal(size=(40, 3))
    _, acts = mlp_forward(params, X)
    grads = mlp_backward(params, acts, R)
    h = 1e-6
    for i_p, p in enumerate(params):
        ix = next(np.ndindex(*p.shape))
        p[ix] += h
        fp = (mlp_forward(params, X)[0] * R).sum()
        p[ix] -= 2 * h
        fm = (mlp_forward(params, X)[0] * R).sum()
        p[ix] += h
        assert abs((fp - fm) / (2 * h) - grads[i_p][ix]) < 1e-6


def test_vampnet_learns_the_two_state_process():
    # best possible VAMP-2 at lag 1 for this chain is 1 + 0.9^2 = 1.81
    trajs = _toy_trajs()
    _, scores = vampnet_train_arrays(trajs, [2, 16, 2], tau=1, n_epochs=30, lr=0.05, seed=42)
    assert scores[-1] > scores[0] + 0.05
    assert scores[-1] > 1.75
    assert scores[-1] < 1.85  # can't beat the true spectrum


def test_tae_loss_decreases():
    trajs = _toy_trajs()
    _, losses = tae_train_arrays(trajs, [2, 8, 1, 8, 2], tau=1, n_epochs=30, lr=0.02, seed=42)
    assert losses[-1] < 0.6 * losses[0]


def _toy_df(spark, trajs):
    rows = [
        (tid, t, float(X[t, 0]), float(X[t, 1]))
        for tid, X in trajs
        for t in range(len(X))
    ]
    return spark.createDataFrame(rows, "traj_id long, t long, x0 double, x1 double")


def test_vampnet_spark_bitwise_matches_replay_and_partitioning(spark):
    trajs = _toy_trajs(n_traj=3, n=1200)
    df = _toy_df(spark, trajs)
    kw = dict(lagtime=1, layers=[2, 16, 2], n_epochs=4, lr=0.05, seed=42)
    m = VAMPNet(**kw).fit(df, x_cols=["x0", "x1"]).fetch_model()
    p_ref, s_ref = vampnet_train_arrays(trajs, [2, 16, 2], tau=1, n_epochs=4, lr=0.05, seed=42)
    assert m.scores == s_ref
    assert all(np.array_equal(a, b) for a, b in zip(m.params, p_ref))
    # partition-layout invariance: per-traj partials + sorted reduce
    m2 = VAMPNet(**kw).fit(df.repartition(7), x_cols=["x0", "x1"]).fetch_model()
    assert all(np.array_equal(a, b) for a, b in zip(m.params, m2.params))
    feats = m.transform(df, x_cols=["x0", "x1"]).select("features").first()["features"]
    assert len(feats) == 2


def test_tae_spark_bitwise_matches_replay(spark):
    trajs = _toy_trajs(n_traj=3, n=1200)
    df = _toy_df(spark, trajs)
    est = TAE(lagtime=1, layers=[2, 8, 1, 8, 2], bottleneck_layer=2,
              n_epochs=4, lr=0.02, seed=42).fit(df, x_cols=["x0", "x1"])
    m = est.fetch_model()
    p_ref, l_ref = tae_train_arrays(trajs, [2, 8, 1, 8, 2], tau=1, n_epochs=4, lr=0.02, seed=42)
    assert m.losses == l_ref
    assert all(np.array_equal(a, b) for a, b in zip(m.params, p_ref))
    lat = m.transform(df, x_cols=["x0", "x1"], out_col="latent").select("latent").first()["latent"]
    assert len(lat) == 1


def test_tae_rejects_mismatched_io_dims():
    with pytest.raises(ValueError, match="layers\\[0\\] must equal"):
        TAE(lagtime=1, layers=[2, 8, 1, 8, 3], bottleneck_layer=2)


def test_tvae_gradients_match_finite_differences():
    from deeptime_spark.decomposition.deep import tvae_grad_partial, tvae_init

    rng = np.random.default_rng(3)
    d, h_dim, b = 2, 6, 1
    params = tvae_init(d, h_dim, b, seed=5)
    X = rng.normal(size=(60, d))
    eps_seed = (5, 0, 7)

    def loss_of():
        n_i, sse, kld, _ = tvae_grad_partial(params, X, 1, 1.0, eps_seed)
        return sse / (n_i * d) + (kld / n_i) / d

    n_i, sse, kld, grads = tvae_grad_partial(params, X, 1, 1.0, eps_seed)
    grads = [g / n_i for g in grads]
    h = 1e-6
    for i_p, p in enumerate(params):
        ix = next(np.ndindex(*p.shape))
        p[ix] += h
        fp = loss_of()
        p[ix] -= 2 * h
        fm = loss_of()
        p[ix] += h
        assert abs((fp - fm) / (2 * h) - grads[i_p][ix]) < 1e-6, f"param {i_p}"


def test_tvae_loss_decreases():
    from deeptime_spark.decomposition.deep import tvae_train_arrays

    trajs = _toy_trajs()
    _, losses = tvae_train_arrays(trajs, 2, 8, 1, tau=1, n_epochs=25, beta=0.1, lr=0.02, seed=42)
    assert losses[-1] < 0.6 * losses[0]


def test_tvae_spark_bitwise_matches_replay(spark):
    from deeptime_spark.decomposition.deep import TVAE, tvae_train_arrays

    trajs = _toy_trajs(n_traj=3, n=1200)
    df = _toy_df(spark, trajs)
    kw = dict(lagtime=1, hidden=8, bottleneck=1, n_epochs=3, beta=0.1, lr=0.02, seed=42)
    m = TVAE(**kw).fit(df, x_cols=["x0", "x1"]).fetch_model()
    p_ref, l_ref = tvae_train_arrays(trajs, 2, 8, 1, tau=1, n_epochs=3, beta=0.1, lr=0.02, seed=42)
    assert m.losses == l_ref
    assert all(np.array_equal(a, b) for a, b in zip(m.params, p_ref))
    # counter-based noise => partition-layout invariance holds even for
    # the stochastic estimator
    m2 = TVAE(**kw).fit(df.repartition(5), x_cols=["x0", "x1"]).fetch_model()
    assert all(np.array_equal(a, b) for a, b in zip(m.params, m2.params))
    lat = m.transform(df, x_cols=["x0", "x1"]).select("latent").first()["latent"]
    assert len(lat) == 1


def test_kvad_gradients_match_finite_differences():
    from deeptime_spark.decomposition.deep import kvad_score_and_grads
    from deeptime_spark.kernels import GaussianKernel

    rng = np.random.default_rng(4)
    x = rng.normal(size=(80, 2))
    y = rng.normal(size=(80, 2))
    G = GaussianKernel(1.0).apply(y, y)
    params = mlp_init([2, 6, 2], seed=9)
    _, grads = kvad_score_and_grads(params, x, G)
    h = 1e-6
    for i_p, p in enumerate(params):
        ix = next(np.ndindex(*p.shape))
        p[ix] += h
        sp, _ = kvad_score_and_grads(params, x, G)
        p[ix] -= 2 * h
        sm, _ = kvad_score_and_grads(params, x, G)
        p[ix] += h
        assert abs((sp - sm) / (2 * h) - grads[i_p][ix]) < 1e-6, f"param {i_p}"


def test_kvadnet_score_increases():
    from deeptime_spark.decomposition.deep import kvadnet_train_arrays

    trajs = _toy_trajs(n_traj=1, n=2000)
    X = trajs[0][1]
    _, scores = kvadnet_train_arrays(X[:-1], X[1:], [2, 16, 2], sigma=1.0,
                                     n_epochs=25, lr=0.02, seed=42)
    assert scores[-1] > scores[0]


def test_kvadnet_spark_matches_replay(spark):
    import hashlib

    from deeptime_spark.decomposition.deep import KVADNet, kvadnet_train_arrays

    trajs = _toy_trajs(n_traj=3, n=600)
    rows = [
        (tid, t, [float(X[t, 0]), float(X[t, 1])])
        for tid, X in trajs
        for t in range(len(X))
    ]
    df = spark.createDataFrame(rows, "traj_id long, t long, x array<double>")
    m = KVADNet(lagtime=1, layers=[2, 8, 2], sigma=1.0, n_epochs=4, lr=0.02,
                seed=42, max_samples=500).fit(df).fetch_model()
    # replay: content-addressed sample + identical seeded training
    keyed = []
    for tid, X in trajs:
        for t in range(len(X) - 1):
            keyed.append((hashlib.md5(f"{tid}_{t}".encode()).hexdigest(), X[t], X[t + 1]))
    keyed.sort(key=lambda r: r[0])
    x = np.array([r[1] for r in keyed[:500]])
    y = np.array([r[2] for r in keyed[:500]])
    p_ref, s_ref = kvadnet_train_arrays(x, y, [2, 8, 2], sigma=1.0, n_epochs=4,
                                        lr=0.02, seed=42)
    assert m.scores == s_ref
    assert all(np.array_equal(a, b) for a, b in zip(m.params, p_ref))
    feats = m.transform(df, x_cols=["x"]).select("features").first()["features"]
    assert len(feats) == 2


def test_deep_driver_dispatch_bit_equal_to_distributed(spark):
    """r12: below the "deep_fit" dispatch bound the deep fits collect once
    and run the *_train_arrays replay on the driver; forcing the
    distributed path runs the original per-epoch distributed loop. Both paths use the identical
    per-traj kernels + sorted reduces, so params/curves are bit-equal."""
    from deeptime_spark import dispatch
    from deeptime_spark.decomposition.deep import TVAE

    trajs = _toy_trajs(n_traj=3, n=600)
    df = _toy_df(spark, trajs)

    kw = dict(lagtime=1, layers=[2, 8, 2], n_epochs=3, lr=0.05, seed=42)
    a = VAMPNet(**kw).fit(df, x_cols=["x0", "x1"]).fetch_model()
    with dispatch.force("distributed"):
        b = VAMPNet(**kw).fit(df, x_cols=["x0", "x1"]).fetch_model()
    assert a.scores == b.scores
    assert all(np.array_equal(p, q) for p, q in zip(a.params, b.params))

    kw = dict(lagtime=1, layers=[2, 8, 1, 8, 2], bottleneck_layer=2,
              n_epochs=3, lr=0.02, seed=42)
    a = TAE(**kw).fit(df, x_cols=["x0", "x1"]).fetch_model()
    with dispatch.force("distributed"):
        b = TAE(**kw).fit(df, x_cols=["x0", "x1"]).fetch_model()
    assert a.losses == b.losses
    assert all(np.array_equal(p, q) for p, q in zip(a.params, b.params))

    kw = dict(lagtime=1, hidden=8, bottleneck=1, n_epochs=3, beta=0.1,
              lr=0.02, seed=42)
    a = TVAE(**kw).fit(df, x_cols=["x0", "x1"]).fetch_model()
    with dispatch.force("distributed"):
        b = TVAE(**kw).fit(df, x_cols=["x0", "x1"]).fetch_model()
    assert a.losses == b.losses
    assert all(np.array_equal(p, q) for p, q in zip(a.params, b.params))
