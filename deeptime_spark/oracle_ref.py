"""Literal-value oracle builders for the estimator-pipeline harness queries.

The driver's correctness gate executes ``oracle_sql()`` strings in DuckDB
and hash-compares against the Spark results. Estimator pipelines are not
end-to-end SQL-expressible (MLE fixed points, eigenproblems, Gibbs
chains), so their oracles are built here in two layers:

1. **Data path — recomputed independently of Spark.** Trajectory
   construction, lagged pairing, transition counting, landmark selection
   and feature extraction run as DuckDB SQL / plain numpy directly against
   the parquet.  This is the distributed part of each pipeline — the part
   a Spark regression (wrong window frame, dropped ties, lost rows in a
   shuffle) would corrupt.
2. **Driver finalize — the same published numerics.** The O(d^2)
   finalization that runs on the Spark driver (reversible MLE, spectral
   analysis, Gibbs sampling) is applied to the layer-1 statistics.  For
   count-driven pipelines the counts are integers, so any Spark-side
   deviation changes the finalize input and the comparison fails
   bit-exactly; the finalize itself is pytest-verified separately against
   closed forms (BirthDeathChain, doctest pins).

Emitted SQL is either a pure VALUES literal table (count-driven models:
bit-exact by construction) or SQL that re-derives the per-row features and
applies literal coefficient matrices (projection pipelines: agreement to
the rounding declared by the query).

Each builder is independent and failure-isolated: a builder that raises is
skipped (its query degrades to the driver's rows-only check) rather than
breaking the whole oracle dict.

The scale-factor directory comes from ``$SPARK_GRAFT_ORACLE_SF`` (default
``/root/testdata/sf0.01`` — the driver's correctness SF).
"""

from __future__ import annotations

import os
from functools import lru_cache

import duckdb
import numpy as np

DEFAULT_SF = "/root/testdata/sf0.01"
SF_ENV = "SPARK_GRAFT_ORACLE_SF"

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_STATE_CASE = (
    "CASE event_type "
    + " ".join(f"WHEN '{et}' THEN {i}" for i, et in enumerate(_EVENT_TYPES))
    + " ELSE -1 END"
)


def sf_dir() -> str:
    return os.environ.get(SF_ENV, DEFAULT_SF)


# ------------------------------------------------------------ data path

@lru_cache(maxsize=4)
def _traj(sf: str):
    """(traj_id, t, value, state) numpy arrays, ordered by (traj_id, t) —
    the DuckDB mirror of the harness event-trajectory construction."""
    con = duckdb.connect()
    q = f"""
    SELECT user_id AS traj_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS t,
           value, {_STATE_CASE} AS state
    FROM read_parquet('{sf}/events.parquet')
    ORDER BY traj_id, t
    """
    tid, t, value, state = con.execute(q).fetchnumpy().values()
    return (
        np.asarray(tid, dtype=np.int64),
        np.asarray(t, dtype=np.int64),
        np.asarray(value, dtype=np.float64),
        np.asarray(state, dtype=np.int64),
    )


@lru_cache(maxsize=8)
def _counts(sf: str, lag: int):
    """Integer transition-count matrix + state histogram via DuckDB SQL
    (sliding mode), densified to (max_state+1)^2."""
    con = duckdb.connect()
    q = f"""
    WITH traj AS (
      SELECT user_id AS traj_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS t,
             {_STATE_CASE} AS state
      FROM read_parquet('{sf}/events.parquet')
    ), pairs AS (
      SELECT state AS s_from,
             lead(state, {lag}) OVER (PARTITION BY traj_id ORDER BY t) AS s_to
      FROM traj
    )
    SELECT s_from, s_to, count(*) AS n FROM pairs
    WHERE s_to IS NOT NULL AND s_from >= 0 AND s_to >= 0
    GROUP BY s_from, s_to
    """
    rows = con.execute(q).fetchall()
    _, _, _, state = _traj(sf)
    n = int(state.max()) + 1
    C = np.zeros((n, n), dtype=np.float64)
    for i, j, c in rows:
        C[int(i), int(j)] = float(c)
    hist = np.bincount(state[state >= 0], minlength=n).astype(np.float64)
    return C, hist


def _per_traj_pairs(sf: str, lag: int, feats: np.ndarray):
    """Concatenated (X, Y) lagged feature pairs per trajectory — the numpy
    mirror of the lead-window pairing (traj[:-lag] / traj[lag:])."""
    tid, _, _, _ = _traj(sf)
    bounds = np.flatnonzero(np.r_[True, tid[1:] != tid[:-1], True])
    Xs, Ys = [], []
    for a, b in zip(bounds[:-1], bounds[1:]):
        if b - a > lag:
            Xs.append(feats[a : b - lag])
            Ys.append(feats[a + lag : b])
    return np.concatenate(Xs), np.concatenate(Ys)


def _event_features(sf: str, n_powers: int) -> np.ndarray:
    _, _, value, _ = _traj(sf)
    v = value / 100.0
    return np.stack([v ** (p + 1) for p in range(n_powers)], axis=1)


def _covariance_model(sf: str, lag: int, n_powers: int, remove_mean=True,
                      bessel=True, reversible=False):
    """CovarianceModel from numpy raw moments over the DuckDB trajectory —
    mirrors Covariance(lagtime=lag, ...).fit on the event features."""
    from deeptime_spark.covariance import CovarianceModel
    from deeptime_spark.operators.moments import MomentsResult

    feats = _event_features(sf, n_powers)
    X, Y = _per_traj_pairs(sf, lag, feats)
    m = MomentsResult(
        weight_sum=float(len(X)),
        sx=X.sum(axis=0),
        mxx=X.T @ X,
        sy=Y.sum(axis=0),
        mxy=X.T @ Y,
        myy=Y.T @ Y,
    )
    c00, c0t, ctt, mx, my = m.covariances(
        remove_mean=remove_mean, bessels_correction=bessel, symmetrize=reversible
    )
    return CovarianceModel(
        cov_00=c00, cov_0t=c0t, cov_tt=ctt, mean_0=mx, mean_t=my,
        bessels_correction=bessel, symmetrized=reversible, lagtime=lag,
        weight_sum=float(len(X)),
    )


@lru_cache(maxsize=8)
def _msm(sf: str, lag: int):
    """Reversible-MLE MarkovStateModel from the DuckDB counts (largest
    directed connected submodel) — mirrors MaximumLikelihoodMSM.fit."""
    from deeptime_spark.markov.msm import MarkovStateModel, transition_matrix_reversible
    from deeptime_spark.markov.transition_counting import TransitionCountModel

    C_full, hist = _counts(sf, lag)
    tcm = TransitionCountModel(C_full, counting_mode="sliding", lagtime=lag, state_histogram=hist)
    sub = tcm.submodel_largest(directed=True)
    C = np.asarray(sub.count_matrix, dtype=np.float64)
    T, pi = transition_matrix_reversible(C, return_statdist=True)
    return MarkovStateModel(
        T, stationary_distribution=pi, reversible=True, lagtime=lag, count_model=sub
    ), sub


# ------------------------------------------------------------ SQL emit

def _lit(x) -> str:
    if isinstance(x, str):
        return "'" + x.replace("'", "''") + "'"
    if isinstance(x, (int, np.integer)):
        return str(int(x))
    x = float(x)
    if np.isnan(x):
        return "CAST('nan' AS DOUBLE)"
    if np.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}infinity' AS DOUBLE)"
    # string-cast, NOT a bare numeric literal: DuckDB types bare decimal
    # literals as DECIMAL and the DECIMAL->DOUBLE conversion can be off by
    # an ulp; string->DOUBLE parsing is correctly rounded (bit-exact
    # round-trip of repr()).
    return f"CAST('{x!r}' AS DOUBLE)"


def _values_sql(rows, cols: list[str], types: str) -> str:
    """VALUES literal table; types per column: 'b' BIGINT, 'd' DOUBLE,
    's' VARCHAR."""
    _SQL_T = {"b": "BIGINT", "d": "DOUBLE", "s": "VARCHAR"}
    body = ",\n".join("(" + ", ".join(_lit(v) for v in r) + ")" for r in rows)
    sel = ", ".join(
        f"CAST(c{i} AS {_SQL_T[t]}) AS {c}"
        for i, (c, t) in enumerate(zip(cols, types))
    )
    names = ", ".join(f"c{i}" for i in range(len(cols)))
    return f"SELECT {sel} FROM (VALUES\n{body}\n) AS v({names})"


# ------------------------------------------------------ count-driven

def oracle_msm_pi() -> str:
    from deeptime_spark.markov.analysis import mfpt

    msm, _ = _msm(sf_dir(), 1)
    P, pi = msm.transition_matrix, msm.stationary_distribution
    m = mfpt(P, target=0)
    rows = [(i, float(pi[i]), float(m[i])) for i in range(len(pi))]
    return _values_sql(rows, ["state", "pi", "mfpt0"], "bdd")


def oracle_msm_its() -> str:
    from deeptime_spark.validation import implied_timescales

    models = [_msm(sf_dir(), tau)[0] for tau in (1, 2, 3)]
    its = implied_timescales(models, n_its=3)
    rows = [
        (int(tau), k, float(its.timescales_for_process(k)[i]))
        for i, tau in enumerate(its.lagtimes)
        for k in range(its.max_n_processes)
    ]
    return _values_sql(rows, ["lagtime", "process", "its"], "bbd")


def oracle_msm_ck() -> str:
    from deeptime_spark.validation import ck_test

    models = [_msm(sf_dir(), tau)[0] for tau in (1, 2, 3)]
    ck = ck_test(models, n_metastable_sets=2)
    rows = [
        (int(tau), i, j, float(ck.predictions[li][i, j]), float(ck.estimates[li][i, j]))
        for li, tau in enumerate(ck.lagtimes)
        for i in range(2)
        for j in range(2)
    ]
    return _values_sql(rows, ["lagtime", "set_i", "set_j", "predicted", "estimated"], "bbbdd")


def oracle_pcca() -> str:
    msm, _ = _msm(sf_dir(), 1)
    m = np.asarray(msm.pcca(2).memberships)
    rows = [(i, float(m[i, 0]), float(m[i, 1])) for i in range(m.shape[0])]
    return _values_sql(rows, ["state", "m0", "m1"], "bdd")


def oracle_msm_longtail() -> str:
    from deeptime_spark.markov.analysis import (
        expected_counts,
        fingerprint_correlation,
        hitting_probability,
    )

    msm, _ = _msm(sf_dir(), 1)
    P = msm.transition_matrix
    n = P.shape[0]
    h = hitting_probability(P, [4])
    obs = np.arange(n, dtype=np.float64)
    _, amp = fingerprint_correlation(P, obs)
    ec = expected_counts(P, np.full(n, 1.0 / n), 10).sum(axis=1)
    rows = [(i, float(h[i]), float(amp[i]), float(ec[i])) for i in range(n)]
    return _values_sql(
        rows, ["state", "hitting_p4", "fp_amplitude", "expected_out_counts"], "bddd"
    )


def oracle_tpt() -> str:
    msm, _ = _msm(sf_dir(), 1)
    flux = msm.reactive_flux([0], [4])
    n = len(flux.forward_committor)
    rows = [
        (i, j, float(flux.forward_committor[i]), float(flux.backward_committor[i]),
         float(flux.net_flux[i, j]))
        for i in range(n)
        for j in range(n)
    ]
    return _values_sql(rows, ["s_from", "s_to", "qplus", "qminus", "net_flux"], "bbddd")


def oracle_bayes_msm() -> str:
    from deeptime_spark.markov.msm import BayesianMSM
    from deeptime_spark.markov.transition_counting import TransitionCountModel

    C_full, hist = _counts(sf_dir(), 1)
    tcm = TransitionCountModel(C_full, counting_mode="sliding", lagtime=1, state_histogram=hist)
    post = BayesianMSM(n_samples=20, seed=42).fit(tcm).fetch_model()
    stats = post.gather_stats("transition_matrix")
    mean, lo, hi = stats["mean"], stats["L"], stats["R"]
    n = mean.shape[0]
    rows = [
        (i, j, float(mean[i, j]), float(lo[i, j]), float(hi[i, j]))
        for i in range(n)
        for j in range(n)
    ]
    return _values_sql(rows, ["s_from", "s_to", "p_mean", "p_lo", "p_hi"], "bbddd")


def oracle_effective_counts() -> str:
    """Sliding counts (DuckDB) scaled by indicator-series statistical
    inefficiencies computed from the DuckDB-ordered conditional target
    sequences — the row-averaged effective count matrix."""
    from deeptime_spark.markov.effective_counts import statistical_inefficiency

    sf = sf_dir()
    tid, _, _, state = _traj(sf)
    lag = 1
    C, _ = _counts(sf, lag)
    n = C.shape[0]
    I = np.ones((n, n))
    # conditional target sequences: for each s_from, the time-ordered s_to
    # sequence per trajectory (mirrors statistical_inefficiencies_df's grouped
    # per_state kernel: trajs iterated in sorted order, the j-list is the
    # UNIQUE TARGETS OF THE WHOLE s_from GROUP, and every traj contributes
    # an indicator series for every such j — all-zero series included)
    bounds = np.flatnonzero(np.r_[True, tid[1:] != tid[:-1], True])
    group_targets: dict[int, list[np.ndarray]] = {}
    for a, b in zip(bounds[:-1], bounds[1:]):
        s = state[a:b]
        if len(s) <= lag:
            continue
        s_from, s_to = s[:-lag], s[lag:]
        ok = (s_from >= 0) & (s_to >= 0)
        s_from, s_to = s_from[ok], s_to[ok]
        for i in np.unique(s_from):
            group_targets.setdefault(int(i), []).append(s_to[s_from == i])
    for i, target_seqs in group_targets.items():
        all_targets = np.unique(np.concatenate(target_seqs))
        for j in all_targets:
            ss = [(seq == j).astype(np.float64) for seq in target_seqs]
            I[i, int(j)] = statistical_inefficiency(ss, truncate_acf=True, mact=1.0)
    c_row = C.sum(axis=1)
    c_eff_row = (I * C).sum(axis=1)
    scale = np.divide(c_eff_row, c_row, out=np.ones_like(c_row), where=c_row > 0)
    Ce = C * scale[:, None]
    rows = [(i, j, float(Ce[i, j])) for i in range(n) for j in range(n)]
    return _values_sql(rows, ["s_from", "s_to", "n_eff"], "bbd")


# -------------------------------------------------- covariance-driven

def oracle_vamp() -> str:
    from deeptime_spark.decomposition.vamp import VAMP

    cov = _covariance_model(sf_dir(), 2, 3)
    model = VAMP(lagtime=2).fit_from_covariances(cov)
    sv = model.singular_values
    rows = [(i, round(float(sv[i]), 6)) for i in range(len(sv))]
    return _values_sql(rows, ["idx", "sv"], "bd")


def oracle_vamp_score() -> str:
    """Covariances re-derived independently from the DuckDB trajectory
    (layer 1), then the same score finalize — data-path oracle, with the
    score formulas pinned independently by tests/test_decomposition.py."""
    from deeptime_spark.decomposition.vamp import VAMP

    cov = _covariance_model(sf_dir(), 2, 3)
    model = VAMP(lagtime=2).fit_from_covariances(cov)
    rows = [
        ("vamp1", round(float(model.score(1)), 6)),
        ("vamp2", round(float(model.score(2)), 6)),
        ("vampe", round(float(model.score("E")), 6)),
    ]
    return _values_sql(rows, ["score_kind", "score"], "sd")


def oracle_vamp_score_data() -> str:
    """vamp_score_data replica (vamp.py:142): covariances re-derived
    independently from the DuckDB trajectory, then the identical
    dim-truncated fit + score finalize."""
    from deeptime_spark.decomposition.vamp import VAMP

    cov = _covariance_model(sf_dir(), 2, 3)
    model = VAMP(lagtime=2, dim=2).fit_from_covariances(cov)
    rows = [
        ("vamp1_dim2", round(float(model.score(1.0)), 6)),
        ("vamp2_dim2", round(float(model.score(2.0)), 6)),
        ("vampe_dim2", round(float(model.score("E")), 6)),
    ]
    return _values_sql(rows, ["score_kind", "score"], "sd")


def _sql_sround(expr: str, scale: int = 6) -> str:
    """DuckDB replica of Spark's ``F.round`` on DOUBLE: Spark rounds the
    SHORTEST-ROUNDTRIP decimal repr HALF_UP (BigDecimal.valueOf), while
    DuckDB's round() works on the binary value — they disagree exactly
    when the shortest repr sits on a .5 boundary the double is just
    below (1-in-1e5-rows class; bit us on koopman_propagate g2). Route
    through VARCHAR (DuckDB prints shortest roundtrip digits, same
    digit sequence as Java's Double.toString) into DECIMAL(38,25) —
    lossless for any |x| < 1e13 since shortest reprs have <= 17
    significant digits — then decimal round (half away from zero ==
    HALF_UP). Validated on both engines' boundary cases in
    tests/test_r12_ops.py."""
    return (
        f"CAST(round(CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL(38,25)),"
        f" {scale}) AS DOUBLE)"
    )


def oracle_koopman_propagate(round_to: int = 6) -> str:
    """TransferOperatorModel projection replica (koopman.py:67-104):
    SQL re-derives the features and applies the literal f-space
    (U, mean_0), g-space (V, mean_t) and forward (sigma_k * f_k)
    expressions — coefficients from the independently-estimated
    covariances. Rounding goes through _sql_sround so half-way reprs
    match Spark bit-for-bit."""
    from deeptime_spark.decomposition.vamp import VAMP

    cov = _covariance_model(sf_dir(), 2, 3)
    model = VAMP(lagtime=2, dim=2).fit_from_covariances(cov)
    # parity quantization — see _q_koopman_propagate_events: snap both
    # engines' coefficient estimates to 1e-9 so the 1e-14 covariance
    # ulp noise cannot reach the per-row expressions
    sv = np.round(model.singular_values, 9)
    U = np.round(model.U, 9)
    V = np.round(model.V, 9)

    def proj(W, mu, k):
        return " + ".join(
            f"({_lit(float(W[j, k]))}) * ({_POW[j]} - ({_lit(float(mu[j]))}))"
            for j in range(3)
            if float(W[j, k]) != 0.0
        ) or "0.0"

    comps = []
    for k, name in enumerate(["f1", "f2"]):
        comps.append(f"{_sql_sround(proj(U, model.mean_0, k), round_to)} AS {name}")
    for k, name in enumerate(["g1", "g2"]):
        comps.append(f"{_sql_sround(proj(V, model.mean_t, k), round_to)} AS {name}")
    for k, name in enumerate(["fwd1", "fwd2"]):
        comps.append(
            _sql_sround(
                f"({_lit(float(sv[k]))}) * ({proj(U, model.mean_0, k)})",
                round_to,
            )
            + f" AS {name}"
        )
    return f"""
WITH {_traj_feature_cte()}
SELECT traj_id, t, {', '.join(comps)} FROM traj
"""


def oracle_dmd() -> str:
    cov = _covariance_model(sf_dir(), 1, 2, remove_mean=False, bessel=False)
    mxx, mxy = cov.cov_00, cov.cov_0t
    u, s, vt = np.linalg.svd(mxx, hermitian=True)
    r = int(np.sum(s > 1e-10 * s[0]))
    inv = vt[:r].T @ np.diag(1.0 / s[:r]) @ u[:, :r].T
    A = (inv @ mxy).T
    vals = np.linalg.eigvals(A)
    ev = np.sort_complex(vals[np.argsort(-np.abs(vals))])
    rows = [(i, round(float(ev[i].real), 6), round(float(ev[i].imag), 6)) for i in range(len(ev))]
    return _values_sql(rows, ["idx", "ev_re", "ev_im"], "bdd")


def oracle_kedmd() -> str:
    """Landmark pairs re-selected content-addressed (same md5 rule as
    _collect_pairs) from the DuckDB trajectory, then the same kernel
    solve — bit-exact when the Spark pairing matches."""
    import hashlib

    from deeptime_spark.kernels import GaussianKernel
    from deeptime_spark.numeric.eigen import sort_eigs

    sf = sf_dir()
    tid, t, _, _ = _traj(sf)
    feats = _event_features(sf, 2)
    lag, max_samples = 2, 500
    bounds = np.flatnonzero(np.r_[True, tid[1:] != tid[:-1], True])
    keyed = []
    for a, b in zip(bounds[:-1], bounds[1:]):
        if b - a > lag:
            for off in range(b - a - lag):
                h = hashlib.md5(f"{tid[a]}_{t[a + off]}".encode()).hexdigest()
                keyed.append((h, a + off))
    keyed.sort()
    idx = [i for _, i in keyed[:max_samples]]
    x = feats[idx]
    y = feats[[i + lag for i in idx]]
    kernel = GaussianKernel(1.0)
    gram_0 = kernel.gram(x)
    gram_1 = kernel.apply(x, y)
    A = np.linalg.solve(gram_0 + 1e-6 * np.eye(len(x)), gram_1.T)
    vals, vecs = np.linalg.eig(A)
    vals, _ = sort_eigs(vals, vecs)
    ev = np.sort_complex(vals[:3])
    rows = [(i, round(float(ev[i].real), 6), round(float(ev[i].imag), 6)) for i in range(len(ev))]
    return _values_sql(rows, ["idx", "ev_re", "ev_im"], "bdd")


def oracle_edmd() -> str:
    """EDMD replica: the monomial-dictionary covariances re-derived in
    numpy from the DuckDB trajectory (the Monomials(p=3, d=1) feature
    order IS v, v^2, v^3 — combinations_with_replacement ascending),
    then the identical epsilon-thresholded pinv + eig the estimator
    runs (decomposition/dmd.py:EDMD.fit)."""
    cov = _covariance_model(sf_dir(), 1, 3, remove_mean=False, bessel=False)
    u, s, vt = np.linalg.svd(cov.cov_00, hermitian=True)
    r = int(np.sum(s > 1e-10 * s[0]))
    inv = vt[:r].T @ np.diag(1.0 / s[:r]) @ u[:, :r].T
    K = inv @ cov.cov_0t
    vals, _ = np.linalg.eig(K)
    ev = np.sort_complex(vals[np.argsort(-np.abs(vals))])
    rows = [
        (i, round(float(ev[i].real), 6), round(float(ev[i].imag), 6))
        for i in range(len(ev))
    ]
    return _values_sql(rows, ["idx", "ev_re", "ev_im"], "bdd")


def _md5_sample_pairs(sf: str, lag: int, max_samples: int, n_powers: int):
    """The _collect_pairs landmark selection replayed from the DuckDB
    trajectory: the ``max_samples`` lagged pairs with the smallest
    md5(traj_id _ t) — identical to the kedmd oracle's selection."""
    import hashlib

    tid, t, _, _ = _traj(sf)
    feats = _event_features(sf, n_powers)
    bounds = np.flatnonzero(np.r_[True, tid[1:] != tid[:-1], True])
    keyed = []
    for a, b in zip(bounds[:-1], bounds[1:]):
        if b - a > lag:
            for off in range(b - a - lag):
                h = hashlib.md5(f"{tid[a]}_{t[a + off]}".encode()).hexdigest()
                keyed.append((h, a + off))
    keyed.sort()
    idx = [i for _, i in keyed[:max_samples]]
    x = feats[idx]
    y = feats[[i + lag for i in idx]]
    return x, y


def oracle_kcca() -> str:
    """KernelCCA replica (kernel_methods.py:KernelCCA.fit): rebuild the
    content-addressed sample, then the identical Gram centering +
    regularized product eigenproblem."""
    from deeptime_spark.kernels import GaussianKernel
    from deeptime_spark.numeric.eigen import sort_eigs

    x, y = _md5_sample_pairs(sf_dir(), 2, 400, 2)
    kernel = GaussianKernel(1.0)
    n = len(x)
    gram_0 = kernel.gram(x)
    gram_t = kernel.gram(y)
    eye = np.eye(n)
    N = eye - np.full((n, n), 1.0 / n)
    G_0 = N @ gram_0 @ N
    G_1 = N @ gram_t @ N
    K = np.linalg.solve(G_0 + 1e-6 * eye, G_0)
    Ak = np.linalg.solve(G_1 + 1e-6 * eye, G_1)
    vals, vecs = np.linalg.eig(K @ Ak)
    vals, vecs = sort_eigs(vals, vecs)
    ev = np.sort_complex(np.asarray(vals[:3]))
    rows = [
        (i, round(float(ev[i].real), 6), round(float(ev[i].imag), 6))
        for i in range(len(ev))
    ]
    return _values_sql(rows, ["idx", "ev_re", "ev_im"], "bdd")


def oracle_kvad() -> str:
    """KVAD replica (kernel_methods.py:KVAD.fit): same sample, same
    whitening (spd_inv_sqrt), same embedded objective + truncated SVD,
    same score = sum(svals) + mean(G_yy)."""
    from deeptime_spark.decomposition.kernel_methods import spd_truncated_svd
    from deeptime_spark.kernels import GaussianKernel
    from deeptime_spark.numeric.eigen import spd_inv_sqrt

    chi_x, chi_y = _md5_sample_pairs(sf_dir(), 2, 400, 2)
    kernel = GaussianKernel(1.0)
    n = len(chi_x)
    g_yy = kernel.gram(chi_y)
    mean_x = chi_x.mean(axis=0)
    cov = (chi_x - mean_x).T @ (chi_x - mean_x) / (n - 1)
    W = spd_inv_sqrt(cov, epsilon=1e-6)
    chi_x_w = (chi_x - mean_x) @ W.T
    x_g_x = chi_x_w.T @ g_yy @ chi_x_w / (n * n)
    svals, _ = spd_truncated_svd(x_g_x, dim=2, eps=1e-6)
    score = float(np.sum(svals) + np.mean(g_yy))
    rows = [(f"sv{i}", round(float(sv), 6)) for i, sv in enumerate(svals)]
    rows.append(("score", round(score, 6)))
    return _values_sql(rows, ["kind", "val"], "sd")


def oracle_minibatch_kmeans() -> str:
    """MiniBatchKMeans replica (clustering/kmeans.py:partial_fit): the
    vec_id-ordered embeddings ARE the single sorted partition the
    harness feeds, initial centers = first 4 rows, full batches; the
    per-epoch assignment / accumulation / running-mean update is the
    same numpy the Arrow workers run, in the same row order."""
    X = _embeddings(sf_dir())
    centers = X[:4].copy()
    counts = np.ones(4)
    inertias: list = []
    tol = 1e-5
    for _ in range(3):
        d2 = (
            np.einsum("ij,ij->i", X, X)[:, None]
            - 2.0 * (X @ centers.T)
            + np.einsum("ij,ij->i", centers, centers)[None, :]
        )
        a = np.argmin(d2, axis=1)
        cost = float(np.clip(d2[np.arange(len(a)), a], 0.0, None).sum())
        sums = np.zeros_like(centers)
        cnt = np.zeros(4)
        np.add.at(sums, a, X)
        np.add.at(cnt, a, 1.0)
        counts += cnt
        mask = cnt > 0
        eta = (cnt[mask] / counts[mask])[:, None]
        centers[mask] = (1 - eta) * centers[mask] + eta * (
            sums[mask] / cnt[mask][:, None]
        )
        converged = bool(inertias) and cost != 0.0 and abs(
            cost - inertias[-1]
        ) / cost <= tol
        inertias.append(cost)
        if converged:
            break
    rows = [
        ("center", i, j, round(float(centers[i, j]), 6))
        for i in range(4)
        for j in range(centers.shape[1])
    ] + [("inertia", e, -1, round(float(c), 6)) for e, c in enumerate(inertias)]
    return _values_sql(rows, ["kind", "i", "j", "val"], "sbbd")


def oracle_tv_derivative() -> str:
    """TV-derivative replica: the identical solver
    (sindy/tv_derivative.py:tv_derivative) on each DuckDB-ordered
    per-trajectory series."""
    from deeptime_spark.sindy.tv_derivative import tv_derivative

    tid, t, value, _ = _traj(sf_dir())
    v = value / 100.0
    bounds = np.flatnonzero(np.r_[True, tid[1:] != tid[:-1], True])
    rows = []
    for a, b in zip(bounds[:-1], bounds[1:]):
        d = tv_derivative(
            t[a:b].astype(np.float64), v[a:b], alpha=10.0, maxit=10, tol=None
        )
        rows.extend(
            (int(tid[a]), int(t[a + i]), _spark_round(float(d[i]), 6))
            for i in range(b - a)
        )
    return _values_sql(rows, ["traj_id", "t", "dvalue_tv"], "bbd")


def oracle_vamp_cv() -> str:
    """Cross-validated VAMP-2 replica (vamp.py:vamp_score_cv): blocks of
    10 frames rebuilt from the DuckDB trajectory, fold masks through the
    spark_hashes XXH64 replica (string block_id with seed 42, then the
    IntegerType fold-seed literal hashed with the running hash as seed —
    Spark's multi-arg xxhash64 fold), per-fold covariances from the
    retained blocks' lagged pairs, the same fit_from_covariances +
    vamp_score."""
    import struct

    from deeptime_spark.covariance import CovarianceModel
    from deeptime_spark.decomposition.vamp import VAMP, vamp_score
    from deeptime_spark.operators.moments import MomentsResult
    from deeptime_spark.spark_hashes import xxhash64

    sf = sf_dir()
    tid, t, _, _ = _traj(sf)
    feats = _event_features(sf, 2)
    bs, lag, rs = 10, 1, 42
    bid = np.array([f"{tid[i]}_{t[i] // bs}" for i in range(len(tid))])
    bounds = np.flatnonzero(np.r_[True, bid[1:] != bid[:-1], True])

    def covm(Xs, Ys):
        X = np.concatenate(Xs)
        Y = np.concatenate(Ys)
        m = MomentsResult(
            weight_sum=float(len(X)),
            sx=X.sum(axis=0),
            mxx=X.T @ X,
            sy=Y.sum(axis=0),
            mxy=X.T @ Y,
            myy=Y.T @ Y,
        )
        c00, c0t, ctt, mx, my = m.covariances(
            remove_mean=True, bessels_correction=True, symmetrize=False
        )
        return CovarianceModel(
            cov_00=c00, cov_0t=c0t, cov_tt=ctt, mean_0=mx, mean_t=my,
            bessels_correction=True, symmetrized=False, lagtime=lag,
            weight_sum=float(len(X)),
        )

    rows = []
    for fold in range(4):
        tr_x, tr_y, te_x, te_y = [], [], [], []
        for a, b in zip(bounds[:-1], bounds[1:]):
            if b - a <= lag:
                continue
            h = xxhash64(str(bid[a]).encode(), 42)
            h = xxhash64(struct.pack("<i", rs + fold), h)
            X, Y = feats[a : b - lag], feats[a + lag : b]
            if h % 2 == 0:
                te_x.append(X)
                te_y.append(Y)
            else:
                tr_x.append(X)
                tr_y.append(Y)
        model = VAMP(lagtime=lag).fit_from_covariances(covm(tr_x, tr_y))
        score = vamp_score(model, r="VAMP2", covariances_test=covm(te_x, te_y))
        rows.append((fold, round(float(score), 6)))
    return _values_sql(rows, ["fold", "score"], "bd")


# monomial features spelled as chained products — bit-identical to the
# Spark column expressions v, v*v, (v*v)*v (pow() is not guaranteed exact)
_POW = ["v", "(v * v)", "(v * v * v)"]


def _traj_feature_cte() -> str:
    """DuckDB CTE reconstructing (traj_id, t, v) from events."""
    return f"""
traj AS (
  SELECT user_id AS traj_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS t,
         value / 100.0 AS v
  FROM events
)
"""


def oracle_tica(round_to: int = 6) -> str:
    """SQL re-derives the features and applies the literal projection
    (x - mean) @ U — coefficient matrix from the independently-estimated
    covariances."""
    from deeptime_spark.decomposition.tica import TICA

    cov = _covariance_model(sf_dir(), 2, 3, reversible=True)
    model = TICA(lagtime=2, dim=2).fit_from_covariances(cov)
    U = model.U  # (3, 2)
    mu = model.mean_0
    comps = []
    for k, name in enumerate(["ic1", "ic2"]):
        terms = " + ".join(
            f"({_lit(float(U[j, k]))}) * ({_POW[j]} - ({_lit(float(mu[j]))}))"
            for j in range(3)
            if float(U[j, k]) != 0.0
        )
        comps.append(f"round({terms}, {round_to}) AS {name}")
    return f"""
WITH {_traj_feature_cte()}
SELECT traj_id, t, {', '.join(comps)} FROM traj
"""


def oracle_koopman_weights(round_to: int = 6) -> str:
    """weight(x) = u . x + const with literal (u, const) from the
    independently-estimated Koopman reweighting; features re-derived in SQL."""
    from deeptime_spark.numeric.eigen import spd_inv_split

    cov = _covariance_model(sf_dir(), 2, 2, remove_mean=True, bessel=False)
    R = spd_inv_split(cov.cov_00, epsilon=1e-6)
    K = R.T @ cov.cov_0t @ R
    N = K.shape[0] + 1
    Kext = np.zeros((N, N))
    Kext[:-1, :-1] = K
    Kext[-1, :-1] = (cov.mean_t - cov.mean_0) @ R
    Kext[-1, -1] = 1.0
    vals, vecs = np.linalg.eig(Kext.T)
    i = int(np.argmin(np.abs(vals - 1.0)))
    u_ext = np.real(vecs[:, i])
    v = R @ u_ext[:-1]
    const = u_ext[-1] - np.dot(cov.mean_0, v)
    denom = np.dot(cov.mean_0, v) + const
    u = v / denom
    c = const / denom
    expr = f"({_lit(float(c))}) + ({_lit(float(u[0]))}) * v + ({_lit(float(u[1]))}) * (v * v)"
    return f"""
WITH {_traj_feature_cte()}
SELECT traj_id, t, round({expr}, {round_to}) AS weight FROM traj
"""


def oracle_embedding_whiten(round_to: int = 6) -> str:
    """y = W (x - mu) with W = C00^{-1/2} (symmetric, hence sign-unique)
    from an independent numpy covariance over the embeddings; the SQL
    re-derives x and applies the literal first two rows of W."""
    from deeptime_spark.numeric.eigen import spd_inv_sqrt

    sf = sf_dir()
    con = duckdb.connect()
    X = np.stack(
        con.execute(
            f"SELECT CAST(embedding AS DOUBLE[]) FROM read_parquet('{sf}/embeddings.parquet') ORDER BY vec_id"
        ).fetchnumpy()["CAST(embedding AS DOUBLE[])"]
    ).astype(np.float64)
    w = X.shape[0]
    mu = X.sum(axis=0) / w
    C = (X.T @ X - w * np.outer(mu, mu)) / (w - 1.0)
    W = spd_inv_sqrt(C, epsilon=1e-10)
    comps = []
    for k, name in enumerate(["w0", "w1"]):
        terms = " + ".join(
            f"({_lit(float(W[k, j]))}) * (e[{j + 1}] - ({_lit(float(mu[j]))}))"
            for j in range(X.shape[1])
        )
        comps.append(f"round({terms}, {round_to}) AS {name}")
    return f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
SELECT vec_id, {', '.join(comps)} FROM emb
"""


# ------------------------------------------------------------- public

def oracle_sindy(round_to: int = 6) -> str:
    """SINDy equation coefficients, layer-1 recomputed in numpy: the
    per-trajectory FD derivative (same stencils as sindy.with_derivative
    — central interior, second-order one-sided at trajectory edges,
    trajectories shorter than 3 dropped), monomial features [1, v, v^2]
    with v = value/100, normal-equation gramians, and the shared STLSQ
    finalize at threshold 0 (pure least squares — scale-invariant, so
    raw sums here vs Spark's moment normalization agree to rounding)."""
    from deeptime_spark.sindy import STLSQ

    sf = sf_dir()
    tid, t, value, _ = _traj(sf)
    v = value / 100.0
    bounds = np.flatnonzero(np.r_[True, tid[1:] != tid[:-1], True])
    xs, dots = [], []
    for a, b in zip(bounds[:-1], bounds[1:]):
        seg = v[a:b]
        n = len(seg)
        if n < 3:
            continue
        d = np.empty(n)
        d[1:-1] = (seg[2:] - seg[:-2]) / 2.0
        d[0] = (-3.0 * seg[0] + 4.0 * seg[1] - seg[2]) / 2.0
        d[-1] = (3.0 * seg[-1] - 4.0 * seg[-2] + seg[-3]) / 2.0
        xs.append(seg)
        dots.append(d)
    x = np.concatenate(xs)
    xdot = np.concatenate(dots)
    theta = np.stack([np.ones_like(x), x, x * x], axis=1)
    G = theta.T @ theta
    B = theta.T @ xdot[:, None]
    Xi = STLSQ(threshold=0.0, alpha=0.0).solve(G, B)
    names = ["1", "x0", "x0*x0"]
    rows = [
        (i, names[i], round(float(Xi[0, i]), round_to)) for i in range(len(names))
    ]
    return _values_sql(rows, ["idx", "feature", "coef"], "bsd")


def oracle_bpe() -> str:
    """Full BPE replay: word counts from the DuckDB corpus (layer 1,
    independent of Spark), then the same deterministic merge loop and
    greedy encoder (shared finalize — every statistic is an exact
    integer, so any Spark-side word-count deviation fails the compare)."""
    from collections import Counter

    from deeptime_spark.operators.bpe import encode_word, train_bpe_from_counts

    docs = _docs(sf_dir())
    wc: Counter = Counter()
    per_doc = []
    for doc_id, text in docs:
        ws = [w for w in _tokens_py(text or "") if w]
        per_doc.append((doc_id, ws))
        wc.update(ws)
    # mirror collect_word_counts defaults exactly: min_count=2 AND the
    # top_k_words=1_000_000 distributed cut (count desc, word asc) — on a
    # corpus with >1M distinct kept words the Spark side trains on the
    # truncated dictionary, so the oracle must too
    counts = [
        (w, n)
        for w, n in sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
        if n >= 2
    ][:1_000_000]
    merges = train_bpe_from_counts(counts, n_merges=120, min_pair_count=2)
    ranks = {p: i for i, p in enumerate(merges)}
    cache: dict = {}
    rows = []
    for doc_id, ws in per_doc:
        nb = 0
        for w in ws:
            v = cache.get(w)
            if v is None:
                v = len(encode_word(w, ranks))
                cache[w] = v
            nb += v
        rows.append((doc_id, len(ws), nb))
    return _values_sql(rows, ["doc_id", "n_words", "n_bpe_tokens"], "bbb")


def oracle_sql_surface() -> str:
    """Replay of the dt_* SQL-surface query: token counts from the split
    mirror (empty-text edge included) and SimHash from the XXH64 replica
    — identical construction to oracle_simhash_pairs' signature stage."""
    from deeptime_spark.spark_hashes import xxhash64

    rows = []
    for doc_id, text in _docs(sf_dir()):
        toks = _tokens_py(text or "")
        hs = np.array([xxhash64(t.encode()) for t in toks], dtype=np.int64)
        hu = hs.view(np.uint64)
        sim = 0
        n = len(hu)
        for p in range(64):
            ones = int(((hu >> np.uint64(p)) & np.uint64(1)).sum())
            if 2 * ones - n > 0:
                sim |= 1 << p
        sim = sim - (1 << 64) if sim >= (1 << 63) else sim
        rows.append((doc_id, len(toks), sim))
    return _values_sql(rows, ["doc_id", "n_tokens", "simhash"], "bbb")


def oracle_generator_msm() -> str:
    """Exact replay of the generator round trip: same per-trajectory
    PCG64 seeds through the same simulate_msm, counting re-derived in
    numpy (integers), same reversible-MLE finalize on the largest
    connected submodel — bit-exact by construction."""
    from deeptime_spark.data.generators import BirthDeathChain, simulate_msm
    from deeptime_spark.markov.msm import transition_matrix_reversible
    from deeptime_spark.markov.transition_counting import TransitionCountModel

    n, n_traj, n_steps = 9, 48, 400
    q = np.r_[0.0, [0.25] * (n - 1)]
    p = np.r_[[0.25] * (n - 1), 0.0]
    T = BirthDeathChain(q, p).transition_matrix
    C = np.zeros((n, n), dtype=np.int64)
    hist = np.zeros(n, dtype=np.int64)
    for tid in range(n_traj):
        d = simulate_msm(T, n_steps, start=tid % n, seed=1000 + tid)
        np.add.at(hist, d, 1)
        np.add.at(C, (d[:-1], d[1:]), 1)
    tcm = TransitionCountModel(
        C.astype(np.float64), counting_mode="sliding", lagtime=1, state_histogram=hist
    )
    sub = tcm.submodel_largest(directed=True)
    Tm, pi = transition_matrix_reversible(
        np.asarray(sub.count_matrix, dtype=np.float64), return_statdist=True
    )
    # map submodel pi back to full state ids (BDC with these params is
    # fully connected in practice; the mapping keeps the general case honest)
    full_pi = np.zeros(n)
    for i, s in enumerate(np.asarray(sub.state_symbols)):
        full_pi[int(s)] = pi[i]
    rows = [(s, int(hist[s]), round(float(full_pi[s]), 6)) for s in range(n)]
    return _values_sql(rows, ["state", "n_visits", "pi"], "bbd")


# Label rule for the quality classifier oracle — the same DuckDB Gopher
# flag the green doc_gopher_quality oracle emits (duplicated from the
# harness SQL deliberately: if the rules drift apart, the classifier
# query goes red rather than silently diverging).
_GOPHER_LABEL_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
         string_split(text, chr(10)) AS lines
  FROM read_parquet('{sf}/documents.parquet')
)
SELECT doc_id,
  CAST(len(toks) BETWEEN 50 AND 100000
       AND (CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / greatest(len(toks), 1)) BETWEEN 3.0 AND 10.0
       AND (CAST(length(text) - length(replace(text, '#', '')) + len(regexp_extract_all(text, '\.\.\.|…')) AS DOUBLE) / greatest(len(toks), 1)) < 0.1
       AND (CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•‣▶]'))) AS DOUBLE) / greatest(len(lines), 1)) < 0.9
       AND (CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE) / greatest(len(lines), 1)) < 0.3
       AND (CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / greatest(len(toks), 1)) >= 0.8
       AND len(list_filter(['the','be','to','of','and','that','have','with'],
                           w -> list_contains(toks, w))) >= 2 AS BIGINT) AS y
FROM base
"""


def oracle_quality_classifier(round_to: int = 6) -> str:
    """Naive-Bayes quality classifier replay: labels from the DuckDB
    Gopher rules (layer 1 — the same SQL the green doc_gopher_quality
    oracle uses), per-class integer token counts from the token replica,
    then the identical log-prob finalize and in-token-order scoring."""
    import math
    from collections import Counter

    con = duckdb.connect()
    sf = sf_dir()
    labels = dict(con.execute(_GOPHER_LABEL_SQL.format(sf=sf)).fetchall())
    per_class = {0: Counter(), 1: Counter()}
    per_doc = []
    n_docs = {0: 0, 1: 0}
    for doc_id, text in _docs(sf):
        # NULL text makes every DuckDB rule condition NULL -> y is None;
        # Spark's flag casts the same false-y outcome to 0
        y = int(labels[doc_id] or 0)
        ws = [w for w in _tokens_py(text or "") if w]
        per_doc.append((doc_id, ws))
        per_class[y].update(ws)
        n_docs[y] += 1
    smoothing, vocab_size = 1.0, 50_000
    totals = per_class[0] + per_class[1]
    vocab = [w for w, _ in sorted(totals.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]]
    t_good = sum(per_class[1].get(w, 0) for w in vocab)
    t_bad = sum(per_class[0].get(w, 0) for w in vocab)
    V = len(vocab)
    prior = math.log((n_docs[1] + smoothing) / (n_docs[0] + smoothing))
    delta = {
        w: (
            math.log((per_class[1].get(w, 0) + smoothing) / (t_good + smoothing * (V + 1)))
            - math.log((per_class[0].get(w, 0) + smoothing) / (t_bad + smoothing * (V + 1)))
        )
        for w in vocab
    }
    oov = (
        math.log(smoothing / (t_good + smoothing * (V + 1)))
        - math.log(smoothing / (t_bad + smoothing * (V + 1)))
    )
    rows = []
    for doc_id, ws in per_doc:
        lp = np.array([delta.get(w, oov) for w in ws], dtype=np.float64)
        lo = prior + (float(np.cumsum(lp)[-1]) if len(lp) else 0.0)
        rows.append((doc_id, len(ws), round(lo, round_to), 1 if lo > 0 else 0))
    return _values_sql(rows, ["doc_id", "n_tokens", "log_odds", "pred_good"], "bbdb")


def oracle_rate_matrix() -> str:
    """Rate-matrix estimation replay (markov/rate_matrix.py): same DuckDB
    count matrix the green msm_pi oracle derives, then the identical
    driver-side estimators — 'pseudo' (first-order), 'KL'
    (Kalbfleisch-Lawless likelihood, projected-BB optimizer), 'CVE'
    (Crommelin–Vanden-Eijnden spectral matching). All deterministic
    numpy; what the comparison verifies is the distributed counting.
    ('truncated_log' is omitted: the event chain at lag 1 mixes too fast
    to be embeddable — logm(T) has complex branches and the operator
    raises, by design.)"""
    from deeptime_spark.markov.rate_matrix import estimate_rate_matrix

    _, sub = _msm(sf_dir(), 1)
    C = np.asarray(sub.count_matrix, dtype=np.float64)
    rows = []
    for method in ("pseudo", "KL", "CVE"):
        K = estimate_rate_matrix(C, method=method)
        n = K.shape[0]
        for i in range(n):
            for j in range(n):
                rows.append((method, i, j, float(K[i, j])))
    return _values_sql(rows, ["method", "i", "j", "k_rate"], "sbbd")


def _two_step_counts_np(sf: str) -> tuple[np.ndarray, np.ndarray]:
    """(Ct, C2t) at lag 1 from the ordered dtraj arrays — the numpy
    mirror of transition_counts_df (sliding) + two_step_counts_df:
    per-trajectory leads, negative states excluded from every tuple."""
    tid, _, _, state = _traj(sf)
    n = int(state.max()) + 1
    bounds = np.flatnonzero(np.r_[True, tid[1:] != tid[:-1], True])
    Ct = np.zeros((n, n))
    C2t = np.zeros((n, n, n))
    for a, b in zip(bounds[:-1], bounds[1:]):
        s = state[a:b]
        if b - a >= 2:
            m = (s[:-1] >= 0) & (s[1:] >= 0)
            np.add.at(Ct, (s[:-1][m], s[1:][m]), 1.0)
        if b - a >= 3:
            m2 = (s[:-2] >= 0) & (s[1:-1] >= 0) & (s[2:] >= 0)
            np.add.at(C2t, (s[:-2][m2], s[1:-1][m2], s[2:][m2]), 1.0)
    return Ct, C2t


def oracle_oom() -> str:
    """OOM-reweighted MSM replay (markov/oom.py): one-step + two-step
    count tensors re-derived in numpy from the ordered dtraj, then the
    SAME shared driver routine (oom_estimate_from_counts) the Spark
    estimator calls after its counting jobs collect — the comparison
    verifies the distributed one-/two-step counting."""
    from deeptime_spark.markov.oom import oom_estimate_from_counts

    Ct, C2t = _two_step_counts_np(sf_dir())
    T, symbols, _, oom_vals = oom_estimate_from_counts(Ct, C2t, nbs=100, seed=3)
    rows = []
    for i in range(T.shape[0]):
        for j in range(T.shape[0]):
            rows.append((int(symbols[i]), int(symbols[j]), float(T[i, j])))
    return _values_sql(rows, ["s_from", "s_to", "t_prob"], "bbd")


def oracle_amm() -> str:
    """Augmented-MSM replay (markov/amm.py, Olsson et al. PNAS'17): the
    DuckDB count submodel, observable = state id, experimental target =
    unbiased expectation + 0.25 at weight 20 — same fixed-point
    optimizer driver-side; the distributed part under test is the
    counting."""
    from deeptime_spark.markov.amm import AugmentedMSMEstimator

    msm, sub = _msm(sf_dir(), 1)
    pi = msm.stationary_distribution
    symbols = np.asarray(sub.state_symbols)
    E = symbols.astype(np.float64)[:, None]
    m_unb = float(pi @ E[:, 0])
    amm = AugmentedMSMEstimator(E, [m_unb + 0.25], [20.0]).fit(sub).fetch_model()
    pa = amm.stationary_distribution
    mh = float(amm.m_hat[0])
    rows = [
        (int(symbols[i]), float(pa[i]), mh, m_unb) for i in range(len(symbols))
    ]
    return _values_sql(rows, ["state", "pi_amm", "m_hat", "m_unbiased"], "bddd")


def oracle_sensitivity() -> str:
    """Sensitivity-matrix replay (markov/sensitivity.py): first-order
    perturbation matrices of the slowest eigenvalue, the MFPT-to-0 of
    state 1, and pi[0], on the same reversible-MLE T the green msm_pi
    oracle builds."""
    from deeptime_spark.markov import sensitivity as sens

    msm, _ = _msm(sf_dir(), 1)
    P = msm.transition_matrix
    mats = [
        ("eigenvalue_1", sens.eigenvalue_sensitivity(P, 1)),
        ("mfpt0_state1", sens.mfpt_sensitivity(P, 0, 1)),
        ("pi_state0", sens.stationary_distribution_sensitivity(P, 0)),
    ]
    rows = []
    for kind, S in mats:
        for i in range(S.shape[0]):
            for j in range(S.shape[1]):
                rows.append((kind, i, j, float(S[i, j])))
    return _values_sql(rows, ["kind", "i", "j", "dval"], "sbbd")


def _event_feature_trajs() -> list:
    """[(traj_id, X)] with X = value/100 as a (T, 1) float64 array, in
    sorted-trajectory order — the numpy mirror of the deep-estimator
    harness input (_event_traj + the /100 feature select)."""
    tid, _, value, _ = _traj(sf_dir())
    x = (value / 100.0)[:, None]
    bounds = np.flatnonzero(np.r_[True, tid[1:] != tid[:-1], True])
    return [
        (int(tid[a]), x[a:b]) for a, b in zip(bounds[:-1], bounds[1:])
    ]


def oracle_vampnet() -> str:
    """Full driver-side replay of the distributed VAMPNet training
    (decomposition/deep.py:vampnet_train_arrays — the IDENTICAL per-traj
    kernels + sorted reduce + Adam the Spark estimator runs, with every
    long-axis reduction routed through thread-count-independent einsum
    kernels), emitting the per-epoch VAMP-2 score curve."""
    from deeptime_spark.decomposition.deep import vampnet_train_arrays

    _, scores = vampnet_train_arrays(
        _event_feature_trajs(), [1, 16, 4], tau=1, n_epochs=6, lr=0.05, seed=42
    )
    rows = [(e, float(s)) for e, s in enumerate(scores)]
    return _values_sql(rows, ["epoch", "vamp2_score"], "bd")


def oracle_tae() -> str:
    """Driver-side replay of the distributed TAE training
    (decomposition/deep.py:tae_train_arrays), emitting the per-epoch
    MSE curve."""
    from deeptime_spark.decomposition.deep import tae_train_arrays

    _, losses = tae_train_arrays(
        _event_feature_trajs(), [1, 8, 2, 8, 1], tau=1, n_epochs=8, lr=0.02, seed=42
    )
    rows = [(e, float(v)) for e, v in enumerate(losses)]
    return _values_sql(rows, ["epoch", "mse"], "bd")


def oracle_tvae() -> str:
    """Driver-side replay of the distributed TVAE training
    (decomposition/deep.py:tvae_train_arrays — counter-based
    reparametrization noise keyed by (seed, epoch, traj_id) makes the
    stochastic estimator exactly replayable)."""
    from deeptime_spark.decomposition.deep import tvae_train_arrays

    _, losses = tvae_train_arrays(
        _event_feature_trajs(), 1, 8, 2, tau=1, n_epochs=8, beta=0.1,
        lr=0.02, seed=42,
    )
    rows = [(e, float(v)) for e, v in enumerate(losses)]
    return _values_sql(rows, ["epoch", "loss"], "bd")


def oracle_kvadnet() -> str:
    """Driver-side replay of KVADNet: rebuild the content-addressed
    sample (the harness's _collect_pairs selection — smallest
    md5(f"{traj_id}_{t}") over lag-1 pairs) from the ordered dtraj
    arrays, then the identical seeded training
    (decomposition/deep.py:kvadnet_train_arrays)."""
    import hashlib

    from deeptime_spark.decomposition.deep import kvadnet_train_arrays

    trajs = _event_feature_trajs()
    keyed = []
    for tid, X in trajs:
        for t in range(len(X) - 1):
            keyed.append(
                (hashlib.md5(f"{tid}_{t}".encode()).hexdigest(), X[t], X[t + 1])
            )
    keyed.sort(key=lambda r: r[0])
    sample = keyed[:1500]
    x = np.array([r[1] for r in sample])
    y = np.array([r[2] for r in sample])
    _, scores = kvadnet_train_arrays(
        x, y, [1, 16, 2], sigma=1.0, n_epochs=10, lr=0.02, seed=42
    )
    rows = [(e, float(v)) for e, v in enumerate(scores)]
    return _values_sql(rows, ["epoch", "kvad_score"], "bd")


_BUILDERS = {
    "vampnet_events": oracle_vampnet,
    "tae_events": oracle_tae,
    "tvae_events": oracle_tvae,
    "kvadnet_events": oracle_kvadnet,
    "rate_matrix_events": oracle_rate_matrix,
    "oom_events": oracle_oom,
    "amm_events": oracle_amm,
    "sensitivity_events": oracle_sensitivity,
    "msm_pi_events": oracle_msm_pi,
    "sindy_events": oracle_sindy,
    "bpe_tokens": oracle_bpe,
    "doc_sql_surface": oracle_sql_surface,
    "generator_msm_roundtrip": oracle_generator_msm,
    "doc_quality_classifier": oracle_quality_classifier,
    "msm_its_events": oracle_msm_its,
    "msm_ck_events": oracle_msm_ck,
    "pcca_events": oracle_pcca,
    "msm_longtail_events": oracle_msm_longtail,
    "tpt_events": oracle_tpt,
    "bayes_msm_events": oracle_bayes_msm,
    "effective_counts_events": oracle_effective_counts,
    "vamp_events": oracle_vamp,
    "vamp_score_events": oracle_vamp_score,
    "vamp_score_data_events": oracle_vamp_score_data,
    "koopman_propagate_events": oracle_koopman_propagate,
    "dmd_events": oracle_dmd,
    "kedmd_events": oracle_kedmd,
    "edmd_events": oracle_edmd,
    "kcca_events": oracle_kcca,
    "kvad_events": oracle_kvad,
    "minibatch_kmeans_events": oracle_minibatch_kmeans,
    "tv_derivative_events": oracle_tv_derivative,
    "vamp_cv_events": oracle_vamp_cv,
    "tica_events": oracle_tica,
    "koopman_weights_events": oracle_koopman_weights,
    "embedding_whiten": oracle_embedding_whiten,
}


def estimator_oracles() -> dict[str, str]:
    """Build every estimator oracle; builders that raise are skipped so a
    single failure degrades one query to rows-only instead of breaking the
    whole harness (the round-3 lesson)."""
    out = {}
    for name, builder in _BUILDERS.items():
        try:
            out[name] = builder()
        except Exception:  # noqa: BLE001 — isolation is the point
            continue
    return out


# ----------------------------------------------- LLM-op oracles
# These re-derive the LSH / fingerprint bucketing decisions with the
# engine-independent Spark-hash replicas (spark_hashes.py) and plain
# Python/numpy text processing — nothing below touches Spark.

import re as _re
from decimal import ROUND_HALF_UP, Decimal


def _spark_round(x: float, scale: int = 6) -> float:
    """Mirror of Spark's F.round: HALF_UP on the shortest decimal repr
    (BigDecimal.valueOf semantics). Python's round() is HALF_EVEN and
    disagrees on exact .5 boundaries (e.g. k/128 at 7 decimals)."""
    return float(Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP))


_WS = _re.compile(r"[ \t\n\x0b\f\r]+")


@lru_cache(maxsize=4)
def _docs(sf: str):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    return [(int(i), t) for i, t in rows]


def _norm_text(t: str) -> str:
    """Mirror of regexp_replace(trim(lower(c)), '\\s+', ' '): lowercase,
    strip 0x20 only (Spark trim), collapse Java-\\s runs to one space."""
    return _WS.sub(" ", t.lower().strip(" "))


def _shingle_set(norm: str, k: int = 5) -> list[str]:
    if len(norm) < k:
        return [norm]
    return list({norm[i : i + k] for i in range(len(norm) - k + 1)})


def _tokens_py(t: str) -> list[str]:
    """Mirror of F.split(trim(lower(c)), '\\s+') with limit -1 (leading
    AND trailing empty tokens kept, like Spark)."""
    return _WS.split(t.lower().strip(" "))


def _word_ngram_set(t: str, n: int = 3) -> set[str]:
    norm = _norm_text(t)
    toks = norm.split(" ") if norm else [""]
    if len(toks) < n:
        return {norm}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _shingle_hashes(shingles: list[str], k: int = 5) -> np.ndarray:
    """murmur3(seed 42) of each shingle — vectorized for the fixed-length
    ASCII fast path, scalar fallback otherwise."""
    from deeptime_spark.spark_hashes import murmur3_32, murmur3_32_fixed

    enc = [s.encode() for s in shingles]
    if enc and all(len(b) == k for b in enc):
        arr = np.frombuffer(b"".join(enc), dtype=np.uint8).reshape(len(enc), k)
        return murmur3_32_fixed(arr, 42)
    return np.array([murmur3_32(b, 42) for b in enc], dtype=np.int32)


@lru_cache(maxsize=4)
def _minhash_sigs(sf: str, n_hashes: int = 32, shingle_k: int = 5):
    """(doc_id -> int32 signature array) mirroring minhash_signatures_df:
    sig[i] = min over distinct shingles of hash(shingle, lit(i))."""
    from deeptime_spark.spark_hashes import murmur3_int32_vec

    sigs = {}
    for doc_id, text in _docs(sf):
        sh = _shingle_set(_norm_text(text), shingle_k)
        inner = _shingle_hashes(sh, shingle_k)
        sig = np.empty(n_hashes, dtype=np.int64)
        for i in range(n_hashes):
            sig[i] = int(murmur3_int32_vec(i, inner).min())
        sigs[doc_id] = sig
    return sigs


def _bucket_pairs_py(buckets: dict, max_bucket: int = 256):
    """Mirror of _cap_buckets + _bucket_pairs: members sorted by id,
    truncated to the max_bucket lowest ids, all (i < j) pairs."""
    seen = set()
    for members in buckets.values():
        ids = sorted(set(members))[:max_bucket]
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                seen.add((ids[a], ids[b]))
    return seen


def _minhash_candidates(sf: str, n_hashes: int = 32, bands: int = 8):
    from deeptime_spark.spark_hashes import xxhash64

    sigs = _minhash_sigs(sf, n_hashes)
    r = n_hashes // bands
    buckets: dict = {}
    for doc_id, sig in sigs.items():
        for b in range(bands):
            block = sig[b * r : (b + 1) * r]
            key_str = "[" + ", ".join(str(int(v)) for v in block) + "]"
            buckets.setdefault((b, xxhash64(key_str.encode())), []).append(doc_id)
    return _bucket_pairs_py(buckets), sigs


def oracle_minhash_bands() -> str:
    pairs, sigs = _minhash_candidates(sf_dir())
    rows = []
    for a, b in sorted(pairs):
        est = float(np.sum(sigs[a] == sigs[b])) / 32.0
        rows.append((a, b, _spark_round(est, 6)))
    return _values_sql(rows, ["id_a", "id_b", "est_jaccard"], "bbd")


def oracle_dedup_verified_pairs() -> str:
    sf = sf_dir()
    pairs, _ = _minhash_candidates(sf)
    grams = {i: _word_ngram_set(t) for i, t in _docs(sf)}
    rows = []
    for a, b in sorted(pairs):
        ga, gb = grams[a], grams[b]
        j = len(ga & gb) / max(len(ga | gb), 1)
        if j >= 0.2:
            rows.append((a, b, _spark_round(j, 6)))
    return _values_sql(rows, ["id_a", "id_b", "jaccard"], "bbd")


def _token_set(t: str) -> list[str]:
    return sorted({w for w in _tokens_py(t or "") if w})


def _ppjoin_exact_pairs(docs: list, pct: int) -> set:
    """Exact token-Jaccard >= pct/100 pair set via the same prefix-filter
    algorithm ppjoin_pairs runs (rarest-token prefix equi-join + integer
    length filter + exact verification) — exactness means ANY correct
    prefix-filter implementation returns the identical set."""
    from collections import Counter

    toks = {i: _token_set(t) for i, t in docs}
    toks = {i: ts for i, ts in toks.items() if ts}
    df = Counter()
    for ts in toks.values():
        df.update(ts)
    order = {i: sorted(ts, key=lambda w: (df[w], w)) for i, ts in toks.items()}
    buckets: dict = {}
    for i, ranked in order.items():
        sz = len(ranked)
        p = sz - (pct * sz + 99) // 100 + 1
        for w in ranked[:p]:
            buckets.setdefault(w, []).append(i)
    seen = set()
    out = set()
    for members in buckets.values():
        ms = sorted(set(members))
        for x in range(len(ms)):
            for y in range(x + 1, len(ms)):
                a, b = ms[x], ms[y]
                if (a, b) in seen:
                    continue
                seen.add((a, b))
                sa, sb = len(toks[a]), len(toks[b])
                if 100 * min(sa, sb) < pct * max(sa, sb):
                    continue
                inter = len(set(toks[a]) & set(toks[b]))
                union = sa + sb - inter
                if 100 * inter >= pct * union:
                    out.add((a, b))
    return out


def _word_minhash_candidates(docs: list, n_hashes: int, bands: int,
                             max_bucket: int = 256) -> set:
    """Token-set MinHash banding replica (unit='words'): murmur3(token,
    seed 42) inner hashes, sig[i] = min murmur3_int32(i, seed=inner),
    band key = xxhash64 of the sliced array's string render — the same
    chain the chars-unit _minhash_candidates replays."""
    from deeptime_spark.spark_hashes import murmur3_32, murmur3_int32_vec, xxhash64

    r = n_hashes // bands
    buckets: dict = {}
    for doc_id, t in docs:
        ts = _token_set(t)
        if not ts:
            continue
        inner = np.array([murmur3_32(w.encode(), 42) for w in ts], dtype=np.int32)
        sig = np.empty(n_hashes, dtype=np.int64)
        for i in range(n_hashes):
            sig[i] = int(murmur3_int32_vec(i, inner).min())
        for b in range(bands):
            block = sig[b * r : (b + 1) * r]
            key_str = "[" + ", ".join(str(int(v)) for v in block) + "]"
            buckets.setdefault((b, xxhash64(key_str.encode())), []).append(doc_id)
    return _bucket_pairs_py(buckets, max_bucket)


def oracle_dedup_recall_gate() -> str:
    """Replay of the dedup candidate-quality gate on the src0 shard:
    exact token-Jaccard >= 0.7 pairs via the prefix-filter replica,
    banding candidates via the token-minhash replica, then the three
    counts and the two divisions."""
    sf = sf_dir()
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet') "
        "WHERE source = 'src0' ORDER BY doc_id"
    ).fetchall()
    con.close()
    exact = _ppjoin_exact_pairs(docs, 70)
    cands = _word_minhash_candidates(docs, 64, 16)
    n_e, n_c = len(exact), len(cands)
    n_h = len(exact & cands)
    rec = None if n_e == 0 else n_h / n_e
    prec = None if n_c == 0 else n_h / n_c
    body = (
        f"({n_e}, {n_c}, {n_h}, "
        + ("NULL" if rec is None else f"CAST('{rec!r}' AS DOUBLE)") + ", "
        + ("NULL" if prec is None else f"CAST('{prec!r}' AS DOUBLE)") + ")"
    )
    return (
        "SELECT CAST(c0 AS BIGINT) AS n_exact, CAST(c1 AS BIGINT) AS n_candidates, "
        "CAST(c2 AS BIGINT) AS n_hit, CAST(c3 AS DOUBLE) AS recall, "
        "CAST(c4 AS DOUBLE) AS precision FROM (VALUES\n"
        + body + "\n) AS v(c0, c1, c2, c3, c4)"
    )


_BUILDERS["dedup_recall_gate"] = oracle_dedup_recall_gate


def oracle_doc_containment() -> str:
    """Containment-pair replica: the excerpt-planted corpus, winnowing
    fingerprints (shared winnowing_fingerprints_numpy kernel — integer
    rolling hashes, engine-independent), capped fingerprint buckets with
    per-pair shared counts, then exact trigram containment in both
    directions (len(A∩B)/len(A) — same int/int IEEE division as the
    Spark expression)."""
    from collections import Counter

    from deeptime_spark.operators.dedup import winnowing_fingerprints_numpy

    corpus = []
    for doc_id, text in _docs(sf_dir()):
        corpus.append((doc_id, text or ""))
        if doc_id % 11 == 0:
            corpus.append((doc_id + 3_000_000, (text or "")[:200]))
    buckets: dict = {}
    for doc_id, text in corpus:
        for fp in winnowing_fingerprints_numpy(text, k=16, w=64).tolist():
            buckets.setdefault(fp, []).append(doc_id)
    shared: Counter = Counter()
    for members in buckets.values():
        ids = sorted(set(members))[:256]
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                shared[(ids[i], ids[j])] += 1
    grams = {i: _word_ngram_set(t) for i, t in corpus}
    rows = []
    for (a, b), n_shared in sorted(shared.items()):
        if n_shared < 2:
            continue
        ga, gb = grams[a], grams[b]
        inter = len(ga & gb)
        ca = inter / max(len(ga), 1)
        cb = inter / max(len(gb), 1)
        if max(ca, cb) >= 0.6:
            rows.append((a, b, n_shared, _spark_round(ca, 6), _spark_round(cb, 6)))
    return _values_sql(
        rows,
        ["id_a", "id_b", "n_shared", "containment_a", "containment_b"],
        "bbbdd",
    )


_BUILDERS["doc_containment_pairs"] = oracle_doc_containment


def oracle_event_pagerank() -> str:
    """Dense power-iteration replica of operators/graph.py:pagerank on
    the event-synthesized 211-node multigraph: multiplicity-summed
    weights row-normalized to a stochastic matrix, 10 fixed iterations,
    damping 0.85, dangling mass = Σ rank over the dangling-node set
    (exact literal 0 when the set is empty, as it is on this fixture) —
    the exact arithmetic of the Spark loop (integer-valued weight sums
    and their ratios are IEEE-exact; per-iteration sums differ only in
    association order, bounded ~1e-15, absorbed by round 6)."""
    con = duckdb.connect()
    ids = [
        int(r[0])
        for r in con.execute(
            f"SELECT event_id FROM read_parquet('{sf_dir()}/events.parquet')"
        ).fetchall()
    ]
    n_nodes = 211
    W = np.zeros((n_nodes, n_nodes))
    present = set()
    for i in ids:
        s = i % n_nodes
        d = (i * 31 + i // n_nodes) % n_nodes
        if s != d:
            W[s, d] += 1.0
            present.add(s)
            present.add(d)
    nodes = sorted(present)
    idx = {v: k for k, v in enumerate(nodes)}
    M = W[np.ix_(nodes, nodes)]
    out_w = M.sum(axis=1)
    P = np.divide(M, out_w[:, None], out=np.zeros_like(M), where=out_w[:, None] > 0)
    N = len(nodes)
    dang_mask = out_w == 0
    damping, r = 0.85, np.full(N, 1.0 / N)
    for _ in range(10):
        c = P.T @ r
        dangling = float(r[dang_mask].sum()) if dang_mask.any() else 0.0
        r = (1.0 - damping) / N + damping * (c + dangling / N)
    rows = [(v, _spark_round(float(r[idx[v]]))) for v in nodes]
    return _values_sql(rows, ["node", "rank"], "bd")


_BUILDERS["event_pagerank"] = oracle_event_pagerank


def oracle_event_hits() -> str:
    """Dense replica of operators/graph.py:hits on the event-synthesized
    211-node multigraph: 5 iterations of a = M'h / Σ, h = Ma / Σ
    (L1-normalized half-steps), exactly the Spark loop's arithmetic up
    to fp association order (absorbed by round 6)."""
    con = duckdb.connect()
    ids = [
        int(r[0])
        for r in con.execute(
            f"SELECT event_id FROM read_parquet('{sf_dir()}/events.parquet')"
        ).fetchall()
    ]
    n_nodes = 211
    W = np.zeros((n_nodes, n_nodes))
    present = set()
    for i in ids:
        s = i % n_nodes
        d = (i * 31 + i // n_nodes) % n_nodes
        if s != d:
            W[s, d] += 1.0
            present.add(s)
            present.add(d)
    nodes = sorted(present)
    idx = {v: k for k, v in enumerate(nodes)}
    M = W[np.ix_(nodes, nodes)]
    N = len(nodes)
    h = np.full(N, 1.0 / N)
    a = np.zeros(N)
    for _ in range(5):
        a = M.T @ h
        t = a.sum()
        a = a / t if t > 0 else a * 0.0
        h = M @ a
        t = h.sum()
        h = h / t if t > 0 else h * 0.0
    rows = [
        (v, _spark_round(float(h[idx[v]])), _spark_round(float(a[idx[v]])))
        for v in nodes
    ]
    return _values_sql(rows, ["node", "hub", "authority"], "bdd")


_BUILDERS["event_hits"] = oracle_event_hits


def oracle_media_ahash_pairs() -> str:
    """Driver numpy replica of the image-dedup pipeline: same
    deterministic PPM synthesis (seed = doc_id, sampled-pixel variant
    at +7M), same integer-exact ahash_bytes, then brute-force Hamming
    pairs at radius 4 — the banded Spark join has guaranteed recall at
    that radius, so the sets must match exactly."""
    from deeptime_spark.operators.multimodal import (
        ahash_bytes,
        synth_ppm,
        synth_ppm_variant,
    )

    con = duckdb.connect()
    ids = [
        int(r[0])
        for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{sf_dir()}/documents.parquet')"
        ).fetchall()
    ]
    sigs = {}
    for i in ids:
        if i % 3 == 0:
            sigs[i] = ahash_bytes(synth_ppm(16, 16, seed=i))
        if i % 15 == 0:
            sigs[i + 7_000_000] = ahash_bytes(synth_ppm_variant(16, 16, seed=i))
    keys = sorted(sigs)
    h = np.array([sigs[k] & 0xFFFFFFFFFFFFFFFF for k in keys], dtype=np.uint64)
    rows = []
    for a in range(len(keys)):
        x = h[a] ^ h[a + 1 :]
        d = np.zeros(len(x), dtype=np.int64)
        while x.any():
            d += (x & np.uint64(1)).astype(np.int64)
            x >>= np.uint64(1)
        for off in np.nonzero(d <= 4)[0]:
            b = a + 1 + int(off)
            rows.append((keys[a], keys[b], int(d[off])))
    return _values_sql(rows, ["id_a", "id_b", "hamming"], "bbb")


_BUILDERS["media_ahash_pairs"] = oracle_media_ahash_pairs


def oracle_event_communities() -> str:
    """Exact replica of the deterministic synchronous label propagation
    (integer weighted votes, min-label tie-break, 5 iterations) on the
    per-block event graph."""
    from collections import defaultdict

    con = duckdb.connect()
    ids = [
        int(r[0])
        for r in con.execute(
            f"SELECT event_id FROM read_parquet('{sf_dir()}/events.parquet')"
        ).fetchall()
    ]
    adj: dict = defaultdict(lambda: defaultdict(int))
    for i in ids:
        blk = (i // 10_000_000) * 997
        s = i % 997 + blk
        d = (i * 31 + i // 997) % 997 + blk
        if s != d:
            adj[s][d] += 1
            adj[d][s] += 1
    labels = {v: v for v in adj}
    for _ in range(5):
        new = {}
        for v in adj:
            votes: dict = defaultdict(int)
            for u, w in adj[v].items():
                votes[labels[u]] += w
            new[v] = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        labels = new
    rows = sorted(labels.items())
    return _values_sql(rows, ["node", "label"], "bb")


_BUILDERS["event_communities"] = oracle_event_communities


def oracle_event_kcore() -> str:
    """Exact peeling replica of k_core(k=8) on the 211-node event
    multigraph (distinct undirected edges, iterate drop-degree-<k to
    the unique fixed point)."""
    con = duckdb.connect()
    ids = [
        int(r[0])
        for r in con.execute(
            f"SELECT event_id FROM read_parquet('{sf_dir()}/events.parquet')"
        ).fetchall()
    ]
    und = set()
    for i in ids:
        s = i % 211
        d = (i * 31 + i // 211) % 211
        if s != d:
            und.add((min(s, d), max(s, d)))
    alive = {v for e in und for v in e}
    while True:
        deg: dict = {}
        for a, b in und:
            if a in alive and b in alive:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
        new = {v for v in alive if deg.get(v, 0) >= 8}
        if new == alive:
            break
        alive = new
    rows = sorted((v, deg.get(v, 0)) for v in alive)
    if not rows:  # an empty k-core is a legal fixed point
        return (
            "SELECT CAST(NULL AS BIGINT) AS node, "
            "CAST(NULL AS BIGINT) AS degree WHERE FALSE"
        )
    return _values_sql(rows, ["node", "degree"], "bb")


_BUILDERS["event_kcore"] = oracle_event_kcore


def oracle_doc_compression() -> str:
    """Driver replica of the compression-ratio profile: the identical
    CPython zlib at level 6 over utf-8 text, ratio in ppm via integer
    floor division, aggregated per source — bit-exact because the Spark
    workers run the same interpreter/zlib build."""
    import zlib

    con = duckdb.connect()
    rows = con.execute(
        "SELECT source, coalesce(text, '') FROM "
        f"read_parquet('{sf_dir()}/documents.parquet')"
    ).fetchall()
    agg: dict = {}
    for source, text in rows:
        raw = text.encode("utf-8")
        comp = zlib.compress(raw, 6)
        rp = len(comp) * 1_000_000 // len(raw) if raw else 0
        a = agg.setdefault(source, [0, 0, 0, None, None, 0])
        a[0] += 1
        a[1] += len(raw)
        a[2] += len(comp)
        a[3] = rp if a[3] is None else min(a[3], rp)
        a[4] = rp if a[4] is None else max(a[4], rp)
        a[5] += rp
    out = [
        (s, a[0], a[1], a[2], a[3], a[4], a[5] // a[0])
        for s, a in sorted(agg.items())
    ]
    return _values_sql(
        out,
        [
            "source", "n_docs", "total_bytes", "total_compressed",
            "min_ratio_ppm", "max_ratio_ppm", "mean_ratio_ppm",
        ],
        "sbbbbbb",
    )


_BUILDERS["doc_compression_ratio"] = oracle_doc_compression


def oracle_doc_fingerprint() -> str:
    from deeptime_spark.spark_hashes import xxhash64

    rows = []
    for doc_id, text in _docs(sf_dir()):
        sh = _shingle_set(_norm_text(text))
        hashes = sorted({xxhash64(s.encode()) for s in sh})
        fp = hashes[:8]
        rows.append((doc_id, fp[0], len(fp)))
    return _values_sql(rows, ["doc_id", "fp_min", "fp_n"], "bbb")


def oracle_simhash_pairs() -> str:
    from deeptime_spark.spark_hashes import xxhash64

    sf = sf_dir()
    max_hamming, n_blocks, bits = 8, 9, 64
    sims = {}
    for doc_id, text in _docs(sf):
        hs = np.array([xxhash64(t.encode()) for t in _tokens_py(text)], dtype=np.int64)
        hu = hs.view(np.uint64)
        sim = 0
        n = len(hu)
        for p in range(bits):
            ones = int(((hu >> np.uint64(p)) & np.uint64(1)).sum())
            if 2 * ones - n > 0:
                sim |= 1 << p
        # Spark's long wraps: bit 63 makes the signature negative
        sims[doc_id] = sim - (1 << 64) if sim >= (1 << 63) else sim
    widths = [bits // n_blocks + (1 if i < bits % n_blocks else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    buckets: dict = {}
    for doc_id, sim in sims.items():
        u = sim & 0xFFFFFFFFFFFFFFFF
        for i in range(n_blocks):
            buckets.setdefault((i, (u >> offsets[i]) & ((1 << widths[i]) - 1)), []).append(doc_id)
    rows = []
    for a, b in sorted(_bucket_pairs_py(buckets)):
        ham = bin((sims[a] ^ sims[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
        if ham <= max_hamming:
            rows.append((a, b, ham))
    return _values_sql(rows, ["id_a", "id_b", "hamming"], "bbb")


@lru_cache(maxsize=4)
def _embeddings(sf: str) -> np.ndarray:
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT CAST(embedding AS DOUBLE[]) FROM read_parquet('{sf}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    return np.array([r[0] for r in rows], dtype=np.float64)


def _hyperplane_buckets(X: np.ndarray, n_planes: int, n_tables: int, seed: int = 42) -> np.ndarray:
    """(n, n_tables) int bucket ids — mirror of the wide-path pandas UDF:
    one sign(X @ planes^T) gemm, powers-of-two packing."""
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_tables * n_planes, X.shape[1]))
    powers = (2 ** np.arange(n_planes)).astype(np.int64)
    signs = (X @ np.ascontiguousarray(planes.T)).reshape(len(X), n_tables, n_planes) >= 0
    return (signs @ powers).astype(np.int32)


def oracle_embedding_near_dup() -> str:
    sf = sf_dir()
    X = _embeddings(sf)
    ids = np.arange(len(X))
    bucket_ids = _hyperplane_buckets(X, n_planes=4, n_tables=4)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    Xn = X / np.clip(norms, 1e-300, None)
    buckets: dict = {}
    for i in ids:
        for t in range(4):
            buckets.setdefault((t, int(bucket_ids[i, t])), []).append(int(i))
    seen = {}
    for (t, bkt), members in buckets.items():
        mem = sorted(members)[:256]
        for ai in range(len(mem)):
            for bi in range(ai + 1, len(mem)):
                a, b = mem[ai], mem[bi]
                if (a, b) in seen:
                    continue
                c = float(Xn[a] @ Xn[b])
                if c >= 0.3:
                    seen[(a, b)] = c
    rows = [(a, b, _spark_round(c, 6)) for (a, b), c in sorted(seen.items())]
    return _values_sql(rows, ["id_a", "id_b", "cosine"], "bbd")


def _fold_dot(x: np.ndarray, y: np.ndarray) -> float:
    """Left-to-right fold — bit-exact mirror of the JVM
    aggregate(zip_with(a, b, *), +) expression."""
    acc = 0.0
    for j in range(len(x)):
        acc = acc + float(x[j]) * float(y[j])
    return acc


def _fold_norm(x: np.ndarray) -> float:
    acc = 0.0
    for j in range(len(x)):
        acc = acc + float(x[j]) * float(x[j])
    import math

    return math.sqrt(acc)


def oracle_lsh_topk() -> str:
    sf = sf_dir()
    X = _embeddings(sf)
    bucket_ids = _hyperplane_buckets(X, n_planes=4, n_tables=4)
    q_ids = [i for i in range(len(X)) if i < 5]
    cands: dict[int, set[int]] = {q: set() for q in q_ids}
    for t in range(4):
        table: dict = {}
        for i in range(len(X)):
            table.setdefault(int(bucket_ids[i, t]), []).append(i)
        for q in q_ids:
            for i in table.get(int(bucket_ids[q, t]), []):
                cands[q].add(i)
    rows = []
    for q in q_ids:
        scored = []
        nq = _fold_norm(X[q])
        for i in sorted(cands[q]):
            sim = _fold_dot(X[i], X[q]) / (_fold_norm(X[i]) * nq)
            scored.append((-sim, i))
        scored.sort()
        for rank, (_, i) in enumerate(scored[:5], start=1):
            rows.append((q, i, rank))
    return _values_sql(rows, ["query_id", "vec_id", "rank"], "bbb")


def oracle_embedding_ann_recall() -> str:
    """Recall@5 of all three ANN rankings — 4-plane/4-table LSH, IVF
    (16 lists / 4 probes), and IVF-PQ (IVFADC) — against the exact
    cosine top-5, per (method, query). Each ranking is replayed with
    the SAME replica its standalone green oracle uses (the bucketing /
    _ivf_topk_rows / _ivfpq_topk_rows helpers), then the plain set
    recall."""
    sf = sf_dir()
    X = _embeddings(sf)
    bucket_ids = _hyperplane_buckets(X, n_planes=4, n_tables=4)
    q_ids = [i for i in range(len(X)) if i < 5]
    k = 5
    exact_of = {}
    sims_of = {}
    for q in q_ids:
        nq = _fold_norm(X[q])
        sims = {
            i: _fold_dot(X[i], X[q]) / (_fold_norm(X[i]) * nq)
            for i in range(len(X))
        }
        sims_of[q] = sims
        exact_of[q] = set(
            i for _, i in sorted((-s, i) for i, s in sims.items())[:k]
        )
    approx_of = {m: {q: set() for q in q_ids} for m in ("ivf", "ivfpq", "lsh")}
    for q in q_ids:
        cands = set()
        for t in range(4):
            for i in range(len(X)):
                if int(bucket_ids[i, t]) == int(bucket_ids[q, t]):
                    cands.add(i)
        approx_of["lsh"][q] = set(
            i
            for _, i in sorted((-sims_of[q][i], i) for i in sorted(cands))[:k]
        )
    for q, i, _rank in _ivf_topk_rows(X):
        approx_of["ivf"][q].add(i)
    for q, i, _rank, _d in _ivfpq_topk_rows(X):
        approx_of["ivfpq"][q].add(i)
    rows = []
    for method in sorted(approx_of):
        for q in q_ids:
            n_hit = len(exact_of[q] & approx_of[method][q])
            rows.append((method, q, k, n_hit, n_hit / float(k)))
    return _values_sql(
        rows, ["method", "query_id", "n_exact", "n_hit", "recall"], "sbbbd"
    )


_BUILDERS.update(
    {
        "minhash_bands": oracle_minhash_bands,
        "dedup_verified_pairs": oracle_dedup_verified_pairs,
        "doc_fingerprint": oracle_doc_fingerprint,
        "simhash_pairs": oracle_simhash_pairs,
        "embedding_near_dup": oracle_embedding_near_dup,
        "lsh_topk": oracle_lsh_topk,
        "embedding_ann_recall": oracle_embedding_ann_recall,
    }
)


def oracle_multimodal_features() -> str:
    """The WAV synth + decode kernel is pure deterministic Python
    (stdlib wave + numpy); re-running it per doc_id outside Spark yields
    bit-exact features. What the comparison verifies: the Arrow batch
    plumbing (payload round-trip, one output row per input, doc_id
    alignment) and the parquet-sourced id set."""
    from deeptime_spark.operators.multimodal import decode_features, synth_wav

    rows = []
    for doc_id, _ in _docs(sf_dir()):
        f = decode_features(synth_wav(100.0 + (doc_id % 20) * 10.0), dim=8)
        rows.append(
            (doc_id, 8, _spark_round(f[0], 6), _spark_round(f[4], 6), _spark_round(f[5], 6))
        )
    return _values_sql(rows, ["media_id", "feat_dim", "path_marker", "rms", "zcr"], "bbddd")


_BUILDERS["multimodal_features"] = oracle_multimodal_features


def _ivf_topk_rows(X: np.ndarray) -> list:
    """IVF ranking mirror shared by oracle_ivf_topk / ivf_index_probe /
    the widened recall gate: content-addressed quantizer sample
    (smallest md5(vec_id) — the engine-independent selection ivf_topk
    uses), driver Lloyd, cell assignment, probe pruning, fold-exact
    cosine top-k. Returns [(query_id, vec_id, rank)]."""
    import hashlib

    from deeptime_spark.clustering.cluster_model import _pairwise_sq_dists

    n_lists, n_probe, k, iters, seed = 16, 4, 5, 8, 42
    keyed = sorted((hashlib.md5(str(i).encode()).hexdigest(), i) for i in range(len(X)))
    sample = X[[i for _, i in keyed[:65536]]]
    rng = np.random.default_rng(seed)
    centers = sample[rng.choice(len(sample), size=min(n_lists, len(sample)), replace=False)]
    for _ in range(iters):
        assign = _pairwise_sq_dists(sample, centers).argmin(axis=1)
        for c in range(len(centers)):
            mask = assign == c
            if mask.any():
                centers[c] = sample[mask].mean(axis=0)
    cells = _pairwise_sq_dists(X, centers).argmin(axis=1)
    rows = []
    for q in range(5):
        d2 = ((centers - X[q]) ** 2).sum(axis=1)
        probe = set(int(c) for c in np.argsort(d2)[:n_probe])
        nq = _fold_norm(X[q])
        scored = []
        for i in range(len(X)):
            if int(cells[i]) in probe:
                sim = _fold_dot(X[i], X[q]) / (_fold_norm(X[i]) * nq)
                scored.append((-sim, i))
        scored.sort()
        for rank, (_, i) in enumerate(scored[:k], start=1):
            rows.append((q, i, rank))
    return rows


def oracle_ivf_topk() -> str:
    return _values_sql(
        _ivf_topk_rows(_embeddings(sf_dir())), ["query_id", "vec_id", "rank"], "bbb"
    )


_BUILDERS["ivf_topk"] = oracle_ivf_topk
# the persisted-index probe uses the identical quantizer (content-
# addressed sample + seeded Lloyd) and scoring, so its expected ranking
# IS ivf_topk's — one replica serves both harness queries.
_BUILDERS["ivf_index_probe"] = oracle_ivf_topk


def _ivfpq_topk_rows(X: np.ndarray) -> list:
    """IVF-PQ ranking mirror (IVFADC) shared by oracle_ivfpq_topk and the
    widened recall gate: same content-addressed sample, the operator's
    own driver-side Lloyd/codebook training (engine-independent numpy,
    exactly the code under test's training path — what the comparison
    verifies is the DISTRIBUTED side: cell assignment, the Arrow encode
    pass, the probe join, and the JVM fold-order ADC sum), then
    per-query table lookups accumulated in subvector order (left-to-right
    float64 adds == the F.aggregate fold). Returns
    [(query_id, vec_id, rank, adc_dist_round6)]."""
    import hashlib

    from deeptime_spark.clustering.cluster_model import _pairwise_sq_dists
    from deeptime_spark.operators.similarity import _lloyd, pq_train_codebooks

    n_lists, n_probe, k, iters, seed = 16, 4, 5, 8, 42
    m_sub, k_codes = 8, 16
    keyed = sorted((hashlib.md5(str(i).encode()).hexdigest(), i) for i in range(len(X)))
    sample = X[[i for _, i in keyed[:65536]]]
    centers = _lloyd(sample, n_lists, iters, seed)
    s_assign = _pairwise_sq_dists(sample, centers).argmin(axis=1)
    books = pq_train_codebooks(sample - centers[s_assign], m_sub, k_codes, iters, seed)
    ds = X.shape[1] // m_sub

    cells = _pairwise_sq_dists(X, centers).argmin(axis=1)
    codes = np.empty((len(X), m_sub), dtype=np.int64)
    for i in range(len(X)):
        resid = X[i] - centers[int(cells[i])]
        for m in range(m_sub):
            sub = resid[m * ds : (m + 1) * ds]
            codes[i, m] = int(((books[m] - sub) ** 2).sum(axis=1).argmin())

    rows = []
    for q in range(5):
        d2 = ((centers - X[q]) ** 2).sum(axis=1)
        probe = [int(c) for c in np.argsort(d2)[:n_probe]]
        tabs = {}
        for cell in probe:
            resid = X[q] - centers[cell]
            tabs[cell] = [
                [float(((books[m][c] - resid[m * ds : (m + 1) * ds]) ** 2).sum()) for c in range(k_codes)]
                for m in range(m_sub)
            ]
        scored = []
        for i in range(len(X)):
            cell = int(cells[i])
            if cell in tabs:
                acc = 0.0
                for m in range(m_sub):
                    acc = acc + tabs[cell][m][int(codes[i, m])]
                scored.append((acc, i))
        scored.sort()
        for rank, (dist, i) in enumerate(scored[:k], start=1):
            rows.append((q, i, rank, _spark_round(dist, 6)))
    return rows


def oracle_ivfpq_topk() -> str:
    return _values_sql(
        _ivfpq_topk_rows(_embeddings(sf_dir())),
        ["query_id", "vec_id", "rank", "adc_dist"],
        "bbbd",
    )


_BUILDERS["ivfpq_topk"] = oracle_ivfpq_topk


def oracle_doc_stratified_sample() -> str:
    """Mirror of the content-addressed stratified sample: membership is
    pmod(xxhash64(str(doc_id)), 1e6) < rate_ppm[source] — replayed with
    the engine-independent XXH64 replica, aggregated to per-source
    (n_kept, id_checksum) literals."""
    from deeptime_spark.spark_hashes import xxhash64

    sf = sf_dir()
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, source FROM read_parquet('{sf}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    rates = {"src0": 300000, "src1": 800000}
    default_ppm = 100000
    agg: dict = {}
    for doc_id, source in rows:
        rate = rates.get(source, default_ppm)
        if xxhash64(str(int(doc_id)).encode()) % 1_000_000 < rate:
            n, s = agg.get(source, (0, 0))
            agg[source] = (n + 1, s + int(doc_id))
    out = [(src_, n, s) for src_, (n, s) in sorted(agg.items())]
    body = ",\n".join(f"('{a}', {b}, {c})" for a, b, c in out)
    return (
        "SELECT c0 AS source, CAST(c1 AS BIGINT) AS n_kept, "
        "CAST(c2 AS BIGINT) AS id_checksum FROM (VALUES\n"
        + body
        + "\n) AS v(c0, c1, c2)"
    )


_BUILDERS["doc_stratified_sample"] = oracle_doc_stratified_sample


def oracle_doc_weighted_sample() -> str:
    """weighted_sample mirror: mean weight via the same exact-long-sum /
    double division Spark's avg performs, keep test
    pmod(xxhash64(str(doc_id)), 1e6) < min(1e6, n_chars * scale) with
    the identical single-multiply scale literal."""
    from deeptime_spark.spark_hashes import xxhash64

    sf = sf_dir()
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, source, n_chars FROM read_parquet('{sf}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    total = sum(int(n) for _, _, n in rows)
    mean_w = total / len(rows)
    scale = 250_000.0 / mean_w
    agg: dict = {}
    for doc_id, source, n_chars in rows:
        w = float(int(n_chars))
        if w <= 0:
            continue
        rate = min(1_000_000.0, w * scale)
        if float(xxhash64(str(int(doc_id)).encode()) % 1_000_000) < rate:
            n, s, c = agg.get(source, (0, 0, 0))
            agg[source] = (n + 1, s + int(doc_id), c + int(n_chars))
    out = [(src_, n, s, c) for src_, (n, s, c) in sorted(agg.items())]
    rows_v = [(a, b, c, d) for a, b, c, d in out]
    return _values_sql(
        rows_v, ["source", "n_kept", "id_checksum", "chars_kept"], "sbbb"
    )


_BUILDERS["doc_weighted_sample"] = oracle_doc_weighted_sample


def oracle_streaming_heavy_hitters() -> str:
    """Misra-Gries replica: the summary is a pure function of the
    processed row sequence, and the harness replays doc-id-ordered
    chunks with within-batch (doc_id, pos) sort — so one pass over the
    corpus in doc-id order with the identical counter loop reproduces
    the end-of-stream state exactly."""
    sf = sf_dir()
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT lang, doc_id, text FROM read_parquet('{sf}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    k = 20
    ctrs: dict = {}
    ns: dict = {}
    for lang, _, text in rows:
        ctr = ctrs.setdefault(lang, {})
        for x in _tokens_py(text or ""):
            if not x:
                continue
            ns[lang] = ns.get(lang, 0) + 1
            if x in ctr:
                ctr[x] += 1
            elif len(ctr) < k:
                ctr[x] = 1
            else:
                for y in list(ctr):
                    ctr[y] -= 1
                    if ctr[y] == 0:
                        del ctr[y]
    out = []
    for lang in sorted(ctrs):
        for x, c in sorted(ctrs[lang].items(), key=lambda kv: (-kv[1], kv[0])):
            out.append((lang, x, c, ns.get(lang, 0)))
    return _values_sql(out, ["lang", "term", "count_lb", "n_stream"], "ssbb")


_BUILDERS["streaming_heavy_hitters"] = oracle_streaming_heavy_hitters


def oracle_corpus_prep_pipeline() -> str:
    """Python replay of the round-4 composition (C4 line rules -> global
    first-occurrence line dedup -> XXH64-replica stratified sample ->
    per-shard sequence packing). Every stage is exact integer/string math
    mirroring the Column semantics: split('\\s+') on trimmed lowercase
    text, first-(doc_id, line_no) wins, pmod(xxhash64(str(id)), 1e6)
    membership, prefix-sum packing ordered by doc id within shard."""
    import re as re_

    from deeptime_spark.spark_hashes import xxhash64

    sf = sf_dir()
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text, source FROM read_parquet('{sf}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    bad = ["javascript", "lorem ipsum", "cookie policy", "privacy policy", "terms of use", "{"]

    def keep_line(l: str) -> bool:
        t = l.strip()
        if not t or len(re_.split(r"\s+", t)) < 30:
            return False
        low = l.lower()
        return not any(p in low for p in bad)

    # stage 1: C4 filter (min_words=30, no terminal punct, >=1 kept line)
    s1 = []
    for doc_id, text, source in rows:
        kept = [l for l in (text or "").split("\n") if keep_line(l)]
        if kept:
            s1.append((int(doc_id), "\n".join(kept), source))
    # stage 2: global line dedup (min_chars=10), drop fully-deduped docs
    seen: set = set()
    s2 = []
    for doc_id, text, source in s1:
        out_lines = []
        for l in text.split("\n"):
            if len(l.strip()) < 10:
                out_lines.append(l)
            elif l not in seen:
                seen.add(l)
                out_lines.append(l)
        if out_lines:
            s2.append((doc_id, "\n".join(out_lines), source))
    # stage 3: stratified sample (src0/src1 explicit, default 500000 ppm)
    rates = {"src0": 300000, "src1": 800000}
    s3 = [
        (d, t, s)
        for d, t, s in s2
        if xxhash64(str(d).encode()) % 1_000_000 < rates.get(s, 500000)
    ]
    # stage 4: pack (budget 512, shard = source, order by doc_id)
    budget = 512
    by_shard: dict = {}
    for d, t, s in s3:
        toks = [w for w in re_.split(r"\s+", (t or "").strip().lower()) if w != ""]
        by_shard.setdefault(s, []).append((d, len(toks)))
    out = []
    for s, docs_ in sorted(by_shard.items()):
        off = 0
        for d, n in sorted(docs_):
            first = off // budget
            last = (off + max(n - 1, 0)) // budget
            out.append((d, s, n, off, first, last))
            off += n
    body = ",\n".join(
        f"({d}, '{s}', {n}, {o}, {f}, {l})" for d, s, n, o, f, l in sorted(out)
    )
    return (
        "SELECT c0 AS doc_id, c1 AS shard, CAST(c2 AS BIGINT) AS n_tokens, "
        "CAST(c3 AS BIGINT) AS tok_offset, CAST(c4 AS BIGINT) AS pack_first, "
        "CAST(c5 AS BIGINT) AS pack_last FROM (VALUES\n" + body + "\n) AS v(c0, c1, c2, c3, c4, c5)"
    )


_BUILDERS["corpus_prep_pipeline"] = oracle_corpus_prep_pipeline


def oracle_tram() -> str:
    """TRAM mirror: per-ensemble counts, state counts and the
    (state, traj, t)-ordered bias blocks are re-derived from the parquet
    (therm_state = traj_id % 2, bias = [0, value/5000]), then the same
    driver self-consistent iteration (TRAM.fit_arrays) runs on them —
    bit-exact when the Spark counting and collection order match."""
    from deeptime_spark.markov.tram import TRAM

    sf = sf_dir()
    tid, _, value, state = _traj(sf)
    therm = (tid % 2).astype(np.int64)
    ok = state >= 0
    K = int(therm.max()) + 1
    N = int(state.max()) + 1
    # lag-1 transition counts per ensemble (therm is traj-constant, so
    # per-(therm, traj) windows == per-traj windows)
    C = np.zeros((K, N, N))
    bounds = np.flatnonzero(np.r_[True, tid[1:] != tid[:-1], True])
    for a, b in zip(bounds[:-1], bounds[1:]):
        k = int(therm[a])
        s = state[a:b]
        for sf_, st_ in zip(s[:-1], s[1:]):
            if sf_ >= 0 and st_ >= 0:
                C[k, sf_, st_] += 1
    state_counts = np.zeros((K, N))
    for k in range(K):
        mask = ok & (therm == k)
        state_counts[k] = np.bincount(state[mask], minlength=N)
    # bias blocks ordered by (state, traj_id, t) — the order _collect_bias pins
    bias_by_state = []
    order = np.arange(len(tid))[ok]
    for i in range(N):
        sel = order[state[ok] == i]  # already (traj_id, t)-sorted
        B = np.zeros((len(sel), K))
        B[:, 1] = value[sel] / 5000.0
        bias_by_state.append(B)
    model = TRAM(lagtime=1, maxiter=200).fit_arrays(C, state_counts, bias_by_state)
    fki = model.biased_conf_energies
    rows = [
        (k, i, float(fki[k, i])) for k in range(fki.shape[0]) for i in range(fki.shape[1])
    ]
    return _values_sql(rows, ["therm_state", "state", "f"], "bbd")


_BUILDERS["tram_events"] = oracle_tram


def oracle_hmm_viterbi() -> str:
    """HMM mirror: the query's Baum-Welch reduces one sufficient-statistics
    row per trajectory in sorted traj order, and its kernels are lane-exact
    (a trajectory's numbers are the same alone or batched), which makes the
    whole EM + viterbi pipeline independent of the partition layout and of
    the dispatch path, and replayable here — init MSM from DuckDB counts,
    each trajectory's forward-backward run alone (B=1), the same M-step,
    the same decode kernel, all in sorted trajectory order. Bit-exact."""
    from deeptime_spark.hmm.hmm_model import forward_backward_batch, viterbi_batch
    from deeptime_spark.hmm.init import init_discrete_metastable_from_msm
    from deeptime_spark.hmm.mlhmm import MaximumLikelihoodHMM
    from deeptime_spark.hmm.output_models import DiscreteOutputModel
    from deeptime_spark.hmm.hmm_model import HiddenMarkovModel

    sf = sf_dir()
    tid, t_arr, _, state = _traj(sf)
    msm, _ = _msm(sf, 1)
    init = init_discrete_metastable_from_msm(msm, 2)
    # lift emissions to the full observed symbol space (mirror of
    # init_discrete_metastable_from_data's n_observation_states path)
    symbols = msm.count_model.state_symbols
    n_full = max(int(symbols.max()) + 1, 5)
    B_sub = init.output_model.output_probabilities
    B = np.full((2, n_full), 1e-12)
    B[:, symbols] = B_sub
    B = B / B.sum(axis=1, keepdims=True)
    init = HiddenMarkovModel(
        transition_model=init.transition_model,
        output_model=DiscreteOutputModel(B),
        initial_distribution=init.initial_distribution,
    )
    A = np.array(init.transition_matrix, dtype=np.float64, copy=True)
    pi = np.array(init.initial_distribution, dtype=np.float64, copy=True)
    om = init.output_model.copy()
    bounds = np.flatnonzero(np.r_[True, tid[1:] != tid[:-1], True])
    trajs = [
        (int(tid[a]), t_arr[a:b], state[a:b]) for a, b in zip(bounds[:-1], bounds[1:])
    ]
    em_trajs = [(i, ts, obs) for i, ts, obs in trajs if len(obs) > 1]  # lag-1 drop
    est = MaximumLikelihoodHMM(init, lagtime=1, maxit=3)
    likelihoods: list[float] = []
    converged = False
    for _ in range(3):
        agg = {
            "loglik": 0.0,
            "gamma0": np.zeros(2),
            "counts": np.zeros((2, 2)),
            "om_stats": np.zeros(om.stats_dim()),
        }
        for _, _, obs in em_trajs:  # sorted traj order (duckdb ORDER BY)
            pobs = om.to_state_probability_trajectory(obs)
            ll, g0, cnt, gammas = forward_backward_batch(A, [pobs], pi)
            agg["loglik"] += ll[0]
            agg["gamma0"] += g0[0]
            agg["counts"] += cnt[0]
            agg["om_stats"] += om.collect_stats(obs, gammas[0])
        if likelihoods and (agg["loglik"] - likelihoods[-1]) < est.accuracy:
            converged = True
        likelihoods.append(agg["loglik"])
        A, pi = est._mstep(agg, om)
        if converged:
            break
    rows = []
    for traj_id, ts, obs in trajs:
        pobs = om.to_state_probability_trajectory(obs)
        path = viterbi_batch(A, [pobs], pi)[0]
        for tt, h in zip(ts, path):
            rows.append((traj_id, int(tt), int(h)))
    return _values_sql(rows, ["traj_id", "t", "hidden_state"], "bbb")


_BUILDERS["hmm_viterbi_events"] = oracle_hmm_viterbi


def oracle_bayes_hmm() -> str:
    """BayesianHMM mirror: MLHMM prior (per-trajectory stats, sorted
    reduce) then the same Gibbs chain driven by a numpy sweeper — valid
    because every FFBS sweep statistic is an integer count (exact,
    layout-independent sums) and a trajectory's sampled path depends only
    on its own frames and seed (lane-exact FFBS)."""
    from deeptime_spark.hmm.bayesian_hmm import BayesianHMM, ffbs_sample_path_batch
    from deeptime_spark.hmm.hmm_model import HiddenMarkovModel, forward_backward_batch
    from deeptime_spark.hmm.init import init_discrete_metastable_from_msm
    from deeptime_spark.hmm.mlhmm import MaximumLikelihoodHMM
    from deeptime_spark.hmm.output_models import DiscreteOutputModel

    sf = sf_dir()
    tid, t_arr, _, state = _traj(sf)
    msm, _ = _msm(sf, 1)
    init = init_discrete_metastable_from_msm(msm, 2)
    symbols = msm.count_model.state_symbols
    n_full = max(int(symbols.max()) + 1, 5)
    B_sub = init.output_model.output_probabilities
    B = np.full((2, n_full), 1e-12)
    B[:, symbols] = B_sub
    B = B / B.sum(axis=1, keepdims=True)
    init = HiddenMarkovModel(
        transition_model=init.transition_model,
        output_model=DiscreteOutputModel(B),
        initial_distribution=init.initial_distribution,
    )
    bounds = np.flatnonzero(np.r_[True, tid[1:] != tid[:-1], True])
    trajs = [
        (int(tid[a]), t_arr[a:b], state[a:b]) for a, b in zip(bounds[:-1], bounds[1:])
    ]
    em_trajs = [(i, ts, obs) for i, ts, obs in trajs if len(obs) > 1]
    # prior: 2-iteration EM, per-traj stats in sorted order
    A = np.array(init.transition_matrix, dtype=np.float64, copy=True)
    pi = np.array(init.initial_distribution, dtype=np.float64, copy=True)
    om = init.output_model.copy()
    est = MaximumLikelihoodHMM(init, lagtime=1, maxit=2)
    likelihoods: list[float] = []
    final_counts = None
    converged = False
    for _ in range(2):
        agg = {
            "loglik": 0.0,
            "gamma0": np.zeros(2),
            "counts": np.zeros((2, 2)),
            "om_stats": np.zeros(om.stats_dim()),
        }
        for _, _, obs in em_trajs:
            pobs = om.to_state_probability_trajectory(obs)
            ll, g0, cnt, gammas = forward_backward_batch(A, [pobs], pi)
            agg["loglik"] += ll[0]
            agg["gamma0"] += g0[0]
            agg["counts"] += cnt[0]
            agg["om_stats"] += om.collect_stats(obs, gammas[0])
        if likelihoods and (agg["loglik"] - likelihoods[-1]) < est.accuracy:
            converged = True
        likelihoods.append(agg["loglik"])
        A, pi = est._mstep(agg, om)
        final_counts = agg["counts"]
        if converged:
            break
    from deeptime_spark.markov.msm import MarkovStateModel
    from deeptime_spark.markov.transition_counting import TransitionCountModel

    prior = HiddenMarkovModel(
        transition_model=MarkovStateModel(
            A, reversible=True, lagtime=1,
            count_model=TransitionCountModel(final_counts, lagtime=1),
        ),
        output_model=om,
        initial_distribution=pi,
        likelihoods=np.array(likelihoods),
        initial_count=agg["gamma0"],
        stride=1,
    )

    def sweeper(A_s, pi_s, om_s, sweep_seed):
        N = len(pi_s)
        C = np.zeros((N, N))
        init_counts = np.zeros(N)
        om_stats = np.zeros(om_s.stats_dim())
        for traj_id, _, obs in trajs:
            pobs = om_s.to_state_probability_trajectory(obs)
            path = ffbs_sample_path_batch(
                A_s, [pobs], pi_s, [sweep_seed * 100003 + traj_id]
            )[0]
            np.add.at(C, (path[:-1], path[1:]), 1.0)
            init_counts[path[0]] += 1.0
            gamma_hard = np.zeros((len(path), N))
            gamma_hard[np.arange(len(path)), path] = 1.0
            om_stats += om_s.collect_stats(obs, gamma_hard)
        return {"C": C, "init": init_counts, "om_stats": om_stats}

    post = BayesianHMM(prior, n_samples=10, seed=42).fit_with_sweeper(sweeper)
    stats = post.gather_stats("transition_matrix")
    mean, lo, hi = stats["mean"], stats["L"], stats["R"]
    rows = [
        (i, j, float(mean[i, j]), float(lo[i, j]), float(hi[i, j]))
        for i in range(2)
        for j in range(2)
    ]
    return _values_sql(rows, ["h_from", "h_to", "p_mean", "p_lo", "p_hi"], "bbddd")


_BUILDERS["bayes_hmm_events"] = oracle_bayes_hmm


def oracle_regspace() -> str:
    """RegularSpace mirror: the query runs exact mode (the reference's own
    sequential leader scan in (traj_id, t) order), so the oracle replays
    the identical scan over the DuckDB-derived trajectory. d=1 assignment
    is single-multiply fp — bit-exact across engines."""
    from deeptime_spark.clustering.cluster_model import _pairwise_sq_dists
    from deeptime_spark.clustering.regspace import _leader_scan

    sf = sf_dir()
    _, _, value, _ = _traj(sf)
    X = (value / 100.0)[:, None]
    centers: list = []
    _leader_scan(X, 1.0, 100, centers)
    C = np.asarray(centers)
    states = np.argmin(_pairwise_sq_dists(X, C), axis=1)
    counts = np.bincount(states, minlength=len(centers))
    rows = [(int(s), int(n)) for s, n in enumerate(counts) if n > 0]
    return _values_sql(rows, ["state", "n"], "bb")


_BUILDERS["regspace_events"] = oracle_regspace


def oracle_kmeans() -> str:
    """DeterministicKMeans mirror: same seeded kmeans++ init on the same
    vec_id-ordered sample, same Lloyd loop — bit-identical because every
    cross-row reduction is integer (fixed-point partial sums) and the
    assignment kernel's fp rounding is batch-shape-invariant."""
    from deeptime_spark.clustering.kmeans import deterministic_kmeans_numpy
    from deeptime_spark.clustering.metrics import _euclidean_batch_invariant

    sf = sf_dir()
    X = _embeddings(sf)  # ordered by vec_id; vec_ids are 0..n-1
    sample = X[:4096]
    centers, _ = deterministic_kmeans_numpy(sample, X, n_clusters=8, seed=42, max_iter=16)
    assign = np.argmin(_euclidean_batch_invariant(X, centers), axis=1)
    rows = [(int(i), int(a)) for i, a in enumerate(assign)]
    return _values_sql(rows, ["vec_id", "cluster"], "bb")


_BUILDERS["kmeans_embeddings"] = oracle_kmeans


def oracle_doc_topic_terms() -> str:
    """cluster_term_lift replica: the oracle_kmeans assignment (vec_id =
    doc_id), python token counts, and the identical
    (tf/w_c)/(f_t/T) division tree, per-cluster top-10 by
    (lift desc, term)."""
    from deeptime_spark.clustering.kmeans import deterministic_kmeans_numpy
    from deeptime_spark.clustering.metrics import _euclidean_batch_invariant

    sf = sf_dir()
    X = _embeddings(sf)
    centers, _ = deterministic_kmeans_numpy(X[:4096], X, n_clusters=8, seed=42, max_iter=16)
    assign = np.argmin(_euclidean_batch_invariant(X, centers), axis=1)
    docs = _docs(sf)
    tfc: dict = {}
    for i, t in docs:
        if i >= len(assign):
            continue
        c = int(assign[i])
        for x in _tokens_py(t or ""):
            if x:
                tfc[(c, x)] = tfc.get((c, x), 0) + 1
    wc: dict = {}
    ft: dict = {}
    for (c, x), n in tfc.items():
        wc[c] = wc.get(c, 0) + n
        ft[x] = ft.get(x, 0) + n
    T = sum(wc.values())
    per_cluster: dict = {}
    for (c, x), n in tfc.items():
        if n < 5:
            continue
        lift = (float(n) / float(wc[c])) / (float(ft[x]) / float(T))
        per_cluster.setdefault(c, []).append((-lift, x, n))
    rows = []
    for c in sorted(per_cluster):
        for neg, x, n in sorted(per_cluster[c])[:10]:
            rows.append((c, x, n, _spark_round(-neg, 6)))
    return _values_sql(rows, ["cluster", "term", "tf", "lift"], "bsbd")


_BUILDERS["doc_topic_terms"] = oracle_doc_topic_terms


def oracle_embedding_silhouette() -> str:
    """Replays the deterministic k-means fit, then the identical
    simplified-silhouette math (batch-invariant distances, per-row ppm
    rounding, integer aggregation) per cluster."""
    from deeptime_spark.clustering.kmeans import deterministic_kmeans_numpy
    from deeptime_spark.clustering.metrics import _euclidean_batch_invariant

    sf = sf_dir()
    X = _embeddings(sf)
    sample = X[:4096]
    centers, _ = deterministic_kmeans_numpy(sample, X, n_clusters=8, seed=42, max_iter=16)
    D = _euclidean_batch_invariant(X, centers)
    own = np.argmin(D, axis=1)
    a = D[np.arange(len(X)), own]
    Dm = D.copy()
    Dm[np.arange(len(X)), own] = np.inf
    b = Dm.min(axis=1)
    denom = np.maximum(a, b)
    s = np.where(denom > 0, (b - a) / np.where(denom > 0, denom, 1.0), 0.0)
    ppm = np.round(s * 1e6).astype(np.int64)
    rows = []
    for c in sorted(set(own.tolist())):
        m = own == c
        v = ppm[m]
        tot, cnt = int(v.sum()), int(m.sum())
        # Spark DIV truncates toward zero; Python // floors — they differ
        # on negative totals, and silhouettes CAN be negative
        mean = abs(tot) // cnt * (1 if tot >= 0 else -1)
        rows.append((int(c), cnt, mean, int(v.min()), int(v.max())))
    return _values_sql(
        rows, ["cluster", "n", "mean_s_ppm", "min_s_ppm", "max_s_ppm"], "bbbbb"
    )


_BUILDERS["embedding_silhouette"] = oracle_embedding_silhouette


def oracle_dedup_components() -> str:
    """Union-find over the independently-recomputed verified pair set
    (same hash replicas as oracle_dedup_verified_pairs) — components and
    sizes are pure integer facts, bit-exact by construction."""
    sf = sf_dir()
    pairs, _ = _minhash_candidates(sf)
    grams = {i: _word_ngram_set(t) for i, t in _docs(sf)}
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in sorted(pairs):
        ga, gb = grams[a], grams[b]
        if len(ga & gb) / max(len(ga | gb), 1) >= 0.2:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    sizes: dict = {}
    for node in parent:
        sizes[find(node)] = sizes.get(find(node), 0) + 1
    rows = sorted((int(c), int(n)) for c, n in sizes.items())
    return _values_sql(rows, ["component", "n_members"], "bb")


_BUILDERS["dedup_components"] = oracle_dedup_components


def oracle_doc_winnowing() -> str:
    """Winnowing summary replay: same uint64 rolling-hash + rightmost-min
    selection over the DuckDB-read documents — integers only, bit-exact."""
    from deeptime_spark.operators.dedup import winnowing_fingerprints_numpy

    rows = []
    for doc_id, text in _docs(sf_dir()):
        f = winnowing_fingerprints_numpy(text or "")
        if len(f):
            rows.append((doc_id, len(f), int(f.min()), int(f.max())))
    return _values_sql(rows, ["doc_id", "n_fp", "min_fp", "max_fp"], "bbbb")


_BUILDERS["doc_winnowing"] = oracle_doc_winnowing


def oracle_doc_lm_score() -> str:
    """Unigram-LM score replica: DuckDB tokenization (regexp dialect
    equivalence with Spark's split is already relied on by every text
    oracle), exact integer vocab counts, the same smoothed log-prob
    formula, the same in-token-order accumulation — bit-exact because
    both sides run the identical double ops on identical operands."""
    import math

    con = duckdb.connect()
    sf = sf_dir()
    rows = con.execute(
        rf"""SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
             FROM read_parquet('{sf}/documents.parquet') ORDER BY doc_id"""
    ).fetchall()
    from collections import Counter

    counts = Counter()
    for _, toks in rows:
        counts.update(toks)
    total = sum(counts.values())
    vocab = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20_000]
    V = len(vocab)
    smoothing = 1.0
    denom = total + smoothing * (V + 1)
    logp = {w: math.log((c + smoothing) / denom) for w, c in vocab}
    log_oov = math.log(smoothing / denom)
    out = []
    for doc_id, toks in rows:
        lp = np.array([logp.get(w, log_oov) for w in toks], dtype=np.float64)
        score = float(np.cumsum(lp)[-1] / len(lp)) if len(lp) else 0.0
        out.append((doc_id, len(toks), score))
    return _values_sql(out, ["doc_id", "n_tokens", "lm_score"], "bbd")


_BUILDERS["doc_lm_score"] = oracle_doc_lm_score


def oracle_doc_lm2_score() -> str:
    """Interpolated bigram-LM replica (layer 1 independent of Spark):
    token and bigram counts from the DuckDB corpus in pure Python, the
    same pruned-table cuts with the same (count desc, key asc)
    tie-break, the same interpolation formula, the same in-token-order
    accumulation — bit-exact because both sides run identical double ops
    on identical exact-integer operands."""
    import math
    from collections import Counter

    vocab_size, bigram_size, alpha, smoothing = 20_000, 100_000, 0.4, 1.0
    docs = _docs(sf_dir())
    uni: Counter = Counter()
    bi: Counter = Counter()
    per_doc = []
    for doc_id, text in docs:
        ws = [w for w in _tokens_py(text or "") if w]
        per_doc.append((doc_id, ws))
        uni.update(ws)
        bi.update(" ".join(p) for p in zip(ws, ws[1:]))
    total = sum(uni.values())
    vocab = sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    c_uni = dict(vocab)
    V = len(c_uni)
    denom = total + smoothing * (V + 1)
    p_uni = {w: (c + smoothing) / denom for w, c in c_uni.items()}
    p_oov = smoothing / denom
    big = sorted(bi.items(), key=lambda kv: (-kv[1], kv[0]))[:bigram_size]
    c_bi = {}
    for g, c in big:
        v, _, w = g.partition(" ")
        if v in c_uni:
            c_bi[(v, w)] = c
    # per-position probabilities in token order (scalar IEEE ops bit-equal
    # to the engine's vectorized elementwise formula), accumulated through
    # the SHARED helper — see text.py:mean_logprob_segments for why both
    # sides must use the same segmented reduce
    from deeptime_spark.operators.text import mean_logprob_segments

    vals: list = []
    lens: list = []
    for _, ws in per_doc:
        lens.append(len(ws))
        for j, w in enumerate(ws):
            pu = p_uni.get(w, p_oov)
            if j == 0:
                vals.append(pu)
                continue
            v = ws[j - 1]
            cb = c_bi.get((v, w))
            term = alpha * cb / c_uni[v] if cb is not None else 0.0
            vals.append(term + (1.0 - alpha) * pu)
    scores = mean_logprob_segments(vals, lens)
    rows = [
        (doc_id, n, s)
        for (doc_id, _), n, s in zip(per_doc, lens, scores)
    ]
    return _values_sql(rows, ["doc_id", "n_tokens", "lm2_score"], "bbd")


_BUILDERS["doc_lm2_score"] = oracle_doc_lm2_score


def oracle_token_pack() -> str:
    """Tokenize-and-pack replay (layer 1 independent of Spark): word
    counts and merge training exactly as oracle_bpe (shared finalize —
    the merge loop and greedy encoder are deterministic functions of the
    exact-integer dictionary), then per-source doc_id-ordered token
    streams chopped into 64-symbol sequences; the md5 over space-joined
    symbols matches Spark's md5(concat_ws(' ', toks)) byte for byte."""
    import hashlib
    from collections import Counter, defaultdict

    from deeptime_spark.operators.bpe import encode_word, train_bpe_from_counts

    con = duckdb.connect()
    rows_in = con.execute(
        f"SELECT doc_id, source, text FROM "
        f"read_parquet('{sf_dir()}/documents.parquet') ORDER BY source, doc_id"
    ).fetchall()
    wc: Counter = Counter()
    per_doc = []
    for doc_id, src, text in rows_in:
        ws = [w for w in _tokens_py(text or "") if w]
        per_doc.append((int(doc_id), str(src), ws))
        wc.update(ws)
    counts = [
        (w, n)
        for w, n in sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
        if n >= 2
    ][:1_000_000]
    merges = train_bpe_from_counts(counts, n_merges=120, min_pair_count=2)
    ranks = {p: i for i, p in enumerate(merges)}
    cache: dict = {}
    by_src: defaultdict = defaultdict(list)
    for doc_id, src, ws in per_doc:
        by_src[src].append((doc_id, ws))
    rows = []
    for src, docs_ in by_src.items():
        docs_.sort()
        stream: list = []
        for doc_id, ws in docs_:
            for w in ws:
                syms = cache.get(w)
                if syms is None:
                    syms = encode_word(w, ranks)
                    cache[w] = syms
                stream.extend((doc_id, s) for s in syms)
        for k in range(0, len(stream), 64):
            chunk = stream[k : k + 64]
            toks = [s for _, s in chunk]
            dids = [d for d, _ in chunk]
            rows.append(
                (
                    src,
                    k // 64,
                    len(chunk),
                    len(set(dids)),
                    min(dids),
                    hashlib.md5(" ".join(toks).encode()).hexdigest(),
                )
            )
    return _values_sql(
        rows,
        ["shard", "seq_idx", "n_tokens", "n_docs", "first_doc_id", "tok_md5"],
        "sbbbbs",
    )


_BUILDERS["token_pack_sequences"] = oracle_token_pack


def oracle_semantic_dedup() -> str:
    """SemDeDup replica: same DeterministicKMeans fit/assignment as
    oracle_kmeans (bit-reproducible by construction), then the identical
    per-cluster normalized gram + strict-lower-triangle max — the gemm
    shapes match the Spark side exactly because each cluster is processed
    whole on both sides, so every flag and dup_of is an integer fact."""
    from deeptime_spark.clustering.kmeans import deterministic_kmeans_numpy
    from deeptime_spark.clustering.metrics import _euclidean_batch_invariant

    sf = sf_dir()
    X = _embeddings(sf)  # ordered by vec_id; vec_ids are 0..n-1
    sample = X[:4096]
    centers, _ = deterministic_kmeans_numpy(sample, X, n_clusters=8, seed=42, max_iter=8)
    assign = np.argmin(_euclidean_batch_invariant(X, centers), axis=1)
    threshold, max_cluster = 0.45, 4096
    rows = []
    for c in range(8):
        ids = np.flatnonzero(assign == c)
        part = ids[:max_cluster]
        Xc = X[part]
        nrm = np.linalg.norm(Xc, axis=1)
        nrm[nrm == 0.0] = 1.0
        Xn = Xc / nrm[:, None]
        S = Xn @ Xn.T
        n = len(part)
        mask = np.tril(np.ones((n, n), dtype=bool), k=-1)
        neg = np.where(mask, S, -np.inf)
        max_prior = np.max(neg, axis=1, initial=-np.inf)
        arg_prior = np.argmax(neg, axis=1)
        is_dup = max_prior > threshold
        for i in range(n):
            rows.append(
                (
                    int(part[i]),
                    c,
                    int(is_dup[i]),
                    int(part[arg_prior[i]]) if is_dup[i] else -1,
                )
            )
        for i in ids[max_cluster:]:
            rows.append((int(i), c, 0, -1))
    rows.sort()
    return _values_sql(rows, ["vec_id", "cluster", "is_dup", "dup_of"], "bbbb")


_BUILDERS["semantic_dedup"] = oracle_semantic_dedup


def oracle_corpus_clean() -> str:
    """End-to-end pipeline replica: length filter -> exact dedup (min-id
    per md5) -> MinHash-LSH + Jaccard near-dup drop (union-find canonical
    election) -> per-shard concat-and-split packing. Every stage reuses
    the bit-exact replicas above; all outputs are integer facts."""
    import hashlib

    from deeptime_spark.spark_hashes import xxhash64

    sf = sf_dir()
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text, source FROM read_parquet('{sf}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    docs = [(int(i), t, s) for i, t, s in rows]
    # stage 1: token-count filter (Spark: size(split(trim(lower), '\s+')) >= 30)
    s1 = [(i, t, s) for i, t, s in docs if len(_tokens_py(t)) >= 30]
    # stage 2: exact dedup, min-id representative per md5(text)
    seen: dict = {}
    s2 = []
    for i, t, s in s1:
        h = hashlib.md5(t.encode()).hexdigest()
        if h not in seen:
            seen[h] = i
            s2.append((i, t, s))
    # stage 3: near-dup candidates on the SURVIVOR set (bucket caps apply
    # to the filtered corpus, mirroring the Spark pipeline), Jaccard
    # verification, union-find, drop non-canonical members
    sigs = _minhash_sigs(sf)  # per-doc signatures, corpus-independent
    n_hashes, bands = 32, 8
    r = n_hashes // bands
    buckets: dict = {}
    for i, _, _ in s2:
        sig = sigs[i]
        for b in range(bands):
            block = sig[b * r : (b + 1) * r]
            key_str = "[" + ", ".join(str(int(v)) for v in block) + "]"
            buckets.setdefault((b, xxhash64(key_str.encode())), []).append(i)
    grams = {i: _word_ngram_set(t) for i, t, _ in s2}
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in sorted(_bucket_pairs_py(buckets)):
        ga, gb = grams[a], grams[b]
        if len(ga & gb) / max(len(ga | gb), 1) >= 0.2:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
    losers = {n for n in parent if find(n) != n}
    s3 = [(i, t, s) for i, t, s in s2 if i not in losers]
    # stage 4: concat-and-split packing per source shard, budget 512
    out = []
    offsets: dict = {}
    for i, t, s in s3:  # already sorted by doc_id
        n_tok = len([x for x in _tokens_py(t) if x != ""])
        off = offsets.get(s, 0)
        offsets[s] = off + n_tok
        pf = off // 512
        pl = (off + max(n_tok - 1, 0)) // 512
        out.append((i, s, n_tok, off, pf, pl, int(pf != pl)))
    body = ",\n".join(
        f"({i}, '{s}', {n}, {o}, {pf}, {pl}, {st})" for i, s, n, o, pf, pl, st in out
    )
    return f"""SELECT CAST(c0 AS BIGINT) AS doc_id, c1 AS shard,
       CAST(c2 AS BIGINT) AS n_tokens, CAST(c3 AS BIGINT) AS tok_offset,
       CAST(c4 AS BIGINT) AS pack_first, CAST(c5 AS BIGINT) AS pack_last,
       CAST(c6 AS BIGINT) AS straddles
FROM (VALUES\n{body}\n) AS v(c0, c1, c2, c3, c4, c5, c6)"""


_BUILDERS["corpus_clean_pipeline"] = oracle_corpus_clean


def oracle_doc_decontaminate() -> str:
    """Decontamination replica: distinct word 8-grams per document via
    the same normalize/split mirror, probe set = union of grams of docs
    with id < 20, per-doc count of grams in the probe set."""
    sf = sf_dir()
    docs = _docs(sf)
    grams = {i: _word_ngram_set(t, 8) for i, t in docs}
    probe_set: set = set()
    for i, _ in docs:
        if i < 20:
            probe_set |= grams[i]
    rows = []
    for i, _ in docs:
        hits = len(grams[i] & probe_set)
        rows.append((i, hits, int(hits >= 1)))
    return _values_sql(rows, ["doc_id", "n_contaminated_grams", "contaminated"], "bbb")


_BUILDERS["doc_decontaminate"] = oracle_doc_decontaminate


# ----------------------------------------------------------- sketches


def _hll_py(values, p: int = 12):
    """Replica of operators/sketches.py hll_registers + hll_estimate_rows:
    xxhash64(seed 42) -> top-p register index, low-(64-p) sub-hash,
    rho = leading zeros + 1, exact integer register sum, Flajolet
    estimate with linear-counting small-range correction."""
    import math

    from deeptime_spark.spark_hashes import xxhash64

    M64 = (1 << 64) - 1
    W = 64 - p
    m = 1 << p
    regs: dict = {}
    for v in values:
        h = xxhash64(v.encode()) & M64
        idx = h >> W
        w = h & ((1 << W) - 1)
        rho = (W - w.bit_length() + 1) if w else (W + 1)
        if rho > regs.get(idx, 0):
            regs[idx] = rho
    S = sum(1 << (W + 1 - rho) for rho in regs.values())
    V = m - len(regs)
    Z = V + S / float(1 << (W + 1))
    # share the engine's alpha (has the m=16/32/64 special cases) so the
    # bit-exact-replica claim holds for every accepted p, not just p>=7
    from deeptime_spark.operators.sketches import _hll_alpha

    alpha = _hll_alpha(m)
    E = alpha * m * m / Z
    if E <= 2.5 * m and V > 0:
        E = m * math.log(m / V)
    return len(regs), E


def oracle_doc_hll_shingles() -> str:
    """Per-lang HLL distinct 5-shingle estimates next to the exact
    count, replayed value-for-value (same hash, same integer register
    sum, same driver-side finish arithmetic)."""
    sf = sf_dir()
    con = duckdb.connect()
    rows_in = con.execute(
        f"SELECT lang, text FROM read_parquet('{sf}/documents.parquet') ORDER BY lang"
    ).fetchall()
    sets: dict = {}
    for lang, text in rows_in:
        sets.setdefault(lang, set()).update(_shingle_set(_norm_text(text or "")))
    rows = []
    for lang in sorted(sets):
        n_reg, est = _hll_py(sets[lang])
        rows.append((lang, n_reg, round(est, 6), len(sets[lang])))
    return _values_sql(
        rows, ["lang", "n_registers", "est_distinct", "exact_distinct"], "sbdb"
    )


_BUILDERS["doc_hll_shingles"] = oracle_doc_hll_shingles


def oracle_doc_hll_rollup() -> str:
    """Persisted-sketch rollup replica: per-(lang, doc_id%7) daily HLL
    register relations merged across days are BIT-IDENTICAL to the
    one-pass per-lang sketch — max(rho) over days is the rho of the
    global min sub-hash because bit_length is monotone — so the merged
    estimate replays with the same _hll_py finish. n_days counts day
    buckets that contributed at least one register; every doc yields
    >= 1 shingle (_shingle_set returns [norm] for short text), so that
    is simply the distinct doc_id%7 per lang."""
    sf = sf_dir()
    con = duckdb.connect()
    rows_in = con.execute(
        f"SELECT lang, doc_id, text FROM read_parquet('{sf}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    sets: dict = {}
    days: dict = {}
    for lang, doc_id, text in rows_in:
        sets.setdefault(lang, set()).update(_shingle_set(_norm_text(text or "")))
        days.setdefault(lang, set()).add(int(doc_id) % 7)
    rows = []
    for lang in sorted(sets):
        n_reg, est = _hll_py(sets[lang])
        rows.append((lang, len(days[lang]), n_reg, round(est, 6)))
    return _values_sql(
        rows, ["lang", "n_days", "n_registers", "est_distinct"], "sbbd"
    )


_BUILDERS["doc_hll_rollup"] = oracle_doc_hll_rollup


def oracle_doc_bloom_decontaminate() -> str:
    """Bloom decontamination replica: word 8-grams of probe docs
    (doc_id % 20 == 0) folded into a 2^16-bit k=4 filter via
    Kirsch-Mitzenmacher double hashing off xxhash64, per-doc count of
    bloom-positive grams."""
    sf = sf_dir()
    docs = _docs(sf)
    m_bits, k = 1 << 16, 4
    M64 = (1 << 64) - 1

    from deeptime_spark.spark_hashes import xxhash64

    def positions(g: str):
        h = xxhash64(g.encode()) & M64
        h1 = h & 0xFFFFFFFF
        h2 = h >> 32
        return {(h1 + i * h2 + i * i) % m_bits for i in range(k)}

    grams = {i: _word_ngram_set(t, 8) for i, t in docs}
    pos_cache = {g: positions(g) for gs in grams.values() for g in gs}
    bits: set = set()
    for i, _ in docs:
        if i % 20 == 0:
            for g in grams[i]:
                bits |= pos_cache[g]
    rows = []
    for i, _ in docs:
        hits = sum(1 for g in grams[i] if pos_cache[g] <= bits)
        rows.append((i, len(grams[i]), hits, int(hits >= 1)))
    return _values_sql(
        rows, ["doc_id", "n_grams", "n_bloom_hits", "contaminated"], "bbbb"
    )


_BUILDERS["doc_bloom_decontaminate"] = oracle_doc_bloom_decontaminate


def oracle_doc_cms_word_counts() -> str:
    """Count-min replica: tokenize with the trim/lower/collapse mirror,
    fold every occurrence into the 4x4096 cell map via the same
    double-hashed positions, point-query the exact top-20 words
    (count desc, word asc)."""
    sf = sf_dir()
    docs = _docs(sf)
    width, depth = 4096, 4
    M64 = (1 << 64) - 1

    from collections import Counter

    from deeptime_spark.spark_hashes import xxhash64

    counts: Counter = Counter()
    for _, t in docs:
        n = _norm_text(t or "")
        counts.update(w for w in n.split(" ") if w)

    def cells(w: str):
        h = xxhash64(w.encode()) & M64
        h1, h2 = h & 0xFFFFFFFF, h >> 32
        return [(r, (h1 + r * h2 + r * r) % width) for r in range(depth)]

    sketch: Counter = Counter()
    for w, c in counts.items():
        for cell in cells(w):
            sketch[cell] += c
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = [(w, c, min(sketch[cell] for cell in cells(w))) for w, c in top]
    return _values_sql(rows, ["word", "exact_n", "cms_est"], "sbb")


_BUILDERS["doc_cms_word_counts"] = oracle_doc_cms_word_counts


def oracle_doc_bm25_search() -> str:
    """BM25 replica: same tokenization mirror, same driver-computed idf
    doubles, same sorted-term fp summation order — bit-exact with the
    codegen score expression."""
    import math

    sf = sf_dir()
    docs = _docs(sf)
    k1, b, k = 1.2, 0.75, 15
    terms = sorted(set("hash join fast scan table".split()))
    tf_by_doc: dict = {}
    dl: dict = {}
    dfreq: dict = {}
    for i, t in docs:
        toks = _tokens_py(t or "")
        toks = [x for x in toks if x]
        dl[i] = len(toks)
        counts: dict = {}
        for x in toks:
            counts[x] = counts.get(x, 0) + 1
        tf_by_doc[i] = counts
        for x in counts:
            dfreq[x] = dfreq.get(x, 0) + 1
    n_docs = len(docs)
    avgdl = sum(dl.values()) / float(n_docs)
    idf = {
        t: math.log(1.0 + (n_docs - dfreq.get(t, 0) + 0.5) / (dfreq.get(t, 0) + 0.5))
        for t in terms
    }
    scored = []
    for i, _ in docs:
        counts = tf_by_doc[i]
        if not any(t in counts for t in terms):
            continue  # doc never enters the pivoted hits relation
        s = 0.0
        matched = 0
        norm_len = (1.0 - b) + b * (dl[i] / avgdl)
        for t in terms:
            tf_c = float(counts.get(t, 0))
            s = s + idf[t] * (tf_c * (k1 + 1.0) / (tf_c + k1 * norm_len))
            if tf_c > 0:
                matched += 1
        scored.append((i, s, matched))
    scored.sort(key=lambda r: (-r[1], r[0]))
    rows = [(i, _spark_round(s, 6), m) for i, s, m in scored[:k]]
    return _values_sql(rows, ["doc_id", "score", "n_matched"], "bdb")


_BUILDERS["doc_bm25_search"] = oracle_doc_bm25_search


def _bm25_scored(sf: str, query: str, k1: float = 1.2, b: float = 0.75):
    """Shared BM25 replica core: fully scored+sorted (doc, score,
    matched) list for docs hitting >=1 query term — same tokenization
    mirror, driver-idf doubles, and sorted-term fp summation as
    retrieval.py:bm25_search."""
    import math

    docs = _docs(sf)
    terms = sorted(set(query.split()))
    tf_by_doc: dict = {}
    dl: dict = {}
    dfreq: dict = {}
    for i, t in docs:
        toks = [x for x in _tokens_py(t or "") if x]
        dl[i] = len(toks)
        counts: dict = {}
        for x in toks:
            counts[x] = counts.get(x, 0) + 1
        tf_by_doc[i] = counts
        for x in counts:
            dfreq[x] = dfreq.get(x, 0) + 1
    n_docs = len(docs)
    avgdl = sum(dl.values()) / float(n_docs)
    idf = {
        t: math.log(1.0 + (n_docs - dfreq.get(t, 0) + 0.5) / (dfreq.get(t, 0) + 0.5))
        for t in terms
    }
    scored = []
    for i, _ in docs:
        counts = tf_by_doc[i]
        if not any(t in counts for t in terms):
            continue
        s = 0.0
        matched = 0
        norm_len = (1.0 - b) + b * (dl[i] / avgdl)
        for t in terms:
            tf_c = float(counts.get(t, 0))
            s = s + idf[t] * (tf_c * (k1 + 1.0) / (tf_c + k1 * norm_len))
            if tf_c > 0:
                matched += 1
        scored.append((i, s, matched))
    scored.sort(key=lambda r: (-r[1], r[0]))
    return scored


def oracle_doc_hybrid_search() -> str:
    """Hybrid RRF replica: BM25 candidate ranks (shared _bm25_scored
    core), fold-exact dense cosine ranks against the vec_id-0 query
    vector, then the same fixed-order reciprocal-rank sum as
    retrieval.py:rrf_fuse (0.0 + sparse term + dense term)."""
    sf = sf_dir()
    k, k_each, rrf_k = 15, 50, 60.0
    sparse_rank = {
        i: r
        for r, (i, _, _) in enumerate(
            _bm25_scored(sf, "hash join fast scan table")[:k_each], start=1
        )
    }
    X = _embeddings(sf)
    nq = _fold_norm(X[0])
    dense_scored = sorted(
        (-(_fold_dot(X[i], X[0]) / (_fold_norm(X[i]) * nq)), i)
        for i in range(len(X))
    )
    dense_rank = {i: r for r, (_, i) in enumerate(dense_scored[:k_each], start=1)}
    fused = []
    for i in set(sparse_rank) | set(dense_rank):
        s = 0.0
        s = s + (1.0 / (rrf_k + float(sparse_rank[i])) if i in sparse_rank else 0.0)
        s = s + (1.0 / (rrf_k + float(dense_rank[i])) if i in dense_rank else 0.0)
        fused.append((i, s))
    fused.sort(key=lambda r: (-r[1], r[0]))
    rows = [
        (i, _spark_round(s, 6), sparse_rank.get(i, -1), dense_rank.get(i, -1))
        for i, s in fused[:k]
    ]
    return _values_sql(
        rows, ["doc_id", "rrf_score", "rank_bm25", "rank_dense"], "bdbb"
    )


_BUILDERS["doc_hybrid_search"] = oracle_doc_hybrid_search


def oracle_streaming_hll() -> str:
    """Streaming HLL replay: same replica as doc_hll_shingles minus the
    exact column (the streaming query emits sketch state + estimate)."""
    sf = sf_dir()
    con = duckdb.connect()
    rows_in = con.execute(
        f"SELECT lang, text FROM read_parquet('{sf}/documents.parquet') ORDER BY lang"
    ).fetchall()
    sets: dict = {}
    for lang, text in rows_in:
        sets.setdefault(lang, set()).update(_shingle_set(_norm_text(text or "")))
    rows = []
    for lang in sorted(sets):
        n_reg, est = _hll_py(sets[lang])
        rows.append((lang, n_reg, round(est, 6)))
    return _values_sql(rows, ["lang", "n_registers", "est_distinct"], "sbd")


_BUILDERS["streaming_hll_replay"] = oracle_streaming_hll


def oracle_doc_sparse_cosine() -> str:
    """Sparse-cosine replica: rare word-trigram inverted index
    (df <= 10, bucket cap 64 by ascending id), exact integer tf dot +
    sqrt-norm cosine, threshold 0.9 — same arithmetic as the codegen
    expression."""
    import math
    from itertools import combinations

    sf = sf_dir()
    docs = _docs(sf)
    max_df, max_bucket, threshold = 10, 64, 0.9
    tf: dict = {}
    for i, t in docs:
        counts: dict = {}
        for x in _tokens_py(t or ""):
            if x:
                counts[x] = counts.get(x, 0) + 1
        tf[i] = counts
    inv: dict = {}
    for i, t in docs:
        for g in _word_ngram_set(t or "", 3):
            inv.setdefault(g, []).append(i)
    cand = set()
    for g, ids in inv.items():
        if len(ids) > max_df:
            continue
        for a, b in combinations(sorted(ids)[:max_bucket], 2):
            cand.add((a, b))
    n2 = {i: sum(v * v for v in c.values()) for i, c in tf.items()}
    rows = []
    for a, b in sorted(cand):
        ca, cb = tf[a], tf[b]
        if len(ca) > len(cb):
            ca, cb = cb, ca
        dot = sum(v * cb.get(k, 0) for k, v in ca.items())
        if dot == 0:
            continue  # no shared term -> absent from the inner-join result
        cos = float(dot) / (math.sqrt(float(n2[a])) * math.sqrt(float(n2[b])))
        if cos >= threshold:
            rows.append((a, b, _spark_round(cos, 6)))
    return _values_sql(rows, ["id_a", "id_b", "cosine"], "bbd")


_BUILDERS["doc_sparse_cosine"] = oracle_doc_sparse_cosine


def oracle_doc_leakage_split() -> str:
    """Leakage-safe split replica: union-find over the verified pair set
    (same machinery as oracle_dedup_components), cluster rep = component
    min (singletons self), split = xxhash64(f'{rep}:7') bucket with
    90/5/5 thresholds."""
    sf = sf_dir()
    pairs, _ = _minhash_candidates(sf)
    grams = {i: _word_ngram_set(t) for i, t in _docs(sf)}
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in sorted(pairs):
        ga, gb = grams[a], grams[b]
        if len(ga & gb) / max(len(ga | gb), 1) >= 0.2:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

    from deeptime_spark.spark_hashes import xxhash64

    stats: dict = {}
    split_by_rep: dict = {}
    for i, _ in _docs(sf):
        rep = find(i) if i in parent else i
        # Python % on the SIGNED hash == Spark pmod (non-negative result)
        bucket = xxhash64(f"{rep}:7".encode()) % 100
        split = "train" if bucket < 90 else ("val" if bucket < 95 else "test")
        s = stats.setdefault(split, [0, set()])
        s[0] += 1
        s[1].add(rep)
        split_by_rep.setdefault(rep, set()).add(split)
    leaks = sum(1 for v in split_by_rep.values() if len(v) > 1)
    rows = [
        (split, n, len(reps), leaks)
        for split, (n, reps) in sorted(stats.items())
    ]
    return _values_sql(
        rows, ["split", "n_docs", "n_clusters", "leaked_clusters"], "sbbb"
    )


_BUILDERS["doc_leakage_split"] = oracle_doc_leakage_split


def oracle_event_kmv_quantiles() -> str:
    """Bottom-k sample replica: order every event by (signed
    xxhash64(str(event_id)), event_id), keep 256 per type, nearest-rank
    quantiles of the sampled values — the values are exact copies of
    the parquet doubles, no arithmetic."""
    import math

    from deeptime_spark.spark_hashes import xxhash64

    sf = sf_dir()
    con = duckdb.connect()
    rows_in = con.execute(
        f"SELECT event_type, event_id, value FROM read_parquet('{sf}/events.parquet')"
    ).fetchall()
    by_type: dict = {}
    for et, eid, v in rows_in:
        by_type.setdefault(et, []).append((xxhash64(str(int(eid)).encode()), int(eid), float(v)))
    out = []
    for et in sorted(by_type):
        sample = sorted(by_type[et])[:256]
        vals = sorted(v for _, _, v in sample)
        n = len(vals)
        qs = [vals[max(math.ceil(q * n) - 1, 0)] for q in (0.25, 0.5, 0.75, 0.9)]
        out.append((et, n, *qs))
    return _values_sql(
        out, ["event_type", "n_sample", "q25", "q50", "q75", "q90"], "sbdddd"
    )


_BUILDERS["event_kmv_quantiles"] = oracle_event_kmv_quantiles


def oracle_doc_incremental_dedup() -> str:
    """Incremental-dedup replica: same signatures/banding as
    oracle_minhash_bands (_minhash_sigs), buckets split into old
    (doc_id%3 != 0) and new (doc_id%3 == 0) membership, (new, old)
    pairs for every shared bucket (NO cap — the probe join has none),
    est = exact agreement ratio, threshold 0.5."""
    from deeptime_spark.spark_hashes import xxhash64

    sf = sf_dir()
    sigs = _minhash_sigs(sf, 32)
    bands, r = 8, 4
    buckets: dict = {}
    for doc_id, sig in sigs.items():
        for b in range(bands):
            block = sig[b * r : (b + 1) * r]
            key_str = "[" + ", ".join(str(int(v)) for v in block) + "]"
            buckets.setdefault((b, xxhash64(key_str.encode())), []).append(doc_id)
    pairs = set()
    for members in buckets.values():
        new_ids = [i for i in members if i % 3 == 0]
        old_ids = [i for i in members if i % 3 != 0]
        for n in new_ids:
            for o in old_ids:
                pairs.add((n, o))
    rows = []
    for n, o in sorted(pairs):
        est = float(np.sum(sigs[n] == sigs[o])) / 32.0
        if est >= 0.5:
            rows.append((n, o, _spark_round(est, 6)))
    return _values_sql(rows, ["new_id", "old_id", "est_jaccard"], "bbd")


_BUILDERS["doc_incremental_dedup"] = oracle_doc_incremental_dedup


# streaming replay of the index probe must equal the batch probe
_BUILDERS["streaming_incremental_dedup"] = oracle_doc_incremental_dedup


def oracle_corpus_overlap_kmv(k: int = 256, shingle_k: int = 5) -> str:
    """Per-source KMV sketches re-derived with the xxhash64 replica as
    VALUES literals; the pair algebra (union bottom-k, tau, matched
    fraction, the three estimates) is replayed INDEPENDENTLY by DuckDB
    SQL — only the hash values themselves are Python-computed, the set
    arithmetic and the IEEE-754 estimator expressions are the SQL
    engine's own."""
    from deeptime_spark.spark_hashes import xxhash64, xxhash64_fixed

    sf = sf_dir()
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT source, text FROM read_parquet('{sf}/documents.parquet')"
    ).fetchall()
    con.close()
    per_src: dict = {}
    for src, text in rows:
        per_src.setdefault(src, set()).update(
            _shingle_set(_norm_text(text), shingle_k)
        )
    sk_rows = []
    for src in sorted(per_src):
        enc = [s.encode() for s in per_src[src]]
        if enc and all(len(b) == shingle_k for b in enc):
            arr = np.frombuffer(b"".join(enc), dtype=np.uint8).reshape(
                len(enc), shingle_k
            )
            hs = xxhash64_fixed(arr)
        else:
            hs = np.array([xxhash64(b) for b in enc], dtype=np.int64)
        # Spark's kmv_sketch dedups on the HASH (distinct (source, h)),
        # orders signed-ascending, keeps the k smallest
        hs = np.unique(hs.astype(np.int64))
        sk_rows.extend((src, int(h)) for h in hs[:k])
    sketch_sql = _values_sql(sk_rows, ["source", "h"], "sb")
    two64 = "CAST('1.8446744073709552e+19' AS DOUBLE)"
    two63 = "CAST('9.223372036854776e+18' AS DOUBLE)"
    return f"""
WITH sk AS ({sketch_sql}),
srcs AS (SELECT DISTINCT source FROM sk),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM srcs a, srcs b WHERE a.source < b.source
),
u AS (
  SELECT p.source_a, p.source_b, s.h, count(*) AS cnt
  FROM pairs p JOIN sk s ON s.source = p.source_a OR s.source = p.source_b
  GROUP BY 1, 2, 3
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rn
  FROM u
),
agg AS (
  SELECT source_a, source_b,
         CAST(count(*) AS BIGINT) AS k_used,
         CAST(max(h) AS BIGINT) AS tau,
         CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common
  FROM r WHERE rn <= {int(k)}
  GROUP BY 1, 2
)
SELECT source_a, source_b, k_used, tau, n_common,
  CAST(n_common AS DOUBLE) / CAST(k_used AS DOUBLE) AS jaccard_est,
  CASE WHEN k_used < {int(k)} THEN CAST(k_used AS DOUBLE)
       ELSE (CAST(k_used AS DOUBLE) - 1.0) * {two64} / (CAST(tau AS DOUBLE) + {two63})
  END AS union_est,
  (CAST(n_common AS DOUBLE) / CAST(k_used AS DOUBLE))
    * (CASE WHEN k_used < {int(k)} THEN CAST(k_used AS DOUBLE)
            ELSE (CAST(k_used AS DOUBLE) - 1.0) * {two64} / (CAST(tau AS DOUBLE) + {two63})
       END) AS intersection_est
FROM agg
"""


_BUILDERS["corpus_overlap_kmv"] = oracle_corpus_overlap_kmv


def oracle_media_phash_pairs() -> str:
    """Driver numpy replica of the spectral image-dedup pipeline: same
    PPM synthesis and variant planting as the aHash oracle, hashed with
    the fixed-point-DCT phash_bytes (integer-exact, so the replica
    reproduces every bit), then brute-force Hamming pairs at radius 4 —
    the banded join has guaranteed recall there."""
    from deeptime_spark.operators.multimodal import (
        phash_bytes,
        synth_ppm,
        synth_ppm_variant,
    )

    con = duckdb.connect()
    ids = [
        int(r[0])
        for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{sf_dir()}/documents.parquet')"
        ).fetchall()
    ]
    con.close()
    sigs = {}
    for i in ids:
        if i % 3 == 0:
            sigs[i] = phash_bytes(synth_ppm(16, 16, seed=i))
        if i % 15 == 0:
            sigs[i + 7_000_000] = phash_bytes(synth_ppm_variant(16, 16, seed=i))
    keys = sorted(sigs)
    h = np.array([sigs[k] & 0xFFFFFFFFFFFFFFFF for k in keys], dtype=np.uint64)
    rows = []
    for a in range(len(keys)):
        x = h[a] ^ h[a + 1 :]
        d = np.zeros(len(x), dtype=np.int64)
        while x.any():
            d += (x & np.uint64(1)).astype(np.int64)
            x >>= np.uint64(1)
        for off in np.nonzero(d <= 4)[0]:
            b = a + 1 + int(off)
            rows.append((keys[a], keys[b], int(d[off])))
    return _values_sql(rows, ["id_a", "id_b", "hamming"], "bbb")


_BUILDERS["media_phash_pairs"] = oracle_media_phash_pairs


def oracle_doc_bpe_fertility() -> str:
    """Per-language tokenizer fertility: wraps the full per-doc BPE
    replay (oracle_bpe — word counts, merge loop, greedy encode all
    re-derived outside Spark) as a CTE, joins the documents table for
    lang, and lets DuckDB do the aggregation and the single fertility
    division independently."""
    per_doc = oracle_bpe()
    return f"""
WITH per_doc AS ({per_doc})
SELECT d.lang,
       CAST(SUM(p.n_words) AS BIGINT) AS n_words,
       CAST(SUM(p.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(p.n_bpe_tokens) AS DOUBLE) / CAST(SUM(p.n_words) AS DOUBLE) AS fertility
FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
GROUP BY d.lang
"""


_BUILDERS["doc_bpe_fertility"] = oracle_doc_bpe_fertility


def oracle_event_bfs() -> str:
    """Dense Python BFS replica on the 4001-node event multigraph
    (undirected distinct edges, seeds {0,1,2}, depth cap 20)."""
    from collections import deque

    con = duckdb.connect()
    ids = [
        int(r[0])
        for r in con.execute(
            f"SELECT event_id FROM read_parquet('{sf_dir()}/events.parquet')"
        ).fetchall()
    ]
    con.close()
    adj: dict = {}
    for i in ids:
        s = i % 4001
        d = (i * 31 + i // 4001) % 4001
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    dist = {0: 0, 1: 0, 2: 0}
    dq = deque([(0, 0), (1, 0), (2, 0)])
    while dq:
        v, d = dq.popleft()
        if d >= 20:
            continue
        for w in adj.get(v, ()):
            if w not in dist:
                dist[w] = d + 1
                dq.append((w, d + 1))
    rows = sorted(dist.items())
    return _values_sql(rows, ["node", "dist"], "bb")


_BUILDERS["event_bfs"] = oracle_event_bfs


# twin of __spark_entry__.oracle_sql()["doc_setsim_pairs"] — duplicated
# here (NOT imported: calling back into oracle_sql() from a builder would
# recurse through estimator_oracles); drift between the two copies fails
# the doc_setsim_pairs vs doc_setsim_drop cross-check at the verify gate
_SETSIM_PAIRS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_distinct(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                   x -> x != '')) AS ts
  FROM documents
  WHERE source = 'src0'
    AND len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '')) > 0
), ex AS (
  SELECT doc_id, unnest(ts) AS tok FROM toks
), dfr AS (
  SELECT tok, count(*) AS df FROM ex GROUP BY tok
), ord_ex AS (
  SELECT e.doc_id, e.tok,
         row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.tok) AS pos,
         count(*) OVER (PARTITION BY e.doc_id) AS sz
  FROM ex e JOIN dfr d ON e.tok = d.tok
), pref AS (
  SELECT doc_id, tok, sz FROM ord_ex
  WHERE pos <= sz - ((80 * sz + 99) // 100) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
  WHERE 100 * least(a.sz, b.sz) >= 80 * greatest(a.sz, b.sz)
), v AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(x.ts, y.ts)) AS i,
         len(x.ts) + len(y.ts) - len(list_intersect(x.ts, y.ts)) AS u
  FROM cand c JOIN toks x ON x.doc_id = c.id_a JOIN toks y ON y.doc_id = c.id_b
)
SELECT id_a, id_b FROM v WHERE 100 * i >= 80 * u
"""


def oracle_doc_setsim_drop() -> str:
    """Exact-dedup composition replica: the PPJoin pair relation comes
    from the SAME pure SQL the doc_setsim_pairs oracle uses (DuckDB
    computes candidates + verification independently); Python
    union-finds the clusters and the non-canonical members become a
    literal loser set that SQL anti-joins and aggregates."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir()}/documents.parquet')"
    )
    pairs = con.execute(_SETSIM_PAIRS_SQL).fetchall()
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    members: dict = {}
    for x in set(parent):
        members.setdefault(find(x), set()).add(x)
    losers = sorted(
        m for root, ms in members.items() for m in ms | {root} if m != min(ms | {root})
    )
    con.close()
    # an empty loser set must keep EVERY row — "NOT IN (NULL)" would
    # evaluate NULL for all rows and silently empty the oracle
    not_in = (
        f"AND doc_id NOT IN ({', '.join(str(v) for v in losers)})"
        if losers
        else ""
    )
    return f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS chars_kept
FROM documents
WHERE source = 'src0' {not_in}
GROUP BY lang
"""


_BUILDERS["doc_setsim_drop"] = oracle_doc_setsim_drop


def oracle_event_kmv_rollup(k: int = 256) -> str:
    """Python replica of the bottom-k quantile rollup. The monoid
    identity (bottom-k of unioned per-day bottom-ks == bottom-k of the
    full data) lets the replica cut the k smallest (xxhash64(id), id)
    per type directly; nearest-rank quantiles over the sample's integer
    cents. Cents come from DuckDB's round(value*100) — the same
    HALF_UP rounding Spark applies (pinned by the zorder/cusum
    oracles)."""
    from deeptime_spark.spark_hashes import xxhash64

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) "
        f"FROM read_parquet('{sf_dir()}/events.parquet')"
    ).fetchall()
    con.close()
    by_type: dict = {}
    for et, eid, cents in rows:
        by_type.setdefault(et, []).append(
            (xxhash64(str(int(eid)).encode()), int(eid), int(cents))
        )
    out = []
    for et in sorted(by_type):
        sample = sorted(by_type[et])[:k]
        vals = sorted(c for _, _, c in sample)
        n = len(vals)
        qs = [vals[max((q * n + 99) // 100, 1) - 1] for q in (25, 50, 75, 90)]
        out.append((et, n, *qs))
    return _values_sql(
        out, ["event_type", "n_sample", "q25", "q50", "q75", "q90"], "sbbbbb"
    )


_BUILDERS["event_kmv_rollup"] = oracle_event_kmv_rollup


# ------------------------------------------------ round-9b additions

def oracle_corpus_global_shuffle() -> str:
    """Offline replica of mixing.global_shuffle(n_shards=4, salt=7,
    n_buckets=16) on documents: shard = pmod(xxhash64(key#shuffle7), 4),
    order within shard = (bucket, h, doc_id) lexicographic with
    bucket = pmod(xxhash64(key#bucket7), 16) — the same content-
    addressed permutation, replayed with the engine-independent XXH64
    replica (spark_hashes.py). Python's % on a positive modulus IS
    pmod, so signed hashes need no adjustment."""
    from deeptime_spark.spark_hashes import xxhash64

    con = duckdb.connect()
    ids = [
        int(r[0])
        for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{sf_dir()}/documents.parquet')"
        ).fetchall()
    ]
    con.close()
    n_shards, n_buckets, salt = 4, 16, 7
    placed = []
    for i in ids:
        h = xxhash64(f"{i}#shuffle{salt}".encode())
        b = xxhash64(f"{i}#bucket{salt}".encode()) % n_buckets
        placed.append((h % n_shards, b, h, i))
    rows = []
    for s in range(n_shards):
        members = sorted(p for p in placed if p[0] == s)
        rows.extend((i, s, pos) for pos, (_, _, _, i) in enumerate(members))
    rows.sort()
    return _values_sql(rows, ["doc_id", "shard", "pos"], "bbb")


_BUILDERS["corpus_global_shuffle"] = oracle_corpus_global_shuffle


def _sq8_decoded(X: np.ndarray) -> np.ndarray:
    """Replica of similarity.sq8_quantize + sq8_decode: per-dim min/max
    (exact), driver-computed inv/step literals, floor(x*inv + 0.5)
    codes, (code+128)*step + min reconstruction — every float op in the
    same order the JVM expressions run it."""
    import math

    n, d = X.shape
    mins = [float(np.min(X[:, j])) for j in range(d)]
    maxs = [float(np.max(X[:, j])) for j in range(d)]
    invs = [
        (255.0 / (maxs[j] - mins[j])) if maxs[j] > mins[j] else 0.0
        for j in range(d)
    ]
    steps = [
        ((maxs[j] - mins[j]) / 255.0) if maxs[j] > mins[j] else 0.0
        for j in range(d)
    ]
    dec = np.empty_like(X)
    for i in range(n):
        for j in range(d):
            x = float(X[i, j]) - mins[j]
            code = math.floor(x * invs[j] + 0.5)
            code = max(0, min(255, code)) - 128
            dec[i, j] = (float(code) + 128.0) * steps[j] + mins[j]
    return dec


def oracle_embedding_sq8_recall() -> str:
    """Recall@5 of the asymmetric SQ8 ranking (corpus reconstructed from
    int8 codes, queries full-precision) against the exact cosine top-5,
    per query — the quantization-error gate for the 4x-smaller serving
    format."""
    sf = sf_dir()
    X = _embeddings(sf)
    D = _sq8_decoded(X)
    q_ids = [i for i in range(len(X)) if i < 5]
    k = 5
    rows = []
    for q in q_ids:
        nq = _fold_norm(X[q])
        exact = set(
            i
            for _, i in sorted(
                (-(_fold_dot(X[i], X[q]) / (_fold_norm(X[i]) * nq)), i)
                for i in range(len(X))
            )[:k]
        )
        approx = set(
            i
            for _, i in sorted(
                (-(_fold_dot(D[i], X[q]) / (_fold_norm(D[i]) * nq)), i)
                for i in range(len(X))
            )[:k]
        )
        n_hit = len(exact & approx)
        rows.append((q, k, n_hit, n_hit / float(k)))
    return _values_sql(rows, ["query_id", "n_exact", "n_hit", "recall"], "bbbd")


_BUILDERS["embedding_sq8_recall"] = oracle_embedding_sq8_recall


def oracle_embedding_mmr_rerank() -> str:
    """Replica of similarity.mmr_rerank(k=5, pool=20, lam=0.7) for
    queries vec_id < 5: relevance/pool from the exact fold-arithmetic
    cosine ranking, then the greedy Carbonell-Goldstein selection with
    the SAME numpy reductions the Arrow kernel runs (row-normalized
    float64 matrix, BLAS dot for the redundancy term), ties on lower
    id."""
    sf = sf_dir()
    X = _embeddings(sf)
    q_ids = [i for i in range(len(X)) if i < 5]
    pool, k, lam = 20, 5, 0.7
    rows = []
    for q in q_ids:
        nq = _fold_norm(X[q])
        scored = sorted(
            (-(_fold_dot(X[i], X[q]) / (_fold_norm(X[i]) * nq)), i)
            for i in range(len(X))
        )[:pool]
        ids = [i for _, i in scored]
        rel = np.array([-s for s, _ in scored], dtype=np.float64)
        V = np.array([X[i] for i in ids], dtype=np.float64)
        nrm = np.sqrt((V * V).sum(axis=1))
        nrm[nrm == 0.0] = 1.0
        U = V / nrm[:, None]
        selected: list = []
        remaining = list(range(len(ids)))
        maxred = None  # incremental max-sim-to-selected, as the kernel
        while remaining and len(selected) < k:
            best_j, best_score = None, None
            for j in remaining:
                red = float(maxred[j]) if maxred is not None else 0.0
                score = lam * float(rel[j]) - (1.0 - lam) * red
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
            rows.append(
                (
                    q,
                    ids[best_j],
                    len(selected),
                    _spark_round(float(rel[best_j])),
                    _spark_round(float(best_score)),
                )
            )
    return _values_sql(
        rows,
        ["query_id", "vec_id", "mmr_rank", "relevance", "mmr_score"],
        "bbbdd",
    )


_BUILDERS["embedding_mmr_rerank"] = oracle_embedding_mmr_rerank


def oracle_event_betweenness() -> str:
    """Replica of graph.betweenness_centrality(n_pivots=8,
    directed=False, scale=True) on the event-synthesized 211-node
    graph: same content-addressed pivot choice (8 smallest
    xxhash64("<node>#bcpivot")), per-pivot Brandes BFS + dependency
    accumulation, (n/k)-scaled sums. δ association order differs
    between the Spark hash aggregate and this loop — bounded ~1e-12,
    absorbed by the round-6 output."""
    from deeptime_spark.spark_hashes import xxhash64

    con = duckdb.connect()
    ids = [
        int(r[0])
        for r in con.execute(
            f"SELECT event_id FROM read_parquet('{sf_dir()}/events.parquet')"
        ).fetchall()
    ]
    con.close()
    m = 211
    adj: dict = {}
    nodes = set()
    for i in ids:
        s = i % m
        d = (i * 31 + i // m) % m
        if s != d:
            nodes.update((s, d))
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)  # undirected
    n = len(nodes)
    k = min(8, n)
    pivots = sorted(nodes, key=lambda v: (xxhash64(f"{v}#bcpivot".encode()), v))[:k]
    bc = {v: 0.0 for v in nodes}
    for s in pivots:
        dist = {s: 0}
        sigma = {s: 1}
        order = [s]
        frontier = [s]
        while frontier:
            nxt = []
            for u in frontier:
                for w in adj.get(u, ()):
                    if w not in dist:
                        dist[w] = dist[u] + 1
                        sigma[w] = 0
                        nxt.append(w)
                    if dist[w] == dist[u] + 1:
                        sigma[w] += sigma[u]
            order.extend(nxt)
            frontier = nxt
        delta = {v: 0.0 for v in order}
        for w in reversed(order):
            for v in adj.get(w, ()):
                if dist.get(v, -2) == dist[w] - 1:
                    delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
        for v in order:
            if v != s:
                bc[v] += delta[v]
    factor = float(n) / float(k)
    rows = [(v, _spark_round(bc[v] * factor)) for v in sorted(nodes)]
    return _values_sql(rows, ["node", "betweenness"], "bd")


_BUILDERS["event_betweenness"] = oracle_event_betweenness


def oracle_event_harmonic() -> str:
    """Replica of graph.harmonic_centrality(n_pivots=8, directed=False,
    scale=True) on the 211-node event graph: same content-addressed
    pivots (8 smallest xxhash64("<node>#hcpivot")), per-pivot BFS,
    (n/k)-scaled Σ 1/d. Association order of the 1/d sums differs —
    absorbed by round 6."""
    from deeptime_spark.spark_hashes import xxhash64

    con = duckdb.connect()
    ids = [
        int(r[0])
        for r in con.execute(
            f"SELECT event_id FROM read_parquet('{sf_dir()}/events.parquet')"
        ).fetchall()
    ]
    con.close()
    m = 211
    adj: dict = {}
    nodes = set()
    for i in ids:
        s = i % m
        d = (i * 31 + i // m) % m
        if s != d:
            nodes.update((s, d))
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    n = len(nodes)
    k = min(8, n)
    pivots = sorted(nodes, key=lambda v: (xxhash64(f"{v}#hcpivot".encode()), v))[:k]
    hc = {v: 0.0 for v in nodes}
    for s in pivots:
        dist = {s: 0}
        frontier = [s]
        d = 0
        while frontier:
            d += 1
            nxt = []
            for u in frontier:
                for w in adj.get(u, ()):
                    if w not in dist:
                        dist[w] = d
                        nxt.append(w)
            frontier = nxt
        for v, dv in dist.items():
            if dv > 0:
                hc[v] += 1.0 / float(dv)
    factor = float(n) / float(k)
    rows = [(v, _spark_round(hc[v] * factor)) for v in sorted(nodes)]
    return _values_sql(rows, ["node", "harmonic"], "bd")


_BUILDERS["event_harmonic"] = oracle_event_harmonic


def oracle_embedding_rp_recall() -> str:
    """Recall@5 of the JL random-projection ranking (both sides
    projected by the seeded Gaussian X@G^T/sqrt(16), the exact gemm the
    Arrow kernel runs) against the full-dimension cosine top-5, per
    query."""
    # residual risk, accepted: the kernel's per-batch gemm and this
    # one-shot driver gemm can differ at BLAS-blocking ULP, so a rank-5
    # boundary decided by <1e-13 of cosine could in principle flip —
    # the same accepted class as the hyperplane sign boundaries in the
    # LSH oracles; the fixture's boundary margins are orders larger.
    sf = sf_dir()
    X = _embeddings(sf)
    out_dim = 16
    rng = np.random.default_rng(42)
    proj_T = np.ascontiguousarray(
        (rng.normal(size=(out_dim, X.shape[1])) / float(np.sqrt(out_dim))).T
    )
    Y = X @ proj_T
    q_ids = [i for i in range(len(X)) if i < 5]
    k = 5
    rows = []
    for q in q_ids:
        nq = _fold_norm(X[q])
        exact = set(
            i
            for _, i in sorted(
                (-(_fold_dot(X[i], X[q]) / (_fold_norm(X[i]) * nq)), i)
                for i in range(len(X))
            )[:k]
        )
        nqy = _fold_norm(Y[q])
        approx = set(
            i
            for _, i in sorted(
                (-(_fold_dot(Y[i], Y[q]) / (_fold_norm(Y[i]) * nqy)), i)
                for i in range(len(Y))
            )[:k]
        )
        n_hit = len(exact & approx)
        rows.append((q, k, n_hit, n_hit / float(k)))
    return _values_sql(rows, ["query_id", "n_exact", "n_hit", "recall"], "bbbd")


_BUILDERS["embedding_rp_recall"] = oracle_embedding_rp_recall


def oracle_doc_group_sample() -> str:
    """Replica of mixing.group_sample(n=5, groups=(source,lang)):
    bottom-5 by (xxhash64(key#gsample0), doc_id) per cell."""
    from deeptime_spark.spark_hashes import xxhash64

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, source, lang FROM read_parquet('{sf_dir()}/documents.parquet')"
    ).fetchall()
    con.close()
    cells: dict = {}
    for doc_id, source, lang in rows:
        h = xxhash64(f"{int(doc_id)}#gsample0".encode())
        cells.setdefault((source, lang), []).append((h, int(doc_id)))
    out = []
    for (source, lang), members in cells.items():
        for rank, (_, i) in enumerate(sorted(members)[:5], start=1):
            out.append((source, lang, i, rank))
    out.sort()
    return _values_sql(out, ["source", "lang", "doc_id", "sample_rank"], "ssbb")


_BUILDERS["doc_group_sample"] = oracle_doc_group_sample


def oracle_corpus_tuned_dedup() -> str:
    """Replay of the measure-then-dispatch tuned dedup pipeline on the
    x4 clone-saturated src0 fixture: the S-curve banding choice (shared
    choose_banding — pure driver arithmetic), banding candidates at
    max_bucket=32 via the token-minhash replica, exact qualifying pairs
    via the prefix-filter replica, the gate counts, the dispatch at
    recall floor 0.9, and the chosen path's verified pair count (exact
    integer token-Jaccard predicate on both paths)."""
    from deeptime_spark.operators.dedup import choose_banding

    sf = sf_dir()
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet') "
        "WHERE source = 'src0' ORDER BY doc_id"
    ).fetchall()
    con.close()
    cloned = [(int(i) + j * 10_000_000, t) for (i, t) in docs for j in range(4)]
    bands, rows_per_band = choose_banding(64, 70)
    exact = _ppjoin_exact_pairs(cloned, 70)
    cands = _word_minhash_candidates(cloned, 64, bands, max_bucket=32)
    n_e, n_c = len(exact), len(cands)
    n_h = len(exact & cands)
    rec = None if n_e == 0 else n_h / n_e
    if rec is None or rec >= 0.9:
        method = "lsh_banding"
        ts = {i: set(_token_set(t)) for i, t in cloned}
        n_pairs = 0
        for a, b in cands:
            i = len(ts[a] & ts[b])
            u = len(ts[a]) + len(ts[b]) - i
            # u > 0 mirrors _verify_pairs_token_jaccard's explicit
            # guard: an empty-empty pair never qualifies on either path
            if u > 0 and 100 * i >= 70 * u:
                n_pairs += 1
        pipe = rec
    else:
        method = "ppjoin_exact"
        n_pairs = n_e
        pipe = 1.0
    rows = [
        (
            method,
            bands,
            rows_per_band,
            n_e,
            n_c,
            n_h,
            rec,
            pipe,
            n_pairs,
        )
    ]
    return _values_sql(
        rows,
        [
            "method",
            "bands",
            "rows_per_band",
            "n_exact_probe",
            "n_candidates_probe",
            "n_hit_probe",
            "probe_recall",
            "pipeline_recall",
            "n_pairs",
        ],
        "sbbbbbddb",
    )


_BUILDERS["corpus_tuned_dedup"] = oracle_corpus_tuned_dedup


def oracle_corpus_tuned_dedup_probe() -> str:
    """Probe-mode replay of autotune_near_dedup: group_sample(10 per
    source) membership via the xxhash64 replica, exact pairs on the
    PROBE only, banding candidates on probe (gate) and corpus (chosen
    path), the same u>0-guarded integer token-Jaccard verification of
    the corpus candidates."""
    from deeptime_spark.operators.dedup import choose_banding

    sf = sf_dir()
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text, source FROM read_parquet('{sf}/documents.parquet') "
        "ORDER BY doc_id"
    ).fetchall()
    con.close()
    from deeptime_spark.spark_hashes import xxhash64 as _xxh

    cells: dict = {}
    for doc_id, _, source in rows:
        h = _xxh(f"{int(doc_id)}#gsample0".encode())
        cells.setdefault(source, []).append((h, int(doc_id)))
    probe_ids = {
        i for members in cells.values() for _, i in sorted(members)[:10]
    }
    corpus = [(int(i), t) for (i, t, _) in rows]
    probe = [(i, t) for (i, t) in corpus if i in probe_ids]
    bands, rows_per_band = choose_banding(64, 70)
    exact = _ppjoin_exact_pairs(probe, 70)
    cands = _word_minhash_candidates(probe, 64, bands, max_bucket=256)
    n_e, n_c = len(exact), len(cands)
    n_h = len(exact & cands)
    rec = None if n_e == 0 else n_h / n_e
    if rec is None or rec >= 0.9:
        method = "lsh_banding"
        corpus_cands = _word_minhash_candidates(
            corpus, 64, bands, max_bucket=256
        )
        ts = {i: set(_token_set(t)) for i, t in corpus}
        n_pairs = 0
        for a, b in corpus_cands:
            i = len(ts[a] & ts[b])
            u = len(ts[a]) + len(ts[b]) - i
            if u > 0 and 100 * i >= 70 * u:
                n_pairs += 1
        pipe = rec
    else:
        method = "ppjoin_exact"
        n_pairs = len(_ppjoin_exact_pairs(corpus, 70))
        pipe = 1.0
    out = [
        (
            method,
            bands,
            rows_per_band,
            n_e,
            n_c,
            n_h,
            rec,
            pipe,
            len(probe),
            len(corpus),
            n_pairs,
        )
    ]
    return _values_sql(
        out,
        [
            "method",
            "bands",
            "rows_per_band",
            "n_exact_probe",
            "n_candidates_probe",
            "n_hit_probe",
            "probe_recall",
            "pipeline_recall",
            "n_probe_docs",
            "n_corpus_docs",
            "n_pairs",
        ],
        "sbbbbbddbbb",
    )


_BUILDERS["corpus_tuned_dedup_probe"] = oracle_corpus_tuned_dedup_probe


def oracle_doc_unigram_fertility() -> str:
    """Per-language unigram-LM tokenizer fertility: word counts from the
    DuckDB corpus (independent of Spark), then the IDENTICAL
    deterministic EM+prune trainer and Viterbi encoder (shared
    finalize — the trainer is a pure function of the integer word
    counts, so any Spark-side word-count deviation fails the compare);
    DuckDB does the lang aggregation and the single division."""
    from collections import Counter

    from deeptime_spark.operators.bpe import (
        train_unigram_from_counts,
        unigram_encode_word,
    )

    docs = _docs(sf_dir())
    wc: Counter = Counter()
    per_doc = []
    for doc_id, text in docs:
        ws = [w for w in _tokens_py(text or "") if w]
        per_doc.append((doc_id, ws))
        wc.update(ws)
    # mirror collect_word_counts defaults: min_count=2 + the 1M top-k cut
    counts = [
        (w, n)
        for w, n in sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
        if n >= 2
    ][:1_000_000]
    table = dict(
        train_unigram_from_counts(counts, vocab_size=300, seed_size=1500, n_em=2)
    )
    unk = (min(table.values()) if table else 0.0) - 10.0
    cache: dict = {}
    rows = []
    for doc_id, ws in per_doc:
        nt = 0
        for w in ws:
            v = cache.get(w)
            if v is None:
                v = len(unigram_encode_word(w, table, 8, unk))
                cache[w] = v
            nt += v
        rows.append((doc_id, len(ws), nt))
    per_doc_sql = _values_sql(rows, ["doc_id", "n_words", "n_unigram_tokens"], "bbb")
    return f"""
WITH per_doc AS ({per_doc_sql})
SELECT d.lang,
       CAST(SUM(p.n_words) AS BIGINT) AS n_words,
       CAST(SUM(p.n_unigram_tokens) AS BIGINT) AS n_unigram_tokens,
       CAST(SUM(p.n_unigram_tokens) AS DOUBLE) / CAST(SUM(p.n_words) AS DOUBLE) AS fertility
FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
GROUP BY d.lang
"""


_BUILDERS["doc_unigram_fertility"] = oracle_doc_unigram_fertility


# Shared by the customer_record_linkage oracle entry (__spark_entry__
# references this constant) and the entity-resolution builder below —
# one definition, no drift.
CUSTOMER_LINKAGE_PAIRS_SQL = r"""
WITH base AS (
  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nk,
         c_mktsegment AS seg,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal
  FROM customer
), recs AS (
  SELECT id, name, nk, seg, bal FROM base
  UNION ALL
  SELECT id + 10000000,
         substr(name, 1, length(name) - 1) || 'X',
         nk, seg,
         CASE WHEN id % 5 = 0 THEN bal + 1 ELSE bal END
  FROM base
), blk AS (
  SELECT id, nk, seg FROM (
    SELECT id, nk, seg,
           row_number() OVER (PARTITION BY nk, seg ORDER BY id) AS rn
    FROM recs WHERE nk IS NOT NULL AND seg IS NOT NULL
  ) WHERE rn <= 1000
), cand AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM blk a JOIN blk b ON a.nk = b.nk AND a.seg = b.seg AND a.id < b.id
), sims AS (
  SELECT c.id_a, c.id_b,
         1.0 - CAST(levenshtein(coalesce(x.name, ''), coalesce(y.name, '')) AS DOUBLE)
             / CAST(GREATEST(length(coalesce(x.name, '')), length(coalesce(y.name, '')), 1) AS DOUBLE)
           AS sim_name,
         CASE WHEN x.bal = y.bal THEN 1.0 ELSE 0.0 END AS sim_bal
  FROM cand c
  JOIN recs x ON x.id = c.id_a
  JOIN recs y ON y.id = c.id_b
)
SELECT id_a, id_b,
       ROUND(sim_name, 6) AS sim_name,
       sim_bal,
       ROUND(sim_name * (CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE))
             + sim_bal * (CAST(2.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)), 6) AS score
FROM sims
WHERE sim_name * (CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE))
      + sim_bal * (CAST(2.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)) >= 0.9
"""


def oracle_customer_entity_resolution() -> str:
    """Golden-record election replica: the linkage pair relation comes
    from the SAME pure SQL the customer_record_linkage oracle runs;
    Python union-finds the match clusters (min-id canonical — the
    doc_setsim_drop pattern) and the survivors aggregate per segment in
    SQL over the reconstructed record set."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM read_parquet('{sf_dir()}/customer.parquet')"
    )
    pairs = con.execute(CUSTOMER_LINKAGE_PAIRS_SQL).fetchall()
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    members: dict = {}
    for x in set(parent):
        members.setdefault(find(x), set()).add(x)
    losers = sorted(
        m
        for root, ms in members.items()
        for m in ms | {root}
        if m != min(ms | {root})
    )
    con.close()
    not_in = (
        f"AND id NOT IN ({', '.join(str(v) for v in losers)})" if losers else ""
    )
    return f"""
WITH base AS (
  SELECT c_custkey AS id, c_nationkey AS nk, c_mktsegment AS seg,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal
  FROM customer
), recs AS (
  SELECT id, nk, seg, bal FROM base
  UNION ALL
  SELECT id + 10000000, nk, seg,
         CASE WHEN id % 5 = 0 THEN bal + 1 ELSE bal END
  FROM base
)
SELECT seg,
       CAST(count(*) AS BIGINT) AS n_entities,
       CAST(SUM(id) AS BIGINT) AS id_checksum,
       CAST(SUM(bal) AS BIGINT) AS bal_checksum
FROM recs
WHERE 1 = 1 {not_in}
GROUP BY seg
"""


_BUILDERS["customer_entity_resolution"] = oracle_customer_entity_resolution
