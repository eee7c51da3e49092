"""TRAM — transition-based reweighting analysis method.

Reference: ``TRAM``/``TRAMDataset``/``TRAMModel``
(/root/reference/src/deeptime/markov/msm/tram/_tram.py:49-267,
_tram_dataset.py:90-579, _tram_model.py:11-318; C++ update equations in
tram.h:316-470; Wu et al., "Multiensemble Markov models of molecular
thermodynamics and kinetics", PNAS 113 (2016) E3221 — the self-consistent
equations implemented here are the published ones).

Spark/driver split (SURVEY.md §7.4.5): Spark computes the per-ensemble
transition counts and state counts; the self-consistent iteration runs on
the driver in vectorized log-space numpy. Per-sample bias energies are
collected as per-state blocks when the sample count lies inside
``dispatch.BOUNDS["tram_bias"]``; above it they stay distributed,
partitioned by Markov state and persisted — each iteration's f-update is
then ONE shuffle-free mapInPandas fold returning an (N, K+1) table, so
sample volume never touches the driver (the 100 TB path). Both stores
fold each state's samples in (traj_id, t) order, so the two paths are
bit-identical (tests/test_forced_distributed.py).

Data model: DataFrame (therm_state, traj_id, t, state, bias: array<double>
of length n_therm_states) — bias[k] is the configuration's bias energy
evaluated in ensemble k (units of kT).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deeptime_spark import dispatch
from deeptime_spark.base import Estimator, Model
from deeptime_spark.operators.lag import lagged


def _logsumexp(a: np.ndarray, axis=None) -> np.ndarray:
    amax = np.max(a, axis=axis, keepdims=True)
    amax = np.where(np.isfinite(amax), amax, 0.0)
    out = np.log(np.sum(np.exp(a - amax), axis=axis)) + np.squeeze(amax, axis=axis)
    return out


def tram_dataset_df(
    spark,
    dtrajs,
    bias_matrices,
    ttrajs=None,
) -> DataFrame:
    """Organize (dtrajs, bias_matrices[, ttrajs]) into the TRAM frame
    (reference ``TRAMDataset`` layout, _tram_dataset.py:90-200: without
    ttrajs, trajectory index == thermodynamic state).

    ``bias_matrices[i][n, k]`` = bias energy of sample (i, n) evaluated in
    ensemble k; lands in the ``bias`` array column.
    """
    import pandas as pd

    frames = []
    for i, (dtraj, bias) in enumerate(zip(dtrajs, bias_matrices)):
        dtraj = np.asarray(dtraj)
        bias = np.asarray(bias, dtype=np.float64)
        if len(dtraj) != len(bias):
            raise ValueError(f"trajectory {i}: dtraj length {len(dtraj)} != bias rows {len(bias)}")
        therm = np.full(len(dtraj), i) if ttrajs is None else np.asarray(ttrajs[i])
        frames.append(
            pd.DataFrame(
                {
                    "traj_id": np.full(len(dtraj), i, dtype=np.int64),
                    "t": np.arange(len(dtraj), dtype=np.int64),
                    "state": dtraj.astype(np.int32),
                    "therm_state": therm.astype(np.int32),
                    "bias": list(bias),
                }
            )
        )
    return spark.createDataFrame(
        pd.concat(frames, ignore_index=True),
        "traj_id long, t long, state int, therm_state int, bias array<double>",
    )


def _lag_counts(df: DataFrame, lagtime: int, state_col: str, therm_col: str, bias_col: str) -> dict:
    """Arrays ``k, i, j, n`` from one aggregate: ``n`` samples of ensemble
    ``k`` in state ``i >= 0`` whose partner ``lagtime`` frames on is in state
    ``j``. An invalid partner (trajectory tail, negative state) counts under
    ``j = -1``, so each ``(k, i)``'s rows also sum to its state count.
    ``w0, w1`` are the least and greatest bias width in each group."""
    partner = F.when(F.col("s_to") >= 0, F.col("s_to")).otherwise(-1)
    return dispatch.arrays(
        lagged(df, {"s_to": (state_col, lagtime)}, by=(therm_col, "traj_id"))
        .where(F.col(state_col) >= 0)
        .groupBy(F.col(therm_col).alias("k"), F.col(state_col).alias("i"), partner.alias("j"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.size(bias_col)).alias("w0"),
            F.max(F.size(bias_col)).alias("w1"),
        )
    )


def _post_hoc_re_overlap(BK: np.ndarray, BL: np.ndarray, k: int, l: int, factor: float) -> bool:
    """Replica-exchange overlap test (reference connected_set.h:64-84):
    average hypothetical RE-swap acceptance between the two sample sets."""
    n, m = len(BK), len(BL)
    delta = (BK[:, k] - BK[:, l])[:, None] + (BL[:, l] - BL[:, k])[None, :]
    n_avg = float(np.minimum(np.exp(delta), 1.0).sum()) / (n * m)
    return (n + m) * n_avg * factor >= 1.0


def _bar_variance_overlap(BK: np.ndarray, BL: np.ndarray, k: int, l: int, factor: float) -> bool:
    """BAR-variance overlap test (reference connected_set.h:87-131)."""
    n, m = len(BK), len(BL)
    db_IJ = BK[:, l] - BK[:, k]
    db_JI = BL[:, k] - BL[:, l]
    du = np.concatenate([db_IJ, -db_JI])

    def _lse(x):
        mx = x.max()
        return mx + np.log(np.exp(x - mx).sum())

    df_est = _lse(np.minimum(0.0, db_JI)) - _lse(np.minimum(0.0, db_IJ))
    b = float(np.sum(1.0 / (2.0 + 2.0 * np.cosh(df_est - du - np.log(n / m)))))
    return (1.0 / b - (n + m) / float(n * m)) < factor


def restrict_connected(df: DataFrame, lagtime: int = 1, state_col: str = "state",
                       therm_col: str = "therm_state", bias_col: str = "bias",
                       connectivity: str = "summed_count_matrix",
                       connectivity_factor: float = 1.0,
                       max_samples_per_state: int = 10_000) -> DataFrame:
    """Restrict to the largest connected Markov-state set (reference
    TRAMDataset.restrict_to_largest_connected_set, _tram_dataset.py:277-471).

    - 'summed_count_matrix': transition counts summed over ensembles,
      largest directed SCC kept.
    - 'post_hoc_RE' / 'BAR_variance': a (therm k, markov i) node connects
      to (l, i) when the two ensembles' sample sets in state i pass the
      replica-exchange / BAR-variance overlap test (per-sample bias
      energies, capped at ``max_samples_per_state`` per (i, k) block),
      plus intra-ensemble transition edges; largest UNDIRECTED component
      kept. States outside the set are marked -1 (TRAM drops them).
    Raises ``ValueError`` when no valid transition exists at ``lagtime``.
    """
    from deeptime_spark.numeric.graph import connected_components

    if connectivity not in ("summed_count_matrix", "post_hoc_RE", "BAR_variance"):
        raise ValueError(f"unknown connectivity {connectivity!r}")

    counts = _lag_counts(df, lagtime, state_col, therm_col, bias_col)
    pk, pi, pj, pn = (counts[c][counts["j"] >= 0] for c in "kijn")
    if not len(pi):
        raise ValueError(f"restrict_connected found no valid transition at lagtime {lagtime}")
    n = max(pi.max(), pj.max()) + 1

    if connectivity == "summed_count_matrix":
        C = np.zeros((n, n))
        np.add.at(C, (pi, pj), pn)
        keep = max(connected_components(C > 0, directed=True), key=len)
    else:
        K = int(pk.max()) + 1
        # capped per-(markov, therm) bias sample blocks of the K ensembles,
        # each in its window's (traj_id, t) order, which the stable sort keeps
        ws = Window.partitionBy(state_col, therm_col).orderBy("traj_id", "t")
        s = dispatch.arrays(
            df.where((F.col(state_col) >= 0) & (F.col(therm_col) < K))
            .withColumn("_rn", F.row_number().over(ws))
            .where(F.col("_rn") <= max_samples_per_state)
            .select(F.col(state_col).alias("i"), F.col(therm_col).alias("k"), F.col(bias_col).alias("b"))
        )
        key = s["i"].astype(np.int64) * K + s["k"]
        order = np.argsort(key, kind="stable")
        key = key[order]
        starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
        blocks = {divmod(int(c), K): B for c, B in zip(key[starts], np.split(s["b"][order], starts[1:]))}
        test = _post_hoc_re_overlap if connectivity == "post_hoc_RE" else _bar_variance_overlap
        adj = np.zeros((K * n, K * n), dtype=bool)
        # thermodynamic overlap edges: (k, i) -- (l, i)
        for i in range(n):
            for k in range(K):
                BK = blocks.get((i, k))
                if BK is None:
                    continue
                for l in range(k + 1, K):
                    BL = blocks.get((i, l))
                    if BL is None:
                        continue
                    if test(BK, BL, k, l, connectivity_factor):
                        a, b = k * n + i, l * n + i
                        adj[a, b] = adj[b, a] = True
        # intra-ensemble transition edges: (k, i) -- (k, j)
        a, b = pk * n + pi, pk * n + pj
        adj[a, b] = adj[b, a] = True
        comp = max(connected_components(adj, directed=False), key=len)
        keep = sorted({int(node) % n for node in comp})

    keep_lit = F.array(*[F.lit(int(s)) for s in sorted(keep)])
    return df.withColumn(
        state_col,
        F.when(F.array_contains(keep_lit, F.col(state_col)), F.col(state_col)).otherwise(F.lit(-1)),
    )


class _SparkBiasStore:
    """Bias-energy samples kept DISTRIBUTED, co-located by Markov state.

    The TRAM self-consistent iteration touches per-sample data only
    through two state-grouped log-space folds (f_i^k and the unbiased
    markov energies). Persisting the samples pre-partitioned by state
    makes each iteration ONE shuffle-free mapInPandas job emitting an
    (N, K+1) result — the 100 TB path: samples never reach the driver.
    Each state's block is sorted by (traj_id, t), the order
    ``TRAM._collect_bias`` uses, so every logsumexp sums in the same order
    as on the driver.
    """

    def __init__(self, df: DataFrame, state_col: str, bias_col: str, K: int, N: int):
        self.K, self.N = K, N
        self.df = (
            df.where(F.col(state_col) >= 0)
            .select(F.col(state_col).alias("_i"), "traj_id", "t", F.col(bias_col).alias("_b"))
            # explicit partition count: AQE would coalesce a small shuffle to
            # ~1 partition and serialize the per-iteration Python folds
            .repartition(df.sparkSession.sparkContext.defaultParallelism, "_i")
            .sortWithinPartitions("_i", "traj_id", "t")
            .persist()
        )

    def fold(self, mod: np.ndarray):
        """Returns (f_new (K, N), markov_energies (N,)) — tram.h:371-405
        and updateMarkovStateEnergies, computed per partition."""
        import pandas as pd  # noqa: F811

        K, N = self.K, self.N

        def upd(batches):
            pdfs = list(batches)
            if not pdfs:
                return
            pdf = pd.concat(pdfs, ignore_index=True)
            out_i, out_f, out_m = [], [], []
            for i, grp in pdf.groupby("_i"):
                B = np.stack(grp["_b"].to_numpy()).astype(np.float64)  # (n_i, K)
                with np.errstate(invalid="ignore"):
                    divisor = _logsumexp(mod[:, int(i)][None, :] - B, axis=1)
                out_i.append(int(i))
                out_f.append((-_logsumexp(-(divisor[:, None] + B), axis=0)).tolist())
                out_m.append(float(-_logsumexp(-divisor)))
            yield pd.DataFrame({"i": out_i, "f": out_f, "m": out_m})

        a = dispatch.arrays(self.df.mapInPandas(upd, schema="i integer, f array<double>, m double"))
        f_new = np.full((K, N), np.inf)
        markov = np.full(N, np.inf)
        f_new[:, a["i"]] = a["f"].T
        markov[a["i"]] = a["m"]
        return f_new, markov

    def unpersist(self):
        self.df.unpersist()


class TRAMModel(Model):
    """TRAM result (reference _tram_model.py:11-318): biased conformation
    energies f_i^k, therm-state energies f^k, unbiased Markov state
    energies f_i, and per-ensemble transition matrices."""

    def __init__(self, biased_conf_energies, lagrangian_mult_log, modified_state_counts_log,
                 therm_state_energies, markov_state_energies, transition_matrices, lagtime=1):
        self.biased_conf_energies = biased_conf_energies
        self.lagrangian_mult_log = lagrangian_mult_log
        self.modified_state_counts_log = modified_state_counts_log
        self.therm_state_energies = therm_state_energies
        self.markov_state_energies = markov_state_energies
        self.transition_matrices = transition_matrices
        self.lagtime = lagtime

    @property
    def n_therm_states(self) -> int:
        return self.biased_conf_energies.shape[0]

    @property
    def n_markov_states(self) -> int:
        return self.biased_conf_energies.shape[1]

    @property
    def stationary_distribution(self) -> np.ndarray:
        """Unbiased stationary vector pi_i = exp(-f_i)."""
        p = np.exp(-self.markov_state_energies)
        return p / p.sum()

    def msm(self, therm_state: int):
        from deeptime_spark.markov.msm import MarkovStateModel

        return MarkovStateModel(self.transition_matrices[therm_state], lagtime=self.lagtime)


class TRAM(Estimator):
    """ctor mirrors the reference (_tram.py:49-130): lagtime, maxiter,
    maxerr, track_log_likelihoods, callback_interval (progress omitted)."""

    def __init__(self, lagtime: int = 1, count_mode: str = "sliding", maxiter: int = 1000,
                 maxerr: float = 1e-8, state_col: str = "state", therm_col: str = "therm_state",
                 bias_col: str = "bias"):
        super().__init__()
        if count_mode != "sliding":
            raise ValueError("v1 supports count_mode='sliding'")
        self.lagtime = lagtime
        self.maxiter = maxiter
        self.maxerr = maxerr
        self.state_col = state_col
        self.therm_col = therm_col
        self.bias_col = bias_col

    # ------------------------------------------------------- Spark stages

    def _collect_counts(self, df: DataFrame):
        """Transition counts ``(K, N, N)`` and state counts ``(K, N)``.
        Raises ``ValueError`` unless every sample's bias holds one energy
        per ensemble, checked here so both bias paths fail alike."""
        a = _lag_counts(df, self.lagtime, self.state_col, self.therm_col, self.bias_col)
        k, i, j, n = (a[c] for c in "kijn")
        if not len(i):
            raise ValueError("TRAM found no sample with state >= 0 to count")
        K, N = k.max() + 1, i.max() + 1
        if a["w0"].min() != K or a["w1"].max() != K:
            raise ValueError(
                f"TRAM: bias widths {a['w0'].min()}..{a['w1'].max()} of the samples with "
                f"state >= 0 differ from their {K} ensembles"
            )
        C = np.zeros((K, N, N))
        C[k[j >= 0], i[j >= 0], j[j >= 0]] = n[j >= 0]
        state_counts = np.zeros((K, N))
        np.add.at(state_counts, (k, i), n)
        return C, state_counts

    def _collect_bias(self, df: DataFrame, N: int):
        # deterministic (state, traj, t) order: the per-state logsumexp
        # blocks then sum in a reproducible order, making the whole driver
        # iteration replayable by an external oracle (and stable across
        # partition layouts)
        sc, bc = self.state_col, self.bias_col
        a = dispatch.arrays(
            df.where(F.col(sc) >= 0)
            .orderBy(sc, "traj_id", "t")
            .select(F.col(sc).alias("i"), F.col(bc).alias("b"))
        )
        return np.split(a["b"], np.searchsorted(a["i"], np.arange(1, N)))

    # ------------------------------------------------------ driver updates

    @staticmethod
    def _update_lagrangian_mult(C, state_counts, f, log_v):
        """tram.h:323-369: new log nu_i^k = logsumexp_j log(C+C^T)_ij -
        log(1 + exp(log nu_j - f_i - log nu_i + f_j)); diagonal keeps
        log(C_ii)."""
        K, N, _ = C.shape
        new_log_v = np.full((K, N), -np.inf)
        for k in range(K):
            Csym = C[k] + C[k].T
            with np.errstate(divide="ignore"):
                diag_term = np.log(np.diag(C[k]))
            expo = (log_v[k][None, :] - f[k][:, None]) - (log_v[k][:, None] - f[k][None, :])
            divisor = np.logaddexp(expo, 0.0)
            with np.errstate(divide="ignore"):
                terms = np.where(Csym > 0, np.log(np.maximum(Csym, 1e-300)) - divisor, -np.inf)
            np.fill_diagonal(terms, diag_term)
            has = state_counts[k] > 0
            new_log_v[k, has] = _logsumexp(terms[has], axis=1)
        return new_log_v

    @staticmethod
    def _update_state_counts(C, state_counts, f, log_v):
        """tram.h:407-470: modified state counts log R_i^k."""
        K, N, _ = C.shape
        mod = np.full((K, N), -np.inf)
        for k in range(K):
            Csym = C[k] + C[k].T
            with np.errstate(divide="ignore"):
                diag_term = np.log(np.diag(C[k])) + f[k]
            divisor = np.logaddexp(
                log_v[k][None, :] - f[k][:, None], log_v[k][:, None] - f[k][None, :]
            )
            with np.errstate(divide="ignore"):
                terms = np.where(
                    Csym > 0,
                    np.log(np.maximum(Csym, 1e-300)) + log_v[k][None, :] - divisor,
                    -np.inf,
                )
            np.fill_diagonal(terms, diag_term)
            in_counts = C[k].sum(axis=0)
            NC = state_counts[k] - in_counts
            with np.errstate(divide="ignore"):
                extra = np.where(NC > 0, np.log(np.maximum(NC, 1e-300)) + f[k], -np.inf)
            has = state_counts[k] > 0
            mod[k, has] = np.logaddexp(_logsumexp(terms[has], axis=1), extra[has])
        return mod

    @staticmethod
    def _update_biased_conf_energies(bias_by_state, mod):
        """tram.h:371-405: f_i^k = -logsumexp_x -(divisor_x + b_x^k) with
        divisor_x = logsumexp_k(log R_i^k - b_x^k); vectorized per Markov
        state over its sample block."""
        K, N = mod.shape
        f_new = np.full((K, N), np.inf)
        for i in range(N):
            B = bias_by_state[i]  # (n_i, K)
            if len(B) == 0:
                continue
            with np.errstate(invalid="ignore"):
                divisor = _logsumexp(mod[:, i][None, :] - B, axis=1)  # (n_i,)
            # f[k, i] = -logsumexp_x (-(divisor_x + B[x, k]))
            f_new[:, i] = -_logsumexp(-(divisor[:, None] + B), axis=0)
        return f_new

    @staticmethod
    def _transition_matrices(C, f, log_v):
        """tram.h computeTransitionMatrices."""
        K, N, _ = C.shape
        T = np.zeros((K, N, N))
        for k in range(K):
            Csym = C[k] + C[k].T
            divisor = np.logaddexp(
                log_v[k][None, :] - f[k][:, None], log_v[k][:, None] - f[k][None, :]
            )
            with np.errstate(invalid="ignore", over="ignore"):
                Tk = np.where(Csym > 0, Csym * np.exp(-(f[k][None, :] + divisor)), 0.0)
            np.fill_diagonal(Tk, np.where(np.diag(Csym) > 0, 0.5 * np.diag(Csym) * np.exp(-log_v[k]), 0.0))
            rowsums = Tk.sum(axis=1) - np.diag(Tk)
            scratch = rowsums + np.diag(Tk)
            max_sum = scratch.max() if scratch.max() > 0 else 1.0
            Tk = Tk / max_sum
            np.fill_diagonal(Tk, (np.diag(Tk) * max_sum + max_sum - scratch) / max_sum)
            T[k] = Tk
        return T

    # --------------------------------------------------------------- fit

    def fit(self, df: DataFrame) -> "TRAM":
        """Fit on (therm_state, traj_id, t, state, bias) samples. Raises
        ValueError when no sample has state >= 0 (empty or unassigned input)."""
        C, state_counts = self._collect_counts(df)
        K, N = state_counts.shape
        if dispatch.on_driver("tram_bias", int(state_counts.sum())):
            self._model = self.fit_arrays(C, state_counts, self._collect_bias(df, N))
        else:
            store = _SparkBiasStore(df, self.state_col, self.bias_col, K, N)
            self._model = self.fit_arrays(C, state_counts, store=store)
        return self

    def fit_arrays(self, C, state_counts, bias_by_state=None, store=None) -> "TRAMModel":
        """Driver-side self-consistent iteration on already-collected
        statistics (the Spark-free core of ``fit`` — also the hook the
        correctness oracle replays with independently-derived counts/bias)."""
        K, N = state_counts.shape
        f = np.zeros((K, N))
        with np.errstate(divide="ignore"):
            log_v = np.log(np.maximum(0.5 * (C + C.transpose(0, 2, 1)).sum(axis=2), 1e-300))
        log_v[state_counts == 0] = -np.inf
        therm_energies = -_logsumexp(-f, axis=1)
        stat_vectors = np.exp(therm_energies[:, None] - f)
        mod = self._update_state_counts(C, state_counts, f, log_v)
        increments = []
        markov_energies = np.full(N, np.inf)
        try:
            for it in range(self.maxiter):
                log_v = self._update_lagrangian_mult(C, state_counts, f, log_v)
                mod = self._update_state_counts(C, state_counts, f, log_v)
                if store is not None:
                    f, markov_energies = store.fold(mod)
                else:
                    f = self._update_biased_conf_energies(bias_by_state, mod)
                # energy shift to prevent drift (tram.h shiftEnergies...)
                # NB: markov_energies stay unshifted — the driver path
                # derives them from the final mod without the loop shift,
                # and the final f0 normalization cancels any constant
                shift = np.min(f[np.isfinite(f)])
                f -= shift
                new_therm = -_logsumexp(-f, axis=1)
                new_stat = np.exp(new_therm[:, None] - f)
                err = max(
                    float(np.max(np.abs(new_therm - therm_energies))),
                    float(np.max(np.abs(new_stat - stat_vectors))),
                )
                therm_energies, stat_vectors = new_therm, new_stat
                increments.append(err)
                if err < self.maxerr:
                    break
            # final energies + normalization (tram.h:486-576)
            if store is None:
                markov_energies = self._markov_state_energies(bias_by_state, mod, N)
            elif not increments:
                _, markov_energies = store.fold(mod)
        finally:
            if store is not None:
                store.unpersist()
        f0 = -_logsumexp(-markov_energies)
        markov_energies -= f0
        f -= f0
        therm_energies = -_logsumexp(-f, axis=1)
        mod = self._update_state_counts(C, state_counts, f, log_v)
        T = self._transition_matrices(C, f, log_v)
        return TRAMModel(
            biased_conf_energies=f,
            lagrangian_mult_log=log_v,
            modified_state_counts_log=mod,
            therm_state_energies=therm_energies,
            markov_state_energies=markov_energies,
            transition_matrices=T,
            lagtime=self.lagtime,
        )

    @staticmethod
    def _markov_state_energies(bias_by_state, mod, N):
        """tram.h updateMarkovStateEnergies: f_i = -logsumexp_x -divisor_x."""
        out = np.full(N, np.inf)
        for i in range(N):
            B = bias_by_state[i]
            if len(B) == 0:
                continue
            divisor = _logsumexp(mod[:, i][None, :] - B, axis=1)
            out[i] = -_logsumexp(-divisor)
        return out
