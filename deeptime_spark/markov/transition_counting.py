"""Transition counting — the engine's groupBy-count layer.

Reference: ``TransitionCountEstimator``
(/root/reference/src/deeptime/markov/_transition_counting.py:423-636) with
count modes sliding / sliding-effective / sample (:428-447; the doctest at
:617-623 pins the sliding semantics), ``TransitionCountModel`` (:42-421),
``count_states`` (markov/_util.py:25).

Spark realization: ``lead(state, tau)`` over the per-trajectory window, then
``groupBy(s_from, s_to).count()``. At scale this is one shuffle whose key
cardinality is n_states^2 — tiny — so the reduce side is trivially
broadcast-collectable; AQE handles the skew that hot states produce on the
map side. The collected COO becomes a driver-side dense/sparse matrix at the
natural distributed/local IR boundary (SURVEY.md §3.2).

``lagged_pairs`` is the one builder of lagged state pairs; each Markov
counter applies its own aggregate to it. ``count_models`` counts many lags
in one pass keyed by ``(lag, s_from, s_to)`` (the ITS / CK models).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deeptime_spark import dispatch
from deeptime_spark.base import Estimator, Model
from deeptime_spark.operators.lag import lagged


def count_states(df: DataFrame, state_col: str = "state", ignore_negative: bool = True) -> np.ndarray:
    """Histogram of state visits (reference markov/_util.py:25-55).

    Returns a dense vector indexed by state; -1 (unassigned) is excluded
    when ignore_negative, else a negative state raises ValueError, as in
    the reference (``np.bincount``).
    """
    keep = F.col(state_col) >= 0 if ignore_negative else F.col(state_col).isNotNull()
    a = dispatch.arrays(df.where(keep).groupBy(state_col).count())
    return np.bincount(a[state_col], weights=a["count"]).astype(np.int64)


class TransitionCountModel(Model):
    """Count-matrix container (reference: _transition_counting.py:42-421).

    Holds the (n, n) dense count matrix (no scipy in this environment;
    n_states is small relative to data volume by construction — for huge
    state spaces the counts stay distributed as a DataFrame upstream), the
    state histogram and the symbol<->index mapping for submodels.
    """

    def __init__(
        self,
        count_matrix,
        counting_mode: Optional[str] = None,
        lagtime: int = 1,
        state_histogram: Optional[np.ndarray] = None,
        state_symbols: Optional[np.ndarray] = None,
    ):
        self.count_matrix = count_matrix
        self.counting_mode = counting_mode
        self.lagtime = lagtime
        self.state_histogram = state_histogram
        self.state_symbols = (
            state_symbols if state_symbols is not None else np.arange(count_matrix.shape[0])
        )

    @property
    def n_states(self) -> int:
        return self.count_matrix.shape[0]

    @property
    def total_count(self) -> float:
        return float(self.count_matrix.sum())

    def connected_sets(self, directed: bool = True) -> list[np.ndarray]:
        """Connected components of the count graph, largest first
        (reference api.py:410-461; driver-side — n_states is small relative
        to data volume by construction)."""
        from deeptime_spark.numeric.graph import connected_components

        return connected_components(self.count_matrix > 0, directed=directed)

    def submodel(self, states: np.ndarray) -> "TransitionCountModel":
        """Restriction to a state subset (reference :333-363)."""
        states = np.asarray(states)
        sub = self.count_matrix[np.ix_(states, states)]
        hist = self.state_histogram[states] if self.state_histogram is not None else None
        return TransitionCountModel(
            sub,
            counting_mode=self.counting_mode,
            lagtime=self.lagtime,
            state_histogram=hist,
            state_symbols=self.state_symbols[states],
        )

    def submodel_largest(self, directed: bool = True) -> "TransitionCountModel":
        """Largest connected submodel (reference :364-405). Raises ValueError
        naming the lagtime when it has no states (empty or all-negative
        dtraj) or no counts (no transition at this lag, e.g. trajectories
        shorter than the lag): every MSM fit starts here."""
        sets = self.connected_sets(directed=directed)
        sub = self.submodel(sets[0]) if sets else None
        if sub is None or sub.total_count == 0:
            raise ValueError(
                f"no transition counts at lagtime {self.lagtime}: the largest "
                "connected set of the count matrix is empty or has no counts"
            )
        return sub

    def states_to_symbols(self, states: np.ndarray) -> np.ndarray:
        return self.state_symbols[np.asarray(states)]

    def symbols_to_states(self, symbols) -> np.ndarray:
        lookup = {s: i for i, s in enumerate(self.state_symbols)}
        return np.array([lookup[s] for s in symbols if s in lookup], dtype=int)


def lagged_pairs(
    df: DataFrame,
    lagtime: int,
    state_col: str = "state",
    by: Sequence[str] = ("traj_id",),
    time_col: str = "t",
) -> DataFrame:
    """The input rows plus ``s_to = lead(state, lagtime)`` over
    ``partitionBy(*by).orderBy(time_col)``, keeping only valid pairs: the
    partner exists and both states are >= 0. The lead runs before the
    filter, so unassigned (-1) frames still occupy their time slots."""
    return lagged(df, {"s_to": (state_col, lagtime)}, by=by, order=time_col).where(
        (F.col(state_col) >= 0) & (F.col("s_to") >= 0)
    )


def transition_counts_df(df: DataFrame, lagtime: int, state_col: str = "state") -> DataFrame:
    """Distributed sliding transition-count DataFrame ``(s_from, s_to, n)``:
    ``lagged_pairs`` then ``groupBy(s_from, s_to)`` — one shuffle, n_states^2
    keys. Exposed so huge state spaces can keep counts distributed and so
    the harness can verify the counting query itself."""
    return lagged_pairs(df, lagtime, state_col).groupBy(
        F.col(state_col).alias("s_from"), F.col("s_to")
    ).agg(F.count(F.lit(1)).alias("n"))


def two_step_counts_df(
    df: DataFrame,
    lagtime: int,
    state_col: str = "state",
    traj_col: str = "traj_id",
    time_col: str = "t",
) -> DataFrame:
    """Two-step count tensor C2t[s0, s1, s2] at lag tau — the OOM/spectral
    estimation input (reference markov/msm/_koopman_reweighted_msm_impl.py;
    SURVEY §2.7 row 70): double-lead window then ONE groupBy over
    (s0, s1, s2) — n_states^3 keys, still tiny at the MSM layer."""
    tau = lagtime
    pairs = (
        lagged(df, {"s1": (state_col, tau), "s2": (state_col, 2 * tau)}, (traj_col,), time_col)
        .where(F.col("s1").isNotNull() & F.col("s2").isNotNull())
        .where((F.col(state_col) >= 0) & (F.col("s1") >= 0) & (F.col("s2") >= 0))
    )
    return pairs.groupBy(F.col(state_col).alias("s0"), "s1", "s2").agg(
        F.count(F.lit(1)).alias("n")
    )


COUNT_MODES = ("sliding", "sliding-effective", "sample")


def _lag_counts_df(
    df: DataFrame, lagtimes: Sequence[int], count_mode: str, state_col: str
) -> DataFrame:
    """``(lag, s_from, s_to, n)`` for every lag from one window (one lead
    per lag) and one groupBy. Frames whose partner at a lag is invalid
    (trajectory tail, negative state, off-stride in 'sample' mode) count
    under ``s_to = NULL``, so each lag's rows also sum to the state
    histogram and no second scan is needed for it."""
    sc = state_col

    def partner(tau: int):
        lead = F.col(f"_lead{tau}")
        valid = lead >= 0
        if count_mode == "sample":
            valid = valid & (F.col("t") % tau == 0)
        return F.struct(F.lit(tau).alias("lag"), F.when(valid, lead).alias("s_to"))

    return (
        lagged(df, {f"_lead{tau}": (sc, tau) for tau in lagtimes})
        .select(sc, "t", *[f"_lead{tau}" for tau in lagtimes])
        .where(F.col(sc) >= 0)  # after the leads: -1 frames still occupy time slots
        .select(F.col(sc).alias("s_from"), F.inline(F.array(*map(partner, lagtimes))))
        .groupBy("lag", "s_from", "s_to")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _lag_counts_arrays(
    a: dict, lagtimes: Sequence[int], count_mode: str, state_col: str
) -> dict:
    """``_lag_counts_df`` for a trajectory fetched to the driver (numpy
    columns traj_id, t, state_col): the same ``(lag, s_from, s_to, n)``
    groups, counted with ``np.unique``."""
    order = np.lexsort((a["t"], a["traj_id"]))
    traj, t, s = a["traj_id"][order], a["t"][order], a[state_col][order]
    keys = []
    for tau in lagtimes:
        lead = np.full(len(s), -1, dtype=np.int64)
        if tau < len(s):
            same = traj[tau:] == traj[:-tau]
            lead[:-tau][same] = s[tau:][same]
        valid = lead >= 0
        if count_mode == "sample":
            valid &= t % tau == 0
        src = s >= 0
        keys.append(np.stack([np.full(src.sum(), tau), s[src], np.where(valid, lead, -1)[src]]))
    groups, n = np.unique(np.concatenate(keys, axis=1).astype(np.int64), axis=1, return_counts=True)
    return {"lag": groups[0], "s_from": groups[1], "s_to": groups[2], "n": n}


def count_models(
    df,
    lagtimes: Sequence[int],
    count_mode: str = "sliding",
    n_states: Optional[int] = None,
    state_col: str = "state",
) -> list[TransitionCountModel]:
    """One ``TransitionCountModel`` per lagtime, all counted in ONE Spark
    pass (``_lag_counts_df``, one fetch) over a dtraj frame
    ``(traj_id, t, state)``, or counted in numpy from a dtraj already
    fetched with ``dispatch.fetch`` (the same matrices, bit for bit).
    Negative states (unassigned, reference :148) are excluded; count_mode
    is one of ``COUNT_MODES``."""
    if count_mode not in COUNT_MODES:
        raise ValueError(f"count_models supports {COUNT_MODES}, got {count_mode!r}")
    lags = list(dict.fromkeys(lagtimes))
    if not lags:
        return []
    if isinstance(df, dict):
        a = _lag_counts_arrays(df, lags, count_mode, state_col)
    else:
        a = dispatch.arrays(_lag_counts_df(df, lags, count_mode, state_col).fillna(-1, ["s_to"]))
    lag, s_from, s_to, cnt = a["lag"], a["s_from"], a["s_to"], a["n"]
    n = n_states or s_from.max(initial=-1) + 1
    hist = np.zeros(n, dtype=np.int64)
    np.add.at(hist, s_from[lag == lags[0]], cnt[lag == lags[0]])
    C = {tau: np.zeros((n, n), dtype=np.float64) for tau in lags}
    for tau in lags:
        pair = (lag == tau) & (s_to >= 0)
        scale = 1.0 / tau if count_mode == "sliding-effective" else 1.0
        C[tau][s_from[pair], s_to[pair]] = cnt[pair] * scale
    return [
        TransitionCountModel(C[tau], counting_mode=count_mode, lagtime=tau, state_histogram=hist)
        for tau in lagtimes
    ]


class TransitionCountEstimator(Estimator):
    """ctor mirrors the reference (:423-460): lagtime, count_mode in
    {'sliding', 'sliding-effective', 'sample', 'effective'}, n_states
    override (counts are dense).

    ``fit(df)`` expects the dtraj schema (traj_id, t, state). Negative
    states (unassigned, reference :148) are excluded from counting.
    """

    def __init__(
        self,
        lagtime: int,
        count_mode: str = "sliding",
        n_states: Optional[int] = None,
        state_col: str = "state",
    ):
        super().__init__()
        if count_mode not in COUNT_MODES + ("effective",):
            raise ValueError(f"unsupported count_mode {count_mode!r}")
        self.lagtime = lagtime
        self.count_mode = count_mode
        self.n_states = n_states
        self.state_col = state_col

    def fit(self, df: DataFrame) -> "TransitionCountEstimator":
        tau = self.lagtime
        sc = self.state_col
        if self.count_mode == "effective":
            # statistically uncorrelated counts (reference api.py:154):
            # indicator-series inefficiencies scale the sliding counts
            from deeptime_spark.markov.effective_counts import effective_count_matrix

            C = effective_count_matrix(df, tau, n_states=self.n_states, state_col=sc)
            hist = count_states(df, state_col=sc)
            if len(hist) < C.shape[0]:
                hist = np.pad(hist, (0, C.shape[0] - len(hist)))
            self._model = TransitionCountModel(
                C, counting_mode="effective", lagtime=tau, state_histogram=hist
            )
            return self
        self._model = count_models(df, [tau], self.count_mode, self.n_states, sc)[0]
        return self
