"""Maximum likelihood HMM estimation (distributed Baum-Welch).

Reference: ``MaximumLikelihoodHMM``
(/root/reference/src/deeptime/markov/hmm/_maximum_likelihood_hmm.py:16-424).

Inside ``dispatch.BOUNDS["hmm"]`` the lagged frame is fetched to the
driver once and every E-step runs there; at lagtime 1 and stride 1 a
trajectory the caller already fetched (``dispatch.fetch``) fits the same
way.
Above it (SURVEY.md §2.9's Spark shape), each EM iteration is ONE
mapInPandas job over the frame
co-located by trajectory: one lane-exact forward-backward call per
partition emits one sufficient-statistics row per trajectory (loglik,
gamma_0, Baum-Welch counts, output-model stats). Either way the driver
sums the rows in sorted traj_id order and performs the M-step (reversible
MLE reuse + emission refit), so the fit does not depend on the path or on
the partition layout. Only O(n_hidden^2 + stats_dim) floats per
trajectory cross the wire.
"""

from __future__ import annotations

import functools
from typing import Optional, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from deeptime_spark import dispatch
from deeptime_spark.base import Estimator
from deeptime_spark.hmm.hmm_model import (
    HiddenMarkovModel,
    _local_groups,
    _partition_groups,
    forward_backward_batch,
)
from deeptime_spark.markov.msm import (
    MarkovStateModel,
    transition_matrix_nonreversible,
    transition_matrix_reversible,
    transition_matrix_reversible_fixed_pi,
)
from deeptime_spark.markov.transition_counting import TransitionCountModel


def lag_observations_df(
    df: DataFrame, lag: int, stride: int = 1, traj_col: str = "traj_id", time_col: str = "t"
) -> DataFrame:
    """Interleaved lagged sub-trajectories (reference ``lag_observations``,
    markov/_util.py:108-137): trajectory (s0, s1, ...) at lag 3 becomes
    (s0, s3, ...), (s1, s4, ...), (s2, s5, ...) — sub-sampled at the lag
    but shifted, so an MLE at lag > 1 discards no data.

    Pure column math: sub_traj = traj_id * lag + (t % lag); new t = t div
    lag; shifts restricted to multiples of ``stride``; length-1 sub-
    trajectories are dropped (reference :133). No Python, one window pass
    for the length filter.
    """
    if lag < 1:
        raise ValueError("lag must be >= 1")
    shift = F.col(time_col) % lag
    out = (
        df.where(shift % stride == 0)
        .withColumn("_sub", F.col(traj_col) * lag + shift)
        .withColumn("_subt", (F.col(time_col) - shift) / lag)
    )
    counts = out.groupBy("_sub").agg(F.count(F.lit(1)).alias("_len"))
    out = out.join(F.broadcast(counts.where(F.col("_len") > 1)), "_sub", "inner")
    return (
        out.drop(traj_col, time_col, "_len")
        .withColumnRenamed("_sub", traj_col)
        .withColumn(time_col, F.col("_subt").cast("long"))
        .drop("_subt")
    )


def _traj_stats(groups: list, A: np.ndarray, pi: np.ndarray, om) -> tuple:
    """Per-trajectory sufficient statistics of one E-step for (traj_id, t,
    obs) groups: one lane-exact forward-backward call over all of them, so
    each trajectory's row is what it would be alone. Returns (traj_ids (B,),
    rows (B, 1 + N + N*N + stats_dim)); a row is loglik | gamma0 | counts |
    output-model stats."""
    B = len(groups)
    pobs_list = [om.to_state_probability_trajectory(obs) for _, _, obs in groups]
    loglik, gamma0, counts, gammas = forward_backward_batch(A, pobs_list, pi)
    om_stats = [om.collect_stats(obs, g) for (_, _, obs), g in zip(groups, gammas)]
    rows = np.hstack(
        [
            loglik[:, None],
            gamma0,
            counts.reshape(B, len(pi) ** 2),
            np.array(om_stats).reshape(B, om.stats_dim()),
        ]
    )
    return np.array([tid for tid, _, _ in groups], dtype=np.int64), rows


def _reduce(traj_ids: np.ndarray, rows: np.ndarray, N: int) -> dict:
    """Sum per-trajectory rows in sorted traj_id order, one row after
    another: the totals do not depend on partitioning or on which path
    computed the rows."""
    if not len(traj_ids):
        raise ValueError("no (sub-)trajectories of length > 1 — lagtime too large?")
    total = np.cumsum(rows[np.argsort(traj_ids, kind="stable")], axis=0)[-1]
    return {
        "loglik": float(total[0]),
        "gamma0": total[1 : 1 + N],
        "counts": total[1 + N : 1 + N + N * N].reshape(N, N),
        "om_stats": total[1 + N + N * N :],
    }


def _driver_estep(a: dict, obs_col: str):
    """The E-step on the driver for a fetched lagged trajectory: trajectories
    are grouped once, then every EM iteration is one ``_traj_stats`` call
    over all of them, reduced like the distributed rows."""
    groups = [g for g in _local_groups(a, obs_col) if len(g[2]) > 1]
    return lambda A, pi, om: _reduce(*_traj_stats(groups, A, pi, om), len(pi))


class MaximumLikelihoodHMM(Estimator):
    """ctor mirrors the reference (:78-99): initial_model, lagtime, stride,
    reversible, stationary, fixed p, accuracy, maxit."""

    def __init__(
        self,
        initial_model: HiddenMarkovModel,
        lagtime: int,
        stride: Union[int, str] = 1,
        reversible: bool = True,
        stationary: bool = False,
        p: Optional[np.ndarray] = None,
        accuracy: float = 1e-3,
        maxit: int = 100,
        maxit_reversible: int = 100_000,
        obs_col: str = "state",
        assume_colocated: bool = False,
    ):
        super().__init__()
        if lagtime <= 0:
            raise ValueError("lagtime must be positive")
        self.initial_model = initial_model
        self.lagtime = lagtime
        self.stride = 1 if stride == "effective" else int(stride)
        self.reversible = reversible
        self.stationary = stationary
        self.fixed_stationary_distribution = p if stationary else None
        self.fixed_initial_distribution = p if not stationary else None
        self.accuracy = accuracy
        self.maxit = maxit
        self.maxit_reversible = maxit_reversible
        self.obs_col = obs_col
        # assume_colocated: caller guarantees the input frame is already
        # hash-partitioned (and ideally persisted) by traj_id. At lagtime=1 /
        # stride=1 the lagged frame IS the input frame minus length-1
        # trajectories, so fit() skips lag_observations_df's count-filter
        # join, the repartition, and the duplicate persist entirely and reads
        # the caller's cached partitions; singleton trajectories are dropped
        # inside the E-step instead (identical statistics — a length-1
        # trajectory contributes nothing once dropped, reference
        # markov/_util.py:133 drops them up front).
        self.assume_colocated = assume_colocated
        self.likelihoods_: Optional[np.ndarray] = None

    # ------------------------------------------------------------ E-step

    def _estep(self, df: DataFrame, A: np.ndarray, pi: np.ndarray, om) -> dict:
        """One distributed E-step: one mapInPandas job over the
        trajectory-partitioned frame, one kernel call per partition
        (``_traj_stats``), then the driver reduces the statistics rows."""
        obs_col = self.obs_col
        schema = StructType(
            [
                StructField("traj_id", ArrayType(LongType())),
                StructField("rows", ArrayType(DoubleType())),
            ]
        )

        def estep(batches):
            # lag_observations_df drops length-1 sub-trajectories up front;
            # the assume_colocated fast path defers that drop to here (same
            # statistics either way)
            groups = [g for g in _partition_groups(batches, obs_col) if len(g[2]) > 1]
            if not groups:
                return
            traj_ids, rows = _traj_stats(groups, A, pi, om)
            # one packed row per partition: the per-trajectory rows cross
            # the wire as two flat arrays, not one Spark row each
            yield pd.DataFrame({"traj_id": [traj_ids], "rows": [rows.ravel()]})

        # the packed arrays are ragged across partitions, so they come back
        # as one Arrow table and are flattened, not as numpy columns
        table = df.mapInPandas(estep, schema=schema).toArrow()
        traj_ids = table.column("traj_id").combine_chunks().flatten().to_numpy()
        width = 1 + len(pi) + len(pi) ** 2 + om.stats_dim()
        rows = table.column("rows").combine_chunks().flatten().to_numpy()
        return _reduce(traj_ids, rows.reshape(len(traj_ids), width), len(pi))

    # ------------------------------------------------------------ M-step

    def _mstep(self, agg: dict, om) -> tuple[np.ndarray, np.ndarray]:
        C = agg["counts"]
        if self.reversible:
            if self.fixed_stationary_distribution is not None:
                T = transition_matrix_reversible_fixed_pi(
                    C, self.fixed_stationary_distribution, maxiter=self.maxit_reversible
                )
            else:
                T = transition_matrix_reversible(C, maxiter=self.maxit_reversible, maxerr=1e-12)
        else:
            T = transition_matrix_nonreversible(C)
        if self.stationary:
            if self.fixed_stationary_distribution is not None:
                pi = self.fixed_stationary_distribution
            else:
                from deeptime_spark.markov.analysis import stationary_distribution

                pi = stationary_distribution(T)
        else:
            if self.fixed_initial_distribution is not None:
                pi = self.fixed_initial_distribution
            else:
                pi = agg["gamma0"] / agg["gamma0"].sum()
        om.fit_from_stats(agg["om_stats"])
        return T, pi

    # -------------------------------------------------------------- fit

    def fit(self, df, progress=None) -> "MaximumLikelihoodHMM":
        """Baum-Welch on a (traj_id, t, obs_col) frame, or, at lagtime 1
        and stride 1, on a trajectory already fetched with
        ``dispatch.fetch`` (then every E-step runs on the driver and no
        Spark job starts)."""
        from deeptime_spark.callbacks import ProgressCallback

        init = self.initial_model
        A = np.array(init.transition_matrix, dtype=np.float64, copy=True)
        pi = np.array(init.initial_distribution, dtype=np.float64, copy=True)
        om = init.output_model.copy()

        colocated = self.lagtime == 1 and self.stride == 1 and self.assume_colocated
        if isinstance(df, dict):
            # at lag 1, stride 1 the lagged trajectory is the input itself
            # (the E-step drops length-1 trajectories); other lags are
            # lagged as a frame by lag_observations_df
            if self.lagtime != 1 or self.stride != 1:
                raise ValueError(
                    "a fetched trajectory fits at lagtime=1, stride=1 only; pass the frame"
                )
            lagged = None
            local = df
        else:
            if colocated:
                # input frame == lagged frame at lag 1; caller already
                # co-located (and usually persisted) it by traj_id — no
                # second shuffle, no duplicate cache; singleton
                # trajectories drop inside the E-step
                lagged = df.select("traj_id", "t", self.obs_col)
            else:
                lagged = lag_observations_df(df, self.lagtime, self.stride).select(
                    "traj_id", "t", self.obs_col
                )
            local = dispatch.fetch("hmm", lagged)
        owns_cache = local is None and not colocated
        if owns_cache:
            # the EM loop re-reads the lagged frame every iteration: persist
            # it co-located by trajectory, so each E-step's mapInPandas
            # reads cached partitions with no per-iteration shuffle
            lagged = lagged.repartition(
                df.sparkSession.sparkContext.defaultParallelism, "traj_id"
            ).persist()
        if local is not None:
            estep = _driver_estep(local, self.obs_col)
        else:
            estep = functools.partial(self._estep, lagged)
        try:
            likelihoods = []
            final_counts = None
            converged = False
            with ProgressCallback(progress, desc="baum-welch", total=self.maxit) as cb:
                for it in range(self.maxit):
                    agg = estep(A, pi, om)
                    loglik = agg["loglik"]
                    if likelihoods and (loglik - likelihoods[-1]) < self.accuracy:
                        converged = True
                    likelihoods.append(loglik)
                    A, pi = self._mstep(agg, om)
                    final_counts = agg["counts"]
                    cb()
                    if converged:
                        break
        finally:
            if owns_cache:
                lagged.unpersist()

        self.likelihoods_ = np.array(likelihoods)
        count_model = TransitionCountModel(final_counts, lagtime=self.lagtime)
        transition_model = MarkovStateModel(
            A, reversible=self.reversible, lagtime=self.lagtime, count_model=count_model
        )
        self._model = HiddenMarkovModel(
            transition_model=transition_model,
            output_model=om,
            initial_distribution=pi,
            likelihoods=self.likelihoods_,
            initial_count=agg["gamma0"],
            stride=self.stride,
        )
        return self
