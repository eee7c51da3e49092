"""Statistically effective transition counts.

Reference: ``statistical_inefficiency`` (util/stats.py:292-361),
``statistical_inefficiencies`` / ``effective_count_matrix``
(/root/reference/src/deeptime/markov/tools/estimation/sparse/
effective_counts.py:120-303, api.py:154-215).

Spark shape (SURVEY.md §2.6): the conditional target sequences
``Y^(i) = {x_{t+tau} | x_t = i}`` are built by ONE lead-window pass, then a
grouped-map Arrow UDF per *starting state* computes the per-(i, j)
indicator-series inefficiencies with the reference numerics verbatim.
Parallelism = n_states groups; hot starting states make big groups — the
documented skew hazard of this operator (SURVEY §7.4.3), acceptable because
n_states is small by construction at the MSM layer.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from deeptime_spark import dispatch
from deeptime_spark.markov.transition_counting import count_models, lagged_pairs


def statistical_inefficiency(X, truncate_acf: bool = True, mact: float = 1.0) -> float:
    """I = 1/(2 tau_damped) of univariate series (reference
    util/stats.py:292-361): integrate the damped autocorrelation
    ``sum_k A(k) (1 - k/N)``, truncating when the ACF first crosses zero.
    Accepts a single array or a list of trajectories."""
    # single series vs list-of-series, without np.asarray on ragged lists
    if len(X) and np.ndim(X[0]) == 0:
        X = [np.asarray(X, dtype=np.float64)]
    X = [np.asarray(x, dtype=np.float64) for x in X]
    N = max(len(x) for x in X)
    xflat = np.concatenate(X)
    mean = xflat.mean()
    X0 = [x - mean for x in X]
    x2m = float(np.mean(xflat**2))
    if x2m == 0.0:
        return 1.0
    corrsum = 0.0
    for lag in range(N):
        acf = 0.0
        n = 0
        for x in X0:
            nx = len(x)
            if nx > lag:
                acf += float(np.dot(x[: nx - lag], x[lag:]))
                n += nx - lag
        acf /= float(n)
        if acf <= 0 and truncate_acf:
            break
        elif lag > 0:
            corrsum += acf * (1.0 - float(lag) / float(N))
    corrtime = 0.5 + mact * corrsum / x2m
    return 1.0 / (2.0 * corrtime)


def statistical_inefficiencies_df(
    df: DataFrame, lag: int, truncate_acf: bool = True, mact: float = 2.0, state_col: str = "state"
) -> DataFrame:
    """(s_from, s_to, ineff) for every observed transition: grouped-map per
    starting state running the reference indicator-series numerics over the
    time-ordered conditional target sequences ``(s_from, traj_id, t, s_to)``."""
    pairs = lagged_pairs(df, lag, state_col).select(
        F.col(state_col).alias("s_from"), "traj_id", "t", "s_to"
    )
    schema = StructType(
        [
            StructField("s_from", IntegerType()),
            StructField("s_to", IntegerType()),
            StructField("ineff", DoubleType()),
        ]
    )

    def per_state(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        i = int(key[0])
        pdf = pdf.sort_values(["traj_id", "t"])
        out_i, out_j, out_v = [], [], []
        targets = pdf["s_to"].to_numpy()
        traj_ids = pdf["traj_id"].to_numpy()
        for j in np.unique(targets):
            seqs = []
            for tid in np.unique(traj_ids):
                seq = targets[traj_ids == tid]
                seqs.append((seq == j).astype(np.float64))
            out_i.append(i)
            out_j.append(int(j))
            out_v.append(statistical_inefficiency(seqs, truncate_acf=truncate_acf, mact=mact))
        return pd.DataFrame({"s_from": out_i, "s_to": out_j, "ineff": out_v})

    return pairs.groupBy("s_from").applyInPandas(per_state, schema=schema)


def effective_count_matrix(
    df: DataFrame,
    lag: int,
    average: str = "row",
    mact: float = 1.0,
    truncate_acf: bool = True,
    n_states: Optional[int] = None,
    state_col: str = "state",
) -> np.ndarray:
    """Effective (statistically uncorrelated) count matrix (reference
    api.py:154-215): C_eff scales sliding counts by indicator-series
    inefficiencies, with 'row' (recommended) / 'all' / 'none' averaging."""
    if average not in ("row", "all", "none"):
        raise ValueError(f"unknown average mode {average!r}")
    C = count_models(df, [lag], n_states=n_states, state_col=state_col)[0].count_matrix
    # every observed transition has an inefficiency: both come from lagged_pairs
    a = dispatch.arrays(statistical_inefficiencies_df(
        df, lag, truncate_acf=truncate_acf, mact=mact, state_col=state_col
    ))
    I = np.zeros_like(C)
    I[a["s_from"], a["s_to"]] = a["ineff"]
    if average == "none":
        return I * C
    if average == "all":
        total = C.sum()
        w = (I * C).sum() / total if total > 0 else 1.0
        return w * C
    # 'row': c_i_eff = sum_j I_ij c_ij; scale each row by c_i_eff / c_i
    c_row = C.sum(axis=1)
    c_eff_row = (I * C).sum(axis=1)
    scale = np.divide(c_eff_row, c_row, out=np.ones_like(c_row), where=c_row > 0)
    return C * scale[:, None]
