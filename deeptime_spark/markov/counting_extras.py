"""Counting extensions: priors, Girsanov reweighting, block bootstrap.

Reference: ``prior_neighbor``/``prior_const``/``prior_rev``
(/root/reference/src/deeptime/markov/tools/estimation/api.py:623-767),
``girsanov_reweighted_count_matrix`` (api.py:217-299,
markov/_girsanov_reweighted_transition_counting.py), ``bootstrap_counts``/
``bootstrap_trajectories`` (api.py:300-409).

Spark shape: the Girsanov counting is a *weighted* groupBy — identical
plan to plain counting with a product-of-weights aggregate; block
bootstrap resamples block ids with replacement on the driver (block list
is tiny) and re-aggregates with a broadcast multiplicity join, so a
resample costs one job and no data duplication.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from deeptime_spark.local_relation import local_df as _local_df
from deeptime_spark.markov.transition_counting import lagged_pairs
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# ----------------------------------------------------------------- priors

def prior_neighbor(C: np.ndarray, alpha: float = 0.001) -> np.ndarray:
    """alpha where C + C^T has a count (reference api.py:623-668)."""
    C = np.asarray(C)
    return np.where((C + C.T) > 0, alpha, 0.0)


def prior_const(C: np.ndarray, alpha: float = 0.001) -> np.ndarray:
    """Constant alpha everywhere (reference api.py:669-711)."""
    return np.full(np.asarray(C).shape, alpha)


def prior_rev(C: np.ndarray, alpha: float = -1.0) -> np.ndarray:
    """alpha on the upper triangle incl. diagonal, 0 below — the standard
    prior for reversible sampling (reference api.py:712-767)."""
    return np.triu(np.full(np.asarray(C).shape, alpha))


# ------------------------------------------------------------- girsanov

def girsanov_reweighted_counts_df(
    df: DataFrame,
    lagtime: int,
    weight_col: str = "weight",
    state_col: str = "state",
    traj_col: str = "traj_id",
    time_col: str = "t",
) -> DataFrame:
    """(s_from, s_to, n): transition counts reweighted by Girsanov path
    weights (reference api.py:217-299): each sliding window contributes
    the PRODUCT of its per-step weights — accumulated as a window sum of
    log-weights (one pass), then exp, then a weighted groupBy."""
    w = Window.partitionBy(traj_col).orderBy(time_col).rowsBetween(0, lagtime - 1)
    # log-weight running sum over the lag window: sum_{k=0..tau-1} ln w_{t+k},
    # taken before lagged_pairs drops the invalid rows
    weighted = df.withColumn("_pw", F.exp(F.sum(F.log(F.col(weight_col))).over(w)))
    pairs = lagged_pairs(weighted, lagtime, state_col, by=(traj_col,), time_col=time_col)
    return pairs.groupBy(F.col(state_col).alias("s_from"), F.col("s_to")).agg(
        F.sum("_pw").alias("n")
    )


def girsanov_reweighted_count_matrix(
    df: DataFrame, lagtime: int, n_states: Optional[int] = None, **kw
) -> np.ndarray:
    rows = girsanov_reweighted_counts_df(df, lagtime, **kw).collect()
    n = n_states or (max(max(r["s_from"], r["s_to"]) for r in rows) + 1)
    C = np.zeros((n, n))
    for r in rows:
        C[r["s_from"], r["s_to"]] = r["n"]
    return C


# ------------------------------------------------------------- bootstrap

def bootstrap_counts(
    df: DataFrame,
    lagtime: int,
    blocksize: Optional[int] = None,
    seed: int = 42,
    n_states: Optional[int] = None,
    state_col: str = "state",
) -> np.ndarray:
    """One block-bootstrap replicate of the count matrix (reference
    api.py:368-409): blocks of ``blocksize`` (default: the correlation
    unit = lagtime) are drawn with replacement; counts re-aggregate with
    the block multiplicities joined broadcast — lagged pairs never cross
    block boundaries."""
    from deeptime_spark.operators.lag import blocksplit

    bs = blocksize or max(lagtime, 1)
    blocked = blocksplit(df, blocksize=bs)
    block_ids = [r["block_id"] for r in blocked.select("block_id").distinct().collect()]
    rng = np.random.default_rng(seed)
    drawn = rng.choice(len(block_ids), size=len(block_ids), replace=True)
    mult = np.bincount(drawn, minlength=len(block_ids))
    lut = _local_df(df.sparkSession, 
        [(block_ids[i], int(m)) for i, m in enumerate(mult) if m > 0], ["block_id", "_mult"]
    )
    pairs = lagged_pairs(
        blocked.join(F.broadcast(lut), "block_id"), lagtime, state_col, by=("block_id",)
    )
    rows = pairs.groupBy(F.col(state_col).alias("s_from"), F.col("s_to")).agg(
        F.sum("_mult").alias("n")
    ).collect()
    n = n_states or (max((max(r["s_from"], r["s_to"]) for r in rows), default=-1) + 1)
    C = np.zeros((n, n))
    for r in rows:
        C[r["s_from"], r["s_to"]] = r["n"]
    return C


def bootstrap_trajectories_df(df: DataFrame, blocksize: int, seed: int = 42) -> DataFrame:
    """Resample trajectory blocks with replacement into a new frame
    (reference api.py:300-367): drawn blocks become pseudo-trajectories
    (traj_id = draw index). Broadcast join against the drawn-block table;
    no shuffle of the data beyond the block partitioning."""
    from deeptime_spark.operators.lag import blocksplit

    blocked = blocksplit(df, blocksize=blocksize)
    block_ids = [r["block_id"] for r in blocked.select("block_id").distinct().collect()]
    rng = np.random.default_rng(seed)
    drawn = rng.choice(len(block_ids), size=len(block_ids), replace=True)
    lut = _local_df(df.sparkSession, 
        [(block_ids[b], int(i)) for i, b in enumerate(drawn)], ["block_id", "_new_traj"]
    )
    out = blocked.join(F.broadcast(lut), "block_id")
    return (
        out.drop("traj_id", "block_id")
        .withColumnRenamed("_new_traj", "traj_id")
        .withColumn("traj_id", F.col("traj_id").cast("long"))
    )
