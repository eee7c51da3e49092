"""Canonical DataFrame schemas and input adapters.

Reference data model (SURVEY.md §1): a trajectory is an ordered ``(T, d)``
float64 ndarray (``ensure_timeseries_data``,
/root/reference/src/deeptime/util/types.py:142); a dtraj is a 1-d int array
(util/types.py:123) with -1 = unassigned. Here both are DataFrames keyed by
``(traj_id, t)``; ordering is data, not layout.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from deeptime_spark import dispatch
from deeptime_spark.operators.moments import features

TRAJECTORY_SCHEMA = StructType(
    [
        StructField("traj_id", LongType(), False),
        StructField("t", LongType(), False),
        StructField("x", ArrayType(DoubleType(), False), False),
    ]
)

DTRAJ_SCHEMA = StructType(
    [
        StructField("traj_id", LongType(), False),
        StructField("t", LongType(), False),
        StructField("state", IntegerType(), False),
    ]
)


def trajectory_from_arrays(spark: SparkSession, trajs, weights=None) -> DataFrame:
    """List of (T_i, d) ndarrays -> trajectory DataFrame.

    Mirrors the reference's universal list-of-trajectories input convention
    (covariance/_covariance.py:405-413).
    """
    import pandas as pd

    if isinstance(trajs, np.ndarray) and trajs.ndim == 2:
        trajs = [trajs]
    frames = []
    for tid, traj in enumerate(trajs):
        traj = np.asarray(traj, dtype=np.float64)
        if traj.ndim == 1:
            traj = traj[:, None]
        pdf = pd.DataFrame(
            {
                "traj_id": np.full(len(traj), tid, dtype=np.int64),
                "t": np.arange(len(traj), dtype=np.int64),
                "x": list(traj),
            }
        )
        if weights is not None:
            pdf["weight"] = np.asarray(weights[tid], dtype=np.float64)
        frames.append(pdf)
    combined = pd.concat(frames, ignore_index=True)
    if weights is not None:
        schema = StructType(TRAJECTORY_SCHEMA.fields + [StructField("weight", DoubleType(), False)])
        return spark.createDataFrame(combined, schema)
    return spark.createDataFrame(combined, TRAJECTORY_SCHEMA)


def dtraj_from_arrays(spark: SparkSession, dtrajs) -> DataFrame:
    """List of 1-d int arrays -> dtraj DataFrame (util/types.py:123)."""
    import pandas as pd

    if isinstance(dtrajs, np.ndarray) and dtrajs.ndim == 1:
        dtrajs = [dtrajs]
    frames = []
    for tid, dtraj in enumerate(dtrajs):
        arr = np.asarray(dtraj)
        frames.append(
            pd.DataFrame(
                {
                    "traj_id": np.full(len(arr), tid, dtype=np.int64),
                    "t": np.arange(len(arr), dtype=np.int64),
                    "state": arr.astype(np.int32),
                }
            )
        )
    return spark.createDataFrame(pd.concat(frames, ignore_index=True), DTRAJ_SCHEMA)


def trajectory_from_events(events: DataFrame) -> DataFrame:
    """Adapt the harness ``events`` table to the trajectory schema.

    ``traj_id := user_id``, ``t := row_number() over (partition by user_id
    order by ts, event_id) - 1``, ``x := [value]`` (FIXTURES.md F5).
    event_id is the tiebreaker making the ordering total and deterministic.
    The rename happens BEFORE the window so downstream traj_id
    windows/aggregations reuse this exchange (an alias applied after the
    window hides the co-partitioning from Catalyst).
    """
    ev = events.select(
        F.col("user_id").cast("long").alias("traj_id"),
        features(F.col("value").cast("double")),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("traj_id").orderBy("ts", "event_id")
    return ev.select(
        "traj_id",
        (F.row_number().over(w) - 1).cast("long").alias("t"),
        "x",
    )


def to_dataset(data, lagtime: int | None = None, spark: SparkSession | None = None) -> DataFrame:
    """Universal input adapter (reference ``to_dataset``,
    util/data.py: dispatches tuples, ndarrays, lists, datasets).

    - ``(X, Y)`` tuple of equal-length arrays -> pre-paired frame with
      ``x`` / ``x_lagged`` columns (the reference's TimeLaggedDataset).
    - DataFrame -> passed through (lagged when ``lagtime`` given).
    - ndarray or list of ndarrays -> trajectory frame via
      ``trajectory_from_arrays`` (lagged when ``lagtime`` given).
    """
    if isinstance(data, tuple) and len(data) == 2 and not isinstance(data[0], DataFrame):
        X, Y = (np.asarray(a, dtype=np.float64) for a in data)
        if len(X) != len(Y):
            raise ValueError(f"length mismatch: {len(X)} vs {len(Y)}")
        if lagtime is not None:
            raise ValueError("lagtime cannot be combined with a pre-paired (X, Y) tuple")
        import pandas as pd

        X = X[:, None] if X.ndim == 1 else X
        Y = Y[:, None] if Y.ndim == 1 else Y
        spark = spark or SparkSession.getActiveSession()
        pdf = pd.DataFrame(
            {
                "traj_id": np.zeros(len(X), dtype=np.int64),
                "t": np.arange(len(X), dtype=np.int64),
                "x": list(X),
                "x_lagged": list(Y),
            }
        )
        schema = StructType(
            TRAJECTORY_SCHEMA.fields + [StructField("x_lagged", ArrayType(DoubleType(), False), False)]
        )
        return spark.createDataFrame(pdf, schema)
    if isinstance(data, DataFrame):
        df = data
    else:
        spark = spark or SparkSession.getActiveSession()
        df = trajectory_from_arrays(spark, data)
    if lagtime is not None:
        from deeptime_spark.operators.lag import timeshifted

        df = timeshifted(df, lagtime)
    return df


def _by_trajectory(df: DataFrame, col: str, dtype) -> list[np.ndarray]:
    """``col`` as ``dtype`` per trajectory, in ``traj_id`` order, each
    ordered by ``t``, from one ``dispatch.arrays`` fetch of the frame."""
    a = dispatch.arrays(df.select("traj_id", "t", col).orderBy("traj_id", "t"))
    starts = np.flatnonzero(np.diff(a["traj_id"])) + 1
    return np.split(a[col].astype(dtype, copy=False), starts) if len(a["t"]) else []


def collect_trajectories(df: DataFrame) -> list[np.ndarray]:
    """The reference's list-of-ndarrays form: one ``(T_i, d)`` float64 array
    per trajectory in ``traj_id`` order (data that fits on the driver:
    tests, interop)."""
    return _by_trajectory(df, "x", np.float64)


def collect_dtrajs(df: DataFrame) -> list[np.ndarray]:
    """``collect_trajectories`` for the int32 ``state`` column."""
    return _by_trajectory(df, "state", np.int32)