"""Lag/windowing semantics vs the reference's timeshifted_split contract
(util/data.py:55-152): pairs never cross trajectory boundaries; stride
subsamples start frames; sliding windows clip at edges."""

import contextlib
import io
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import matching_defs
from deeptime_spark.data import trajectory_from_arrays
from deeptime_spark.operators import lagged, timeshifted, sliding_window, blocksplit, cvsplit


@pytest.fixture(scope="module")
def small_df(spark):
    trajs = [np.arange(10, dtype=float)[:, None], np.arange(100, 105, dtype=float)[:, None]]
    return trajectory_from_arrays(spark, trajs)


def test_lagged_pairs_match_numpy_slicing(spark, small_df):
    tau = 3
    rows = timeshifted(small_df, tau).orderBy("traj_id", "t").collect()
    # trajectory 0: pairs (t, t+3) for t in 0..6; trajectory 1: t in 0..1
    assert len(rows) == 7 + 2
    for r in rows:
        assert r["x_lagged"][0] == r["x"][0] + tau


def test_pairs_never_cross_trajectories(spark, small_df):
    rows = timeshifted(small_df, 4).collect()
    for r in rows:
        # traj 1 holds values 100..104; lagged values must stay in-trajectory
        if r["x"][0] >= 100:
            assert r["x_lagged"][0] >= 100


def test_stride_subsamples_start_frames(spark, small_df):
    rows = timeshifted(small_df, lagtime=2, stride=3).collect()
    assert all(r["t"] % 3 == 0 for r in rows)
    # traj 0 (T=10): t in {0,3,6} with t+2<=9 -> 3 pairs; traj 1 (T=5): t in {0} ... t=3 ok too
    t0 = sorted(r["t"] for r in rows if r["x"][0] < 100)
    assert t0 == [0, 3, 6]


def test_lag_zero_identity(spark, small_df):
    rows = timeshifted(small_df, 0).collect()
    assert len(rows) == 15
    assert all(r["x"] == r["x_lagged"] for r in rows)


def test_lagged_partners_share_one_window_and_stay_in_their_group(spark, small_df):
    out = lagged(small_df, {"ahead": ("x", 2), "behind": ("x", -1)})
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    assert len(re.findall(r"\bWindow \[", buf.getvalue())) == 1, buf.getvalue()
    trajs = {0: list(range(10)), 1: list(range(100, 105))}
    want = {
        (tid, t): (
            [float(v[t + 2])] if t + 2 < len(v) else None,
            [float(v[t - 1])] if t >= 1 else None,
        )
        for tid, v in trajs.items()
        for t in range(len(v))
    }
    got = {(r["traj_id"], r["t"]): (r["ahead"], r["behind"]) for r in out.collect()}
    assert got == want


def test_only_the_lag_module_builds_lead_and_lag_windows():
    lag_module = ("deeptime_spark/operators/lag.py", "lagged")
    assert matching_defs(r"F\.lead\(") == {lag_module}
    # dedup's island-gap windows order by token position, not by frame
    assert matching_defs(r"F\.lag\(") == {
        lag_module,
        ("deeptime_spark/operators/dedup.py", "duplicated_substring_spans"),
        ("deeptime_spark/operators/dedup.py", "drop_duplicated_substrings"),
    }


def test_sliding_window_clips_at_edges(spark, small_df):
    rows = sliding_window(small_df, radius=2, col="x").orderBy("traj_id", "t").collect()
    first = rows[0]  # t=0 of traj 0: window = frames 0..2
    assert len(first["window"]) == 3
    mid = rows[5]  # t=5 of traj 0: full window 3..7
    assert len(mid["window"]) == 5


def test_sliding_window_fixed_width(spark, small_df):
    rows = sliding_window(small_df, radius=2, fixed_width=True).collect()
    assert all(len(r["window"]) == 5 for r in rows)


def test_blocksplit_block_sizes(spark, small_df):
    out = blocksplit(small_df, blocksize=4).groupBy("block_id").count().collect()
    sizes = sorted(r["count"] for r in out)
    # traj0 (10): 4+4+2, traj1 (5): 4+1
    assert sizes == [1, 2, 4, 4, 4]


def test_cvsplit_whole_trajectories(spark, small_df):
    rows = cvsplit(small_df, seed=7).select("traj_id", "fold").distinct().collect()
    # each trajectory maps to exactly one fold
    assert len(rows) == 2
    assert all(r["fold"] in (0, 1) for r in rows)


def test_to_dataset_dispatch(spark):
    import numpy as np

    from deeptime_spark.data import to_dataset

    rng = np.random.default_rng(3)
    # list of trajectories + lagtime -> lagged pairs
    trajs = [rng.normal(size=(20, 2)), rng.normal(size=(11, 2))]
    df = to_dataset(trajs, lagtime=2, spark=spark)
    assert set(df.columns) >= {"traj_id", "t", "x", "x_lagged"}
    assert df.count() == (20 - 2) + (11 - 2)
    # pre-paired (X, Y) tuple
    X, Y = rng.normal(size=(9, 3)), rng.normal(size=(9, 3))
    pair = to_dataset((X, Y), spark=spark)
    rows = pair.orderBy("t").collect()
    np.testing.assert_allclose(np.array([r["x"] for r in rows]), X)
    np.testing.assert_allclose(np.array([r["x_lagged"] for r in rows]), Y)
    # DataFrame passes through
    assert to_dataset(df) is df
    import pytest as _pytest

    with _pytest.raises(ValueError):
        to_dataset((X, Y[:5]), spark=spark)


def test_asof_join_backward_semantics(spark):
    from deeptime_spark.operators.lag import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (1, 2, "c"), (2, 7, "d")],
        ["k", "t", "ev"],
    )
    right = spark.createDataFrame(
        [(1, 3, 30.0), (1, 5, 50.0), (1, 9, 90.0), (2, 8, 80.0)],
        ["k", "t", "v"],
    )
    out = {
        (r["k"], r["t"]): r["v_asof"]
        for r in asof_join(left, right, on="t", by="k", right_cols=["v"]).collect()
    }
    assert out[(1, 2)] is None  # nothing at or before t=2
    assert out[(1, 5)] == 50.0  # equality included
    assert out[(1, 10)] == 90.0  # latest at-or-before
    assert out[(2, 7)] is None  # right row is later


def test_sliding_window_matches_reference_generator(spark):
    """Both modes reproduce the reference generator (util/data.py:11-52)
    element-for-element: clipped windows by default, edge-clamped complete
    windows with fixed_width."""
    from collections import deque

    from deeptime_spark.operators.lag import sliding_window

    def ref_windows(seq, radius, fixed_width):
        # reference semantics, reimplemented for the test oracle
        out = []
        n = len(seq)
        for t in range(n):
            if fixed_width:
                tc = min(max(t, radius), n - 1 - radius)
                out.append(seq[tc - radius : tc + radius + 1])
            else:
                out.append(seq[max(t - radius, 0) : t + radius + 1])
        return out

    seq = [float(v) for v in range(9)]
    rows = [(0, t, v) for t, v in enumerate(seq)]
    df = spark.createDataFrame(rows, "traj_id long, t long, x double").repartition(3)
    for fixed in (False, True):
        got = {
            r["t"]: list(r["window"])
            for r in sliding_window(df, radius=2, col="x", fixed_width=fixed).collect()
        }
        want = ref_windows(seq, 2, fixed)
        assert [got[t] for t in range(len(seq))] == want, (fixed, got)


def test_sliding_window_validate_lengths(spark):
    import pytest as _pytest

    from deeptime_spark.operators.lag import sliding_window

    rows = [(0, t, float(t)) for t in range(3)]
    df = spark.createDataFrame(rows, "traj_id long, t long, x double")
    with _pytest.raises(ValueError, match="2\\*radius\\+1"):
        sliding_window(df, radius=2, col="x", validate_lengths=True).collect()


def test_range_join_matches_naive(spark):
    """Bin-bucketed range join equals the naive BETWEEN join, including
    intervals spanning many bins, negative coordinates, and points in no
    interval."""
    from deeptime_spark.operators.lag import range_join

    pts = [(1, 0, -15), (1, 1, 5), (1, 2, 17), (1, 3, 100), (2, 4, 5), (2, 5, 55)]
    ivs = [(1, 10, -20, 6), (1, 11, 4, 30), (2, 12, 50, 60)]
    pdf = spark.createDataFrame(pts, "k long, pid long, t long")
    idf = spark.createDataFrame(ivs, "k long, iid long, s long, e long")

    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(pdf, idf, by="k", t_col="t", start_col="s", end_col="e", bin_size=7).collect()
    )
    want = sorted(
        (p[1], i[1]) for p in pts for i in ivs
        if p[0] == i[0] and i[2] <= p[2] <= i[3]
    )
    assert got == want and len(got) == 5


def test_range_join_plans_as_equi_join(spark):
    """The whole point: no BroadcastNestedLoopJoin in the physical plan."""
    from deeptime_spark.operators.lag import range_join

    pdf = spark.range(100).select(F.lit(1).alias("k"), F.col("id").alias("t"))
    idf = spark.range(10).select(
        F.lit(1).alias("k"), (F.col("id") * 10).alias("s"), (F.col("id") * 10 + 5).alias("e")
    )
    out = range_join(pdf, idf, by="k", t_col="t", start_col="s", end_col="e", bin_size=10)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "BroadcastNestedLoop" not in buf.getvalue()


def test_asof_join_directions_and_tolerance(spark):
    from deeptime_spark.operators.lag import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 35), (2, 5)], "k long, t long"
    )
    right = spark.createDataFrame(
        [(1, 8, "a"), (1, 20, "b"), (1, 100, "c"), (2, 50, "d")],
        "k long, t long, v string",
    )

    def run(**kw):
        return {
            (r["k"], r["t"]): r["v_asof"]
            for r in asof_join(left, right, on="t", by="k", **kw).collect()
        }

    back = run(direction="backward")
    assert back == {(1, 10): "a", (1, 20): "b", (1, 35): "b", (2, 5): None}
    fwd = run(direction="forward")
    assert fwd == {(1, 10): "b", (1, 20): "b", (1, 35): "c", (2, 5): "d"}
    # tolerance: backward match farther than 5 in t is nulled
    tol = run(direction="backward", tolerance=5)
    assert tol == {(1, 10): "a", (1, 20): "b", (1, 35): None, (2, 5): None}
