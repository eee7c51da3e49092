"""Time-lagging / windowing / splitting — the engine's projection layer.

Reference semantics (SURVEY.md §2.2):

- ``timeshifted_split`` (/root/reference/src/deeptime/util/data.py:55-152):
  yields pairs ``(x_t, x_{t+tau})`` per trajectory; pairs never cross
  trajectory boundaries (util/data.py:57-59); optional stride.
- ``TrajectoryDataset`` lag application ``traj[:-tau], traj[tau:]``
  (util/data.py:333-341).
- ``sliding_window`` radius-r windows (util/data.py:11-52).
- ``blocksplit_trajs`` / ``cvsplit_trajs``
  (/root/reference/src/deeptime/decomposition/_score.py:156,204).

Spark realization: ``lagged`` is the one place the package shifts a
column in time — every ``lead`` (positive offset) or ``lag`` (negative) is a
column of ONE projection over ``Window.partitionBy(*by).orderBy(t)``, so
any number of partners costs one window pass and one shuffle by the
trajectory key (none if the input is already partitioned by it). A partner
never crosses a ``by`` group. ``timeshifted``, the Markov counters and
SINDy's finite differences build on it. Chunking in the reference
(chunksize=1000) is subsumed by Spark partitioning.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TRAJ_COL = "traj_id"
TIME_COL = "t"
FEATURES_COL = "x"


def _traj_window(traj_col: str = TRAJ_COL, time_col: str = TIME_COL):
    return Window.partitionBy(traj_col).orderBy(time_col)


def lagged(
    df: DataFrame,
    partners: Mapping[str, tuple[str, int]],
    by: Sequence[str] = (TRAJ_COL,),
    order: str = TIME_COL,
) -> DataFrame:
    """The input rows plus one column per partner ``name: (col, offset)``:
    ``lead(col, offset)`` for ``offset >= 0``, ``lag(col, -offset)`` below,
    within each ``by`` group ordered by ``order`` (positional: frame indices
    are assumed dense). All partners share one window; a partner that falls
    off its group is NULL."""
    w = Window.partitionBy(*by).orderBy(order)
    return df.withColumns({
        name: (F.lead(col, k) if k >= 0 else F.lag(col, -k)).over(w)
        for name, (col, k) in partners.items()
    })


def timeshifted(
    df: DataFrame,
    lagtime: int,
    stride: int = 1,
    cols: Sequence[str] = (FEATURES_COL,),
    traj_col: str = TRAJ_COL,
    time_col: str = TIME_COL,
) -> DataFrame:
    """``timeshifted_split`` semantics (util/data.py:55-152) as one DataFrame.

    Returns the input rows plus ``<col>_lagged = <col>[t+tau]`` for each of
    ``cols`` (the reference's ``traj[:-tau], traj[tau:]`` pairing,
    util/data.py:333-341), dropping rows whose partner falls off the end of
    the trajectory, restricted to ``t % stride == 0`` (reference stride
    semantics: stride subsamples the *start* frames, the lag is applied on
    the unstrided series, see util/data.py:120-126).
    """
    if lagtime < 0:
        raise ValueError(f"lagtime must be >= 0, got {lagtime}")
    out = lagged(df, {c + "_lagged": (c, lagtime) for c in cols}, (traj_col,), time_col)
    if lagtime > 0:
        out = out.where(F.col(cols[0] + "_lagged").isNotNull())
    return strided(out, stride, time_col)


def strided(df: DataFrame, stride: int, time_col: str = TIME_COL) -> DataFrame:
    """Frame subsampling ``t % stride == 0`` (pushdown-friendly filter)."""
    if stride <= 1:
        return df
    return df.where(F.col(time_col) % stride == 0)


def sliding_window(
    df: DataFrame,
    radius: int,
    col: str = FEATURES_COL,
    traj_col: str = TRAJ_COL,
    time_col: str = TIME_COL,
    out_col: str = "window",
    fixed_width: bool = False,
    validate_lengths: bool = False,
) -> DataFrame:
    """Sliding windows of radius r per trajectory (util/data.py:11-52).

    Default mode: ``window[t] = [x[t-r] .. x[t+r]]`` clipped at trajectory
    boundaries — element-for-element the reference's generator output.
    ``fixed_width`` mirrors the reference exactly too: every row gets a
    complete ``2r+1`` window, with edge rows clamped to the first/last
    complete window of their trajectory (one co-partitioned join from row
    position to clamped window position — the only extra shuffle).

    ``validate_lengths`` replicates the reference's ValueError for
    trajectories shorter than ``2r+1``; it costs one aggregation pass, so
    it is opt-in (off, short trajectories simply keep clipped windows in
    default mode / drop in fixed mode).
    """
    if validate_lengths:
        n_min = (
            df.groupBy(traj_col).count().agg(F.min("count").alias("m")).first()["m"]
        )
        if n_min is not None and n_min < 2 * radius + 1:
            raise ValueError(
                f"every trajectory needs at least length 2*radius+1={2 * radius + 1}, "
                f"shortest has length={n_min}"
            )
    w = _traj_window(traj_col, time_col).rowsBetween(-radius, radius)
    out = df.withColumn(out_col, F.collect_list(col).over(w))
    if not fixed_width:
        return out
    # reference fixed-width semantics: clamp the window position inward at
    # the edges. Complete windows exist at positions [r, n-1-r]; map each
    # row's t to t_c = clamp(t, r, n-1-r) and join (same traj hash
    # partitioning on both sides).
    wins = out.where(F.size(out_col) == 2 * radius + 1).select(
        F.col(traj_col), F.col(time_col).alias("_tw"), F.col(out_col)
    )
    wtraj = _traj_window(traj_col, time_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pos = df.withColumn("_n", F.count(F.lit(1)).over(wtraj)).withColumn(
        "_tc",
        F.least(
            F.greatest(F.col(time_col), F.lit(radius)),
            F.col("_n") - 1 - F.lit(radius),
        ),
    )
    return (
        pos.join(wins, on=[pos[traj_col] == wins[traj_col], pos["_tc"] == wins["_tw"]])
        .select(*[pos[c] for c in df.columns], wins[out_col])
        .drop("_n", "_tc")
    )


def blocksplit(
    df: DataFrame,
    blocksize: int,
    shift: int = 0,
    traj_col: str = TRAJ_COL,
    time_col: str = TIME_COL,
    out_col: str = "block_id",
) -> DataFrame:
    """Cut trajectories into contiguous blocks of ``blocksize`` frames.

    Bootstrap/CV unit of ``blocksplit_trajs``
    (decomposition/_score.py:156-202): block boundaries never split a lagged
    pair when blocksize >= lagtime. block_id is globally unique
    (traj_id, local block) so downstream sampling can treat blocks as iid.
    """
    if blocksize < 1:
        raise ValueError("blocksize must be >= 1")
    local_block = ((F.col(time_col) - F.lit(shift)) / blocksize).cast("long")
    return df.withColumn(out_col, F.concat_ws("_", F.col(traj_col), local_block))


def cvsplit(
    df: DataFrame,
    seed: int = 42,
    traj_col: str = TRAJ_COL,
    out_col: str = "fold",
    n_folds: int = 2,
) -> DataFrame:
    """Deterministic per-trajectory fold assignment (cvsplit_trajs,
    decomposition/_score.py:204-225): hash(traj_id, seed) % n_folds.

    Whole trajectories go to one fold (the reference splits the trajectory
    *list*), preserving temporal correlation structure within folds.
    """
    return df.withColumn(out_col, F.pmod(F.hash(F.col(traj_col), F.lit(seed)), F.lit(n_folds)))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "t",
    by: Sequence[str] | str = (),
    right_cols: Sequence[str] | None = None,
    suffix: str = "_asof",
    direction: str = "backward",
    tolerance: float | int | None = None,
) -> DataFrame:
    """As-of join: for each left row, the LATEST right row with
    ``right.on <= left.on`` (``direction='backward'``) or the EARLIEST
    with ``right.on >= left.on`` (``'forward'``) within the same ``by``
    key(s) — the time-alignment specialization of the lag join
    (SURVEY.md §2.14; semantics of pandas ``merge_asof``). ``tolerance``
    nulls the carried columns when the matched row is farther than that
    distance in ``on`` units (left rows are always kept).

    Plan shape at scale: tag sides, union by name, ONE shuffle on the key
    for a last/first(ignorenulls) window — no per-row range probing, no
    join explosion on hot keys; all carried columns share a single Window
    operator. At equal timestamps the right row sorts on the inclusive
    side, so equality matches in both directions.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    by = [by] if isinstance(by, str) else list(by)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in set(by) | {on}]
    # backward: right first at ties (right=0 < left=1), last() over the
    # preceding frame. forward: right after left at ties (left=0 <
    # right=1), first() over the following frame.
    left_tag, right_tag = (1, 0) if direction == "backward" else (0, 1)
    l = left.withColumn("_side", F.lit(left_tag))
    r = right.select(
        *by,
        F.col(on),
        F.col(on).alias(f"{on}{suffix}"),
        *[F.col(c).alias(f"{c}{suffix}") for c in right_cols],
    ).withColumn("_side", F.lit(right_tag))
    u = l.unionByName(r, allowMissingColumns=True)
    carried = [f"{on}{suffix}"] + [f"{c}{suffix}" for c in right_cols]
    base = Window.partitionBy(*by).orderBy(F.col(on).asc(), F.col("_side").asc())
    if direction == "backward":
        w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pick = lambda c: F.last(c, ignorenulls=True).over(w)  # noqa: E731
    else:
        w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        pick = lambda c: F.first(c, ignorenulls=True).over(w)  # noqa: E731
    for c in carried:
        u = u.withColumn(c, pick(c))
    out = u.where(F.col("_side") == F.lit(left_tag)).drop("_side")
    if tolerance is not None:
        out = out.withColumn(
            "_gap", F.abs(F.col(on) - F.col(f"{on}{suffix}"))
        )
        for c in carried:
            out = out.withColumn(c, F.when(F.col("_gap") <= F.lit(tolerance), F.col(c)))
        out = out.drop("_gap")
    return out.drop(f"{on}{suffix}")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    by: Sequence[str] | str,
    t_col: str,
    start_col: str,
    end_col: str,
    bin_size: int,
) -> DataFrame:
    """Point-in-interval join (``start <= t <= end`` within ``by`` keys)
    via bin bucketing — the scalable plan for a non-equi time join.

    Spark plans a raw BETWEEN join as BroadcastNestedLoopJoin — O(n*m)
    per key and a driver-killer at scale. Bucketing restores an equi-join:
    each interval explodes to the ``floor(len/bin_size)+1`` bins it
    overlaps, each point hashes to its single bin, and the join runs on
    (by, bin) with the BETWEEN as a post-filter. A matching pair meets in
    exactly one bin (the point's), so no dedup pass is needed. Pick
    ``bin_size`` near the typical interval length: fanout stays O(1) and
    the shuffle key (by, bin) spreads hot keys across time.

    ``t_col``/``start_col``/``end_col`` must be numeric (e.g. epoch
    micros). Returns points joined with their matching intervals' columns;
    points in no interval are dropped (inner semantics).
    """
    by = [by] if isinstance(by, str) else list(by)
    pb = points.withColumn("_bin", F.floor(F.col(t_col) / F.lit(bin_size)))
    ib = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / F.lit(bin_size)),
                F.floor(F.col(end_col) / F.lit(bin_size)),
            )
        ),
    )
    return (
        pb.join(ib, on=by + ["_bin"])
        .where((F.col(t_col) >= F.col(start_col)) & (F.col(t_col) <= F.col(end_col)))
        .drop("_bin")
    )
