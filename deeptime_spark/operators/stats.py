"""Statistics operators: 2-d histograms, free-energy landscapes, CIs.

Reference semantics: ``histogram2d_from_xy`` / ``energy2d`` /
``EnergyLandscape2d`` (/root/reference/src/deeptime/util/stats.py:364-431)
and ``confidence_interval`` (util/stats.py:10-130).

Spark realization: a 2-d histogram is one ``groupBy(bin_x, bin_y).count()``
— a single shuffle whose key cardinality is bins_x * bins_y (tiny), with
map-side partial aggregation; the free-energy transform ``-ln(p)`` is a
per-group column expression. This is the plan at any scale.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deeptime_spark import dispatch


def bin_column(c: Column, v0: float, v1: float, n_bins: int) -> Column:
    """Uniform bin index in [0, n_bins): floor((x - v0)/dx), clipped so the
    right edge lands in the last bin (numpy.histogram2d edge semantics)."""
    dx = (v1 - v0) / n_bins
    raw = F.floor((c - F.lit(v0)) / F.lit(dx)).cast("long")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))


def histogram2d_df(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bins: int | tuple[int, int] = 100,
    x_range: Optional[tuple[float, float]] = None,
    y_range: Optional[tuple[float, float]] = None,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Distributed 2-d histogram: (bin_x, bin_y, hist_count).

    Ranges default to the data min/max (one cheap agg job, matching
    numpy.histogram2d's auto-range in the reference util/stats.py:398).
    Out-of-range values are clipped into the edge bins. ``bins`` may be a
    single int or a (bins_x, bins_y) pair.
    """
    bins_x, bins_y = bins if isinstance(bins, tuple) else (bins, bins)
    if x_range is None or y_range is None:
        r = df.agg(
            F.min(x_col).alias("x0"), F.max(x_col).alias("x1"),
            F.min(y_col).alias("y0"), F.max(y_col).alias("y1"),
        ).first()
        x_range = x_range or (float(r["x0"]), float(r["x1"]))
        y_range = y_range or (float(r["y0"]), float(r["y1"]))
    agg = (
        F.sum(F.col(weight_col)).alias("hist_count")
        if weight_col
        else F.count(F.lit(1)).alias("hist_count")
    )
    return (
        df.select(
            bin_column(F.col(x_col), x_range[0], x_range[1], bins_x).alias("bin_x"),
            bin_column(F.col(y_col), y_range[0], y_range[1], bins_y).alias("bin_y"),
            *( [F.col(weight_col)] if weight_col else [] ),
        )
        .groupBy("bin_x", "bin_y")
        .agg(agg)
    )


def histogram2d(
    df: DataFrame, x_col: str, y_col: str, bins: int | tuple[int, int] = 100,
    x_range: Optional[tuple[float, float]] = None,
    y_range: Optional[tuple[float, float]] = None,
    weight_col: Optional[str] = None,
) -> np.ndarray:
    """Dense (bins, bins) histogram matrix on the driver."""
    a = dispatch.arrays(histogram2d_df(df, x_col, y_col, bins, x_range, y_range, weight_col))
    bins_x, bins_y = bins if isinstance(bins, tuple) else (bins, bins)
    H = np.zeros((bins_x, bins_y))
    H[a["bin_x"], a["bin_y"]] = a["hist_count"]
    return H


def energy2d(
    df: DataFrame, x_col: str, y_col: str, bins: int | tuple[int, int] = 100, kbt: float = 1.0,
    x_range: Optional[tuple[float, float]] = None,
    y_range: Optional[tuple[float, float]] = None,
    weight_col: Optional[str] = None,
    shift_energy: bool = True,
) -> np.ndarray:
    """Free-energy landscape ``-kbt * ln(p)`` from the 2-d histogram
    (reference util/stats.py:431-470); empty bins are +inf. ``shift_energy``
    sets the minimum to zero, as the reference does."""
    H = histogram2d(df, x_col, y_col, bins, x_range, y_range, weight_col)
    total = H.sum()
    with np.errstate(divide="ignore"):
        E = -kbt * np.log(H / total)
    if shift_energy and np.isfinite(E).any():
        E -= E[np.isfinite(E)].min()
    return E


def confidence_interval(samples, conf: float = 0.95) -> tuple:
    """Empirical two-sided CI of a 1-d sample set
    (reference util/stats.py:10-130: percentile-based, symmetric tails).
    Driver-side: posterior sample sets are small by construction."""
    if not 0.0 < conf < 1.0:
        raise ValueError(f"confidence must be in (0, 1), got {conf}")
    arr = np.asarray(samples, dtype=float)
    lo = 100.0 * (1.0 - conf) / 2.0
    return (float(np.percentile(arr, lo)), float(np.percentile(arr, 100.0 - lo)))


def confidence_interval_df(
    df: DataFrame, value_col: str, conf: float = 0.95, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Distributed variant: exact percentiles per group via
    ``percentile`` (Spark's exact percentile aggregate; use
    ``percentile_approx`` upstream when value cardinality explodes)."""
    lo = (1.0 - conf) / 2.0
    g = df.groupBy(*group_cols) if group_cols else df.groupBy()
    return g.agg(
        F.percentile(F.col(value_col), F.lit(lo)).alias("ci_lo"),
        F.percentile(F.col(value_col), F.lit(1.0 - lo)).alias("ci_hi"),
        F.mean(F.col(value_col)).alias("ci_mean"),
    )


def funnel_stages(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_gap_seconds: int | None = None,
) -> DataFrame:
    """Ordered funnel analysis: for each user, the deepest stage of
    ``steps`` reached by STRICT temporal progression — stage ``i`` is
    reached iff an event of type ``steps[i-1]`` occurs strictly after
    the earliest time stage ``i-1`` was reached (first-touch
    semantics; simultaneous events do not advance the funnel), and,
    with ``max_gap_seconds``, no later than that many seconds after it
    (standard conversion-window semantics).
    Returns ``(user_col, stage)`` with stage 0 = none of the steps.

    Spark shape: one conditional ``min(ts)`` aggregate per step, each
    chained through an equi-join on the user key — |steps| hash
    aggregates over progressively SHRINKING user sets, no windows over
    the event stream and no per-user sorting; at 100 TB each stage is
    a map-side-partial min on the already-filtered event subset.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    users = events.select(user_col).distinct()
    stage_frames = []
    cur = None
    for i, step in enumerate(steps):
        e = events.where(F.col(type_col) == step)
        if cur is None:
            nxt = e.groupBy(user_col).agg(F.min(ts_col).alias("_t"))
        else:
            cond = F.col(ts_col) > F.col("_t")
            if max_gap_seconds is not None:
                # conversion window: the step must land within max_gap
                # of the previous stage's first touch
                cond = cond & (
                    F.col(ts_col)
                    <= F.col("_t")
                    + F.expr(f"INTERVAL {int(max_gap_seconds)} SECOND")
                )
            nxt = (
                e.join(cur, user_col)
                .where(cond)
                .groupBy(user_col)
                .agg(F.min(ts_col).alias("_t"))
            )
        stage_frames.append(
            nxt.select(user_col, F.lit(i + 1).alias(f"_s{i + 1}"))
        )
        cur = nxt
    out = users
    for i, sf in enumerate(stage_frames):
        out = out.join(sf, user_col, "left")
    stage = F.lit(0)
    for i in range(len(steps)):
        stage = F.when(F.col(f"_s{i + 1}").isNotNull(), F.lit(i + 1)).otherwise(stage)
    return out.select(user_col, stage.cast("long").alias("stage"))


def retention_cohorts(
    events: DataFrame,
    offsets: list[int] = (0, 1, 7),
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention: users are cohorted by their FIRST active day;
    for each cohort day and each ``offsets`` day-offset, the number of
    cohort users active exactly ``offset`` days later.  Returns
    ``(cohort_day, day_offset, n_users)`` — the classic retention
    triangle, one row per (cohort, offset).

    Spark shape: the distinct (user, day) activity relation (one
    dedup aggregate — map-side partials collapse same-day events), a
    min-day aggregate for the cohort, one equi-join on the user, and a
    count per (cohort, offset).  No windows, no self-joins over raw
    events; everything after the first dedup is O(user-days).
    """
    act = events.select(
        F.col(user_col), F.to_date(F.col(ts_col)).alias("_day")
    ).distinct()
    first = act.groupBy(user_col).agg(F.min("_day").alias("_cohort"))
    offs = [int(o) for o in offsets]
    return (
        act.join(first, user_col)
        .select(
            F.col("_cohort"),
            F.datediff(F.col("_day"), F.col("_cohort")).alias("day_offset"),
            F.col(user_col),
        )
        .where(F.col("day_offset").isin(offs))
        .groupBy("_cohort", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.col("_cohort").cast("string").alias("cohort_day"),
            F.col("day_offset").cast("long").alias("day_offset"),
            "n_users",
        )
    )


def mad_anomalies(
    df: DataFrame,
    value_col: str = "value",
    group_cols: tuple = ("event_type",),
    z_threshold: float = 3.5,
    scale: float = 1.4826,
) -> DataFrame:
    """Robust per-group outlier flags via the median/MAD rule (Iglewicz &
    Hoaglin, "How to Detect and Handle Outliers", 1993): a row is
    anomalous when ``|x - median| / (scale * MAD) > z_threshold`` with
    the 1.4826 consistency constant making the score comparable to a
    z-score under normality — the standard robust alternative to
    mean/stddev, which a single extreme value corrupts.

    Spark shape: two exact-``percentile`` hash aggregations (group
    medians, then medians of absolute deviations) and two joins back;
    the per-group stat frames are O(|groups|) rows so both joins
    broadcast at scale, and the data rows are scanned twice with no
    global sort. With exact-integer inputs the median interpolation uses
    binary-exact half weights, so scores are engine-reproducible.

    Degenerate groups (MAD = 0, i.e. more than half the values
    identical): ``rob_z`` is null and any nonzero deviation is flagged.
    Returns the input columns plus (med, mad, rob_z, is_anomaly).
    """
    groups = list(group_cols)
    v = F.col(value_col).cast("double")
    med_df = df.groupBy(*groups).agg(
        F.percentile(value_col, F.lit(0.5)).alias("med")
    )
    dev = df.join(F.broadcast(med_df), groups).withColumn(
        "_absdev", F.abs(v - F.col("med"))
    )
    mad_df = dev.groupBy(*groups).agg(
        F.percentile("_absdev", F.lit(0.5)).alias("mad")
    )
    out = dev.join(F.broadcast(mad_df), groups).withColumn(
        "rob_z",
        F.when(
            F.col("mad") > 0,
            F.col("_absdev") / (F.lit(scale) * F.col("mad")),
        ),
    )
    return out.withColumn(
        "is_anomaly",
        F.when(F.col("mad") > 0, F.col("rob_z") > F.lit(z_threshold)).otherwise(
            F.col("_absdev") > 0
        ),
    ).drop("_absdev")


def cusum_changepoints(
    df: DataFrame,
    value_col: str,
    order_cols: tuple,
    group_cols: tuple = (),
    drift: int = 0,
    threshold: int | None = None,
    allow_single_partition: bool = False,
) -> DataFrame:
    """Two-sided CUSUM change detection (Page, "Continuous Inspection
    Schemes", Biometrika 41, 1954) over integer-valued series, per group.

    The textbook recursion ``S+_t = max(0, S+_{t-1} + (x_t - c) - k)``
    is a running reset-sum; it is NOT a plain window aggregate, but it
    equals ``P_t - min_{0<=j<=t} P_j`` (empty prefix included) for the prefix sums
    ``P_t = Σ(x_i - c - k)`` — so both one-sided statistics become TWO
    window functions (cumulative sum, running extremum) over the same
    (group, order) frame: one shuffle, no recursion, no Python, and the
    whole computation is exact integer arithmetic (engine-portable).

    ``value_col`` must be integer-valued (scale floats to
    cents/ppm first); the per-group center ``c`` is the floored integer
    mean ``floor(SUM(x) / COUNT(x))`` (window-computed — no join),
    ``drift`` is the CUSUM slack ``k`` in the same units.

    Returns the input columns plus (cusum_pos, cusum_neg) and, when
    ``threshold`` is given, ``is_alarm`` (either side exceeding it).
    Rows within a group MUST be totally ordered by ``order_cols`` —
    include a unique id as the last key; a tie would make the running
    extremum order-dependent.

    ``group_cols`` is REQUIRED non-empty unless
    ``allow_single_partition=True``: an ungrouped CUSUM is one global
    ordered window — Spark plans it as a SINGLE task holding the whole
    series, which silently serializes at scale. Pass the explicit flag
    only for series known to be driver-sized.
    """
    from pyspark.sql import Window

    groups = list(group_cols)
    if not groups and not allow_single_partition:
        raise ValueError(
            "cusum_changepoints without group_cols runs the whole series "
            "through ONE task (a single global ordered window); pass "
            "group_cols, or allow_single_partition=True for a "
            "driver-sized series"
        )
    base = (
        Window.partitionBy(*groups) if groups else Window.partitionBy(F.lit(1))
    )
    whole = base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    run = base.orderBy(*[F.col(c) for c in order_cols]).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    x = F.col(value_col).cast("long")
    total = F.sum(x).over(whole)
    cnt = F.count(x).over(whole)
    # floor of an exact-long quotient: both engines floor() the same
    # correctly-rounded double (totals < 2^53 by the integer contract)
    center = F.floor(total / cnt).cast("long")
    dev = x - center
    p_pos = F.sum(dev - F.lit(int(drift))).over(run)
    p_neg = F.sum(dev + F.lit(int(drift))).over(run)
    # the running extremum must include the EMPTY prefix (P_0 = 0) —
    # that is the max(0, ·) reset in the recursion
    s_pos = p_pos - F.least(F.lit(0), F.min(p_pos).over(run))
    s_neg = F.greatest(F.lit(0), F.max(p_neg).over(run)) - p_neg
    out = df.withColumn("cusum_pos", s_pos).withColumn("cusum_neg", s_neg)
    if threshold is not None:
        out = out.withColumn(
            "is_alarm",
            (F.col("cusum_pos") > F.lit(int(threshold)))
            | (F.col("cusum_neg") > F.lit(int(threshold))),
        )
    return out


def ewma_by_key(
    df: DataFrame,
    value_col: str = "value",
    order_cols: list[str] | None = None,
    group_cols: list[str] | None = None,
    alpha: float = 0.25,
) -> DataFrame:
    """Per-key exponentially weighted moving average — the classic
    smoothing/forecast primitive (Hunter 1986; the reference exposes the
    equivalent recursive statistic through its trajectory statistics
    layer, /root/reference/src/deeptime/util/stats.py).

    Semantics: within each group, order rows by ``order_cols`` and fold
    ``s_0 = x_0; s_t = (1 - alpha) * s_{t-1} + alpha * x_t``; returns one
    row per group ``(group_cols..., n_events, ewma_value)`` — the
    fold's final state.

    Spark shape: ONE hash aggregate collects each key's (order, value)
    structs; ``array_sort`` + ``F.aggregate`` then run the fold as pure
    codegen expressions — no Python, no second shuffle, no window sort
    of the full relation.  The recursion is inherently sequential per
    key, so the per-key series must assemble somewhere; an aggregate
    buffer is the cheapest place (vs. a window sort of every row).
    State is O(events-per-key): bounded for dashboard/telemetry keys.
    For unbounded per-key streams use the incremental form in
    streaming/accumulate.py (applyInPandasWithState holds only the
    scalar carry, not the series).

    Float contract (oracle-exact): the fold is a fixed IEEE-754 op
    sequence — ``acc * (1-alpha) + x * alpha`` left-to-right over the
    deterministically ordered series — mirrored verbatim by DuckDB's
    ``list_reduce`` over ``list(value ORDER BY ...)``.  ``alpha`` should
    be binary-exact (0.25, 0.125, ...) so both engines parse the same
    literal. Nulls in ``value_col`` are dropped before the fold.
    """
    if not order_cols:
        raise ValueError("order_cols is required for a deterministic fold")
    group_cols = list(group_cols or [])
    a = float(alpha)
    src = df.where(F.col(value_col).isNotNull())
    agg = src.groupBy(*group_cols).agg(
        F.array_sort(
            F.collect_list(
                F.struct(*[F.col(c) for c in order_cols], F.col(value_col).alias("_v"))
            )
        ).alias("_s")
    )
    vals = F.transform(F.col("_s"), lambda s: s["_v"].cast("double"))
    fold = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: acc * F.lit(1.0 - a) + x * F.lit(a),
    )
    return agg.select(
        *group_cols,
        F.size("_s").cast("long").alias("n_events"),
        fold.alias("ewma_value"),
    )
