"""Structured Streaming surface.

deeptime itself is batch-only; its only streaming notion is chunked
``partial_fit`` ingestion (reference base.py:247-329). That maps exactly
onto Structured Streaming (SURVEY.md §1.2, §2.14):

- ``StreamingEstimator``: ``foreachBatch`` drives ``partial_fit`` per
  micro-batch. Every estimator whose sufficient statistics form a monoid
  (moments/covariance, transition counts, minibatch k-means) accumulates
  exactly as in batch — same numbers, streaming arrival order.
- ``windowed_event_counts``: tumbling/sliding event-time windows with a
  watermark; late frames beyond the watermark are dropped from updates
  (the late-data policy SURVEY §7.4.8 fixes, since the reference has no
  counterpart).
- ``streaming_transition_counts``: custom stateful operator via
  ``applyInPandasWithState`` — per-trajectory state carries the last
  (t, state) so dtraj transitions are emitted incrementally across
  micro-batches.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from deeptime_spark.streaming import replay


class StreamingEstimator:
    """Drive any partial_fit-capable estimator from a stream.

    ``start(stream_df)`` attaches a foreachBatch sink that calls
    ``estimator.partial_fit(batch_df)`` per micro-batch; ``model`` yields
    the current accumulated model at any time (monoid merge semantics —
    identical to one batch fit over the concatenation).
    """

    def __init__(self, estimator):
        self.estimator = estimator
        self.query = None

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        self.estimator.partial_fit(batch_df)

    def start(self, stream_df: DataFrame, checkpoint: Optional[str] = None):
        self.query = _start_foreach_batch(stream_df, self._process_batch, checkpoint)
        return self.query

    def await_and_fetch(self):
        """The model once the stream has drained; raises
        ``replay.StreamReplayTimeout`` (after stopping the stream) rather
        than return a model fitted on only some of the batches."""
        replay.wait(self.query)
        return self.estimator.fetch_model()


def _start_foreach_batch(stream_df: DataFrame, fn, checkpoint: Optional[str]):
    """Start ``fn(batch_df, batch_id)`` as an ``availableNow``
    foreachBatch sink; returns the started StreamingQuery."""
    writer = (
        stream_df.writeStream.foreachBatch(fn)
        .outputMode("update")
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def windowed_event_counts(
    stream_df: DataFrame,
    window_duration: str = "1 hour",
    slide_duration: Optional[str] = None,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling/sliding event-time counts: the streaming
    analogue of the histogram layer. Late rows beyond the watermark are
    dropped (documented policy)."""
    win = (
        F.window(ts_col, window_duration, slide_duration)
        if slide_duration
        else F.window(ts_col, window_duration)
    )
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n",
        )
    )


_TC_STATE_SCHEMA = StructType(
    [StructField("last_t", LongType()), StructField("last_state", IntegerType())]
)
_TC_OUT_SCHEMA = StructType(
    [
        StructField("traj_id", LongType()),
        StructField("s_from", IntegerType()),
        StructField("s_to", IntegerType()),
        StructField("n", LongType()),
    ]
)


def streaming_drop_exact_duplicates(
    stream_df: DataFrame,
    text_col: str = "text",
    ts_col: Optional[str] = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first occurrence of each content
    hash across micro-batches.

    With an event-time column, uses ``dropDuplicatesWithinWatermark`` so
    the dedup state is bounded (hashes older than the watermark age out —
    the only viable policy for an unbounded corpus stream). Without one,
    falls back to global ``dropDuplicates`` (state grows with distinct
    content; fine for bounded backfills).
    """
    hashed = stream_df.withColumn("_h", F.xxhash64(F.col(text_col)))
    if ts_col is not None:
        return (
            hashed.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["_h"])
            .drop("_h")
        )
    return hashed.dropDuplicates(["_h"]).drop("_h")


def _transition_fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-trajectory stateful kernel: carries the last (t, state) pair
    across micro-batches and emits lag-1 transition counts for newly
    arrived, in-order frames."""
    (traj_id,) = key
    if state.exists:
        last_t, last_state = state.get
    else:
        last_t, last_state = None, None
    counts: dict = {}
    for pdf in pdfs:
        pdf = pdf.sort_values("t")
        for t, s in zip(pdf["t"].astype("int64"), pdf["state"].astype("int32")):
            if last_t is not None and t == last_t + 1 and last_state >= 0 and s >= 0:
                pair = (int(last_state), int(s))
                counts[pair] = counts.get(pair, 0) + 1
            last_t, last_state = int(t), int(s)
    state.update((last_t, last_state))
    if counts:
        yield pd.DataFrame(
            {
                "traj_id": [int(traj_id)] * len(counts),
                "s_from": [k[0] for k in counts],
                "s_to": [k[1] for k in counts],
                "n": list(counts.values()),
            }
        )


def streaming_transition_counts(stream_df: DataFrame) -> DataFrame:
    """Incremental dtraj transition counting as a custom stateful
    streaming operator (applyInPandasWithState, SURVEY §2.14): emits
    per-micro-batch (traj_id, s_from, s_to, n) increments; a downstream
    aggregation (or the driver) folds them into the count matrix."""
    return (
        stream_df.groupBy("traj_id")
        .applyInPandasWithState(
            _transition_fn,
            outputStructType=_TC_OUT_SCHEMA,
            stateStructType=_TC_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_session_counts(
    stream_df: DataFrame,
    gap: str = "30 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based sessionization on a stream via Spark's native
    ``session_window`` aggregation (SURVEY §2.14 sessions, streaming
    form): one row per (user, session) with the event count. Session
    state merges across micro-batches and out-of-order arrivals — the
    operator needs NO in-order contract, unlike the stateful transition
    counter. Run in complete output mode for exact end-of-stream batch
    equivalence (append mode would hold back sessions the watermark has
    not closed); at true scale, append mode + a watermark bounds the
    state instead and late sessions trail by the allowed lateness.

    Boundary semantics: an event at exactly ``gap`` after the previous
    one starts a NEW session (session extents are half-open
    ``[ts, ts+gap)``).
    """
    return (
        stream_df.groupBy(F.session_window(F.col(ts_col), gap), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def streaming_probe_signature_index(
    spark,
    stream_df: DataFrame,
    index_path: str,
    out_path: str,
    threshold: float = 0.5,
    n_hashes: int = 32,
    bands: int = 8,
    checkpoint: Optional[str] = None,
):
    """Incremental dedup over a DOCUMENT STREAM: each micro-batch of
    arriving documents is signed and probed against the persisted
    signature index (operators/dedup.py:probe_signature_index) inside
    ``foreachBatch``, and the matches append to ``out_path`` as parquet.

    This is the streaming face of the daily-delta pattern: the index is
    static (signed once), per-batch work is proportional to the batch,
    and because probing is per-document independent the union of
    per-batch results equals the one-shot batch probe — the equivalence
    the harness query pins against the batch oracle.  Returns the
    started StreamingQuery (``availableNow`` trigger)."""
    from deeptime_spark.operators.dedup import probe_signature_index

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        probe_signature_index(
            spark, batch_df, index_path, threshold, n_hashes=n_hashes, bands=bands
        ).write.mode("append").parquet(out_path)

    return _start_foreach_batch(stream_df, _process, checkpoint)


_CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("sp", LongType()),
        StructField("sn", LongType()),
        StructField("max_sp", LongType()),
        StructField("max_sn", LongType()),
        StructField("n", LongType()),
        StructField("n_alarms", LongType()),
    ]
)
_CUSUM_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("max_cusum_pos", LongType()),
        StructField("max_cusum_neg", LongType()),
        StructField("n_alarms", LongType()),
    ]
)


def streaming_cusum(
    stream_df: DataFrame,
    centers: dict,
    drift: int = 0,
    threshold: int = 0,
    key_col: str = "event_type",
    value_col: str = "cents",
    order_cols: tuple = ("ts", "event_id"),
) -> DataFrame:
    """Online two-sided CUSUM as a custom stateful streaming operator
    (applyInPandasWithState): per-key state carries the one-sided
    statistics (sp, sn), their running maxima, the row count, and the
    alarm count across micro-batches, updating with the textbook reset
    recursion row by row. ``centers`` is the fixed per-key target mean
    (trained on reference data — the standard online-CUSUM setup, since
    a global mean is not knowable mid-stream).

    In-order contract: like the stateful transition counter, the kernel
    sorts WITHIN a batch by ``order_cols`` but requires batches to
    arrive in key-order across triggers (replay with time-ordered file
    chunks, or partition the replay by key). With the centers fixed to
    the batch query's floored per-key means, the end-of-stream state
    equals the one-shot batch CUSUM exactly — the equivalence the
    harness pins.
    """
    drift = int(drift)
    threshold = int(threshold)
    centers = {k: int(v) for k, v in centers.items()}

    def _fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (k,) = key
        if state.exists:
            sp, sn, max_sp, max_sn, n, n_alarms = state.get
        else:
            sp = sn = max_sp = max_sn = n = n_alarms = 0
        c = centers.get(k, 0)
        for pdf in pdfs:
            pdf = pdf.sort_values(list(order_cols))
            for v in pdf[value_col].astype("int64"):
                d = int(v) - c
                sp = max(0, sp + d - drift)
                sn = max(0, sn - d - drift)
                max_sp = max(max_sp, sp)
                max_sn = max(max_sn, sn)
                n += 1
                if sp > threshold or sn > threshold:
                    n_alarms += 1
        state.update((sp, sn, max_sp, max_sn, n, n_alarms))
        yield pd.DataFrame(
            {
                "event_type": [k],
                "n": [n],
                "max_cusum_pos": [max_sp],
                "max_cusum_neg": [max_sn],
                "n_alarms": [n_alarms],
            }
        )

    return stream_df.groupBy(key_col).applyInPandasWithState(
        _fn,
        outputStructType=_CUSUM_OUT_SCHEMA,
        stateStructType=_CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_heavy_hitters(
    stream_df: DataFrame,
    k: int = 20,
    key_col: str = "lang",
    item_col: str = "term",
    order_cols: tuple = ("doc_id", "pos"),
) -> DataFrame:
    """Streaming heavy hitters by the Misra-Gries summary (Misra &
    Gries, "Finding repeated elements", Sci. Comput. Program. 1982) as
    a custom stateful operator: per stream key, state holds at most
    ``k`` (item, lower-bound count) counters plus the processed-row
    total. A seen item increments its counter; an unseen item takes a
    free slot, else EVERY counter decrements (zeros evicted) — the
    classic guarantee that any item with true frequency > n/(k+1)
    survives, with count underestimated by at most n/(k+1). State is
    O(k) per key regardless of stream length — the bounded-memory
    contract that makes this a streaming operator at all.

    In-order contract (same as :func:`streaming_cusum`): rows sort
    WITHIN a batch by ``order_cols``; batches must arrive key-ordered
    across triggers (time-ordered file-chunk replay). The summary is a
    pure function of the processed row SEQUENCE, so batch boundaries
    are invisible and an end-of-stream replay equals the one-pass
    batch run row for row.

    Emits per key per batch: (key, items, counts, n) with counters
    ordered (count desc, item asc). n is monotone — fold a memory sink
    with max_by(n) to recover the final summary.
    """
    from pyspark.sql.types import ArrayType

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    state_schema = StructType(
        [
            StructField("items", ArrayType(StringType())),
            StructField("counts", ArrayType(LongType())),
            StructField("n", LongType()),
        ]
    )
    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField("items", ArrayType(StringType())),
            StructField("counts", ArrayType(LongType())),
            StructField("n", LongType()),
        ]
    )

    def _fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (kk,) = key
        if state.exists:
            items, counts, n = state.get
            ctr = dict(zip(list(items), [int(c) for c in counts]))
            n = int(n)
        else:
            ctr = {}
            n = 0
        for pdf in pdfs:
            pdf = pdf.sort_values(list(order_cols))
            for x in pdf[item_col].astype(str):
                n += 1
                if x in ctr:
                    ctr[x] += 1
                elif len(ctr) < k:
                    ctr[x] = 1
                else:
                    for y in list(ctr):
                        ctr[y] -= 1
                        if ctr[y] == 0:
                            del ctr[y]
        ordered = sorted(ctr.items(), key=lambda kv: (-kv[1], kv[0]))
        state.update(([x for x, _ in ordered], [c for _, c in ordered], n))
        yield pd.DataFrame(
            {
                key_col: [kk],
                "items": [[x for x, _ in ordered]],
                "counts": [[c for _, c in ordered]],
                "n": [n],
            }
        )

    return stream_df.groupBy(key_col).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    time_col: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time stream-stream INNER join: each left row matches right
    rows with the same key whose event time falls in
    ``[left.ts, left.ts + within]`` — the attribution / enrichment
    shape (signup -> purchase within the window). Both sides carry a
    watermark, which is what BOUNDS THE JOIN STATE: Spark retains a
    side's rows only until the other side's watermark passes the join
    condition's time range, so state is O(key-rate x window), not
    O(stream). With an ``availableNow`` replay and a watermark wider
    than the data span nothing is dropped and the result equals the
    batch range join row for row (the equivalence the harness pins).

    Returns the joined frame with columns ``(key, l_ts, l_event_id,
    r_ts, r_event_id)`` — append-mode sink; aggregate downstream.
    """
    l = (
        left.withWatermark(time_col, watermark)
        .select(
            F.col(key_col).alias("_k"),
            F.col(time_col).alias("l_ts"),
            F.col("event_id").alias("l_event_id"),
        )
    )
    r = (
        right.withWatermark(time_col, watermark)
        .select(
            F.col(key_col).alias("_rk"),
            F.col(time_col).alias("r_ts"),
            F.col("event_id").alias("r_event_id"),
        )
    )
    cond = (
        (F.col("_k") == F.col("_rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, "inner").select(
        F.col("_k").alias(key_col), "l_ts", "l_event_id", "r_ts", "r_event_id"
    )


_EWMA_STATE_SCHEMA = StructType(
    [
        StructField("ewma", DoubleType()),
        StructField("n", LongType()),
    ]
)
def streaming_ewma(
    stream_df: DataFrame,
    alpha: float = 0.25,
    key_col: str = "user_id",
    value_col: str = "value",
    order_cols: tuple = ("ts", "event_id"),
) -> DataFrame:
    """Online per-key EWMA as a custom stateful streaming operator
    (applyInPandasWithState) — the incremental form of
    operators/stats.py:ewma_by_key for unbounded per-key streams: state
    is ONE (ewma, n) scalar pair per key, per-batch work is O(batch),
    and the batch operator's O(events-per-key) aggregation buffer never
    materializes.

    Same in-order contract as the stateful CUSUM/transition kernels:
    rows sort by ``order_cols`` within a batch, batches must arrive in
    key-order across triggers (time-ordered file-chunk replay). The
    fold ``s = s*(1-alpha) + x*alpha`` applies row by row in IEEE-754
    doubles — the identical op sequence as the batch codegen fold, so
    the end-of-stream state equals ewma_by_key bit-for-bit and the
    harness query shares event_ewma's pure-SQL list_reduce oracle.
    Null values are skipped (the batch operator drops them pre-fold).
    """
    a = float(alpha)
    b = 1.0 - a
    # key field type follows the actual input column (a string-keyed
    # stream would otherwise emit null keys against a hardcoded Long) —
    # same derivation streaming_heavy_hitters does for its key field
    out_schema = StructType(
        [
            StructField(key_col, stream_df.schema[key_col].dataType),
            StructField("n_events", LongType()),
            StructField("ewma_value", DoubleType()),
        ]
    )

    def _fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (k,) = key
        if state.exists:
            s, n = state.get
        else:
            s, n = None, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(list(order_cols))
            for v in pdf[value_col]:
                if v is None or v != v:  # null / NaN guard
                    continue
                x = float(v)
                s = x if n == 0 else s * b + x * a
                n += 1
        state.update((s, n))
        if n == 0:
            # a key whose values are all null: the batch operator drops
            # those rows pre-fold, so the key is absent there — emit
            # nothing rather than a (0, None) row the oracle lacks
            return
        yield pd.DataFrame(
            {key_col: [k], "n_events": [n], "ewma_value": [s]}
        )

    return stream_df.groupBy(key_col).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_bottomk_quantiles(
    stream_df: DataFrame,
    k: int = 256,
    key_col: str = "event_id",
    value_col: str = "cents",
    group_col: str = "event_type",
    quantiles: tuple = (25, 50, 75, 90),
) -> DataFrame:
    """Online bottom-k (KMV) sampling + nearest-rank quantiles as a
    custom stateful streaming operator — the stream face of
    operators/sketches.py:bottomk_sample / bottomk_rollup_quantiles.

    Because the sample is CONTENT-ADDRESSED (membership depends only on
    xxhash64(key), never on arrival order or batch boundaries), the
    end-of-stream state equals the batch bottom-k sample EXACTLY for
    any replay chunking — stronger than the in-order contract the
    CUSUM/EWMA kernels need: no ordering requirement at all. State per
    group is the current k smallest (hash, key, value) triples —
    bounded at k rows regardless of stream length.

    Emits per group per batch: (group, n_sample, q25, q50, q75, q90)
    with nearest-rank quantiles (ceil(q·n/100), integer-exact for
    integer values) over the current sample; the final emission matches
    the batch rollup, so the harness query shares
    oracle_event_kmv_rollup.
    """
    from deeptime_spark.spark_hashes import xxhash64 as _xx

    kk = int(k)
    qs = tuple(int(q) for q in quantiles)
    out_schema = StructType(
        [
            StructField(group_col, StringType()),
            StructField("n_seen", LongType()),
            StructField("n_sample", LongType()),
        ]
        + [StructField(f"q{q}", LongType()) for q in qs]
    )
    state_schema = StructType(
        [
            StructField("n_seen", LongType()),
            StructField("hs", ArrayType(LongType())),
            StructField("ks", ArrayType(LongType())),
            StructField("vs", ArrayType(LongType())),
        ]
    )

    def _fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (g,) = key
        if state.exists:
            n_seen, hs, ks_, vs = state.get
            sample = sorted(zip(hs, ks_, vs))
        else:
            n_seen, sample = 0, []
        for pdf in pdfs:
            for kv, vv in zip(pdf[key_col], pdf[value_col]):
                kv = int(kv)
                sample.append((_xx(str(kv).encode()), kv, int(vv)))
                n_seen += 1
        sample = sorted(set(sample))[:kk]
        state.update(
            (
                n_seen,
                [h for h, _, _ in sample],
                [x for _, x, _ in sample],
                [v for _, _, v in sample],
            )
        )
        vals = sorted(v for _, _, v in sample)
        n = len(vals)
        # n_seen is strictly increasing per emission — the final-state
        # recovery key (n_sample saturates at k, so it ties)
        row = {group_col: [g], "n_seen": [n_seen], "n_sample": [n]}
        for q in qs:
            row[f"q{q}"] = [vals[max((q * n + 99) // 100, 1) - 1] if n else None]
        yield pd.DataFrame(row)

    return stream_df.groupBy(group_col).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_constraint_totals(
    stream_df: DataFrame,
    constraints: list,
) -> DataFrame:
    """Streaming face of operators/profile.py:constraint_audit — the
    per-batch data-quality monitor a production ingestion attaches to
    its bronze stream. Every constraint becomes a per-row 0/1 flag
    column (map-only codegen; a ``foreign_key`` rides a stream-static
    LEFT OUTER join against its parent — Spark's supported shape — and
    flags null parents), then ONE global streaming aggregate sums the
    flags; complete-mode end-of-stream state equals the batch audit's
    integer counts row-for-row.

    ``unique`` is deliberately NOT accepted: exact uniqueness over an
    unbounded stream needs per-key state proportional to the key space
    — run it in the batch audit (or gate approximately with the Bloom/
    KMV sketches). Same params as the batch op otherwise.

    Returns a ONE-ROW aggregate frame: (_n, <name> per constraint).
    """
    from deeptime_spark.operators.profile import scalar_violation_flag

    if not constraints:
        raise ValueError("constraints must be non-empty")
    names_seen = [name for name, _, _ in constraints]
    if len(set(names_seen)) != len(names_seen):
        dups = sorted({n for n in names_seen if names_seen.count(n) > 1})
        raise ValueError(f"duplicate constraint names: {dups}")
    flags = []
    df = stream_df
    for name, kind, params in constraints:
        if kind in ("not_null", "range", "accepted_values"):
            flags.append(scalar_violation_flag(kind, params).alias(name))
        elif kind == "foreign_key":
            col, parent, parent_col = params
            marker = f"_p_{name}"
            p = parent.select(
                F.col(parent_col).alias(col), F.lit(1).alias(marker)
            ).distinct()
            df = df.join(p, col, "left")
            flags.append(
                F.when(
                    F.col(col).isNotNull() & F.col(marker).isNull(), 1
                )
                .otherwise(0)
                .alias(name)
            )
        elif kind == "unique":
            raise ValueError(
                "unique is not streamable with bounded state — run it in "
                "the batch constraint_audit"
            )
        else:
            raise ValueError(f"unknown constraint kind {kind!r}")
    names = [name for name, _, _ in constraints]
    flagged = df.select(*flags)
    return flagged.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(n).alias(n) for n in names],
    )


def streaming_scd2_merge(
    spark,
    stream_updates: DataFrame,
    key: str,
    tracked: list,
    dim_path: str,
    checkpoint: Optional[str] = None,
    retain_versions: Optional[int] = None,
):
    """Streaming face of operators/scd.py:scd2_merge — the historized
    dimension maintained from a CDC-style update stream: every
    micro-batch of dimension updates merges into the persisted snapshot
    inside ``foreachBatch`` (the streaming_probe_signature_index /
    streaming_constraint_totals pattern: the stateful artifact lives in
    storage, per-batch work is one bounded batch merge).

    Snapshot lifecycle is VERSIONED for replay idempotency: batch ``n``
    reads ``{dim_path}/v{n}`` and overwrites ``{dim_path}/v{n+1}``
    (Spark cannot safely overwrite the parquet it is lazily reading, and
    a failure-replayed batch must land the identical snapshot — rewriting
    v{n+1} from the untouched v{n} is deterministic, so replay is exact,
    not just idempotent-in-effect). The caller seeds ``{dim_path}/v0``
    with the initial open snapshot; after ``availableNow`` termination
    the latest ``v{N}`` is the merged dimension. ``effective_ts`` stamps
    as ``batch_id + 1`` — deterministic given the source's file order.

    Each micro-batch must carry at most one row per key (the batch
    guard raises otherwise — pre-aggregate CDC streams to last-write-
    per-key upstream). At scale the update batch is the broadcast side
    and the snapshot never shuffles: per-batch cost is one broadcast
    join + union over the snapshot, exactly the batch op's plan.

    RETENTION: by default every ``v{n}`` snapshot is kept — one full
    dimension copy per micro-batch, so a long-running CDC stream grows
    storage linearly with batch count and pruning old versions is the
    CALLER's job. Pass ``retain_versions=k`` (k >= 2) to have each
    successful batch delete snapshots older than ``v{batch_id + 1 - k}``
    (keeping at least the just-read previous version, which failure
    replay of the in-flight batch needs). Deletion goes through the
    Hadoop FileSystem API, so it works on local/HDFS/S3A paths alike.

    Returns the started StreamingQuery (``availableNow`` trigger).
    """
    if retain_versions is not None and int(retain_versions) < 2:
        raise ValueError(
            "retain_versions must be >= 2 (the previous snapshot is "
            "needed for exact failure replay)"
        )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        from deeptime_spark.operators.scd import scd2_merge

        cur = spark.read.parquet(f"{dim_path}/v{batch_id}")
        merged = scd2_merge(
            cur,
            batch_df,
            key=key,
            tracked=list(tracked),
            effective_ts=int(batch_id) + 1,
        )
        # size the snapshot's file count from the PREVIOUS snapshot's
        # actual bytes PLUS the incoming batch's estimated bytes
        # (~128 MB target files, guide §6): the merge otherwise inherits
        # the union's partitioning and writes a small dimension as 30+
        # near-empty files that every later batch re-lists and re-reads.
        # Sizing from the previous snapshot ALONE under-sizes the write
        # when a batch grows the dimension by orders of magnitude (a
        # large initial CDC load merged over a tiny seeded v0 would
        # coalesce the whole new snapshot to one task); the batch
        # estimate covers that regime. coalesce (no shuffle); the
        # file-count floor keeps parallelism at real dimension sizes.
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        prev = jvm.org.apache.hadoop.fs.Path(f"{dim_path}/v{batch_id}")
        prev_bytes = (
            prev.getFileSystem(hconf).getContentSummary(prev).getLength()
        )
        from deeptime_spark.operators.layout import estimated_size_bytes

        batch_bytes = estimated_size_bytes(batch_df) or 0
        n_files = max(
            1, min(int((prev_bytes + batch_bytes) // (128 << 20)) + 1, 4096)
        )
        merged.coalesce(n_files).write.mode("overwrite").parquet(
            f"{dim_path}/v{batch_id + 1}"
        )
        if retain_versions is not None:
            # prune AFTER the new snapshot landed; keep the previous
            # version (batch_id) so a replayed batch can still rebuild
            for m in range(max(0, batch_id + 2 - int(retain_versions))):
                p = jvm.org.apache.hadoop.fs.Path(f"{dim_path}/v{m}")
                fs = p.getFileSystem(hconf)
                if fs.exists(p):
                    fs.delete(p, True)

    return _start_foreach_batch(stream_updates, _process, checkpoint)


def streaming_record_linkage_probe(
    spark,
    stream_df: DataFrame,
    master_path: str,
    out_path: str,
    id_col: str,
    block_keys: list,
    string_fields: Optional[list] = None,
    exact_fields: Optional[list] = None,
    weights: Optional[dict] = None,
    threshold: float = 0.8,
    max_block: Optional[int] = 1000,
    checkpoint: Optional[str] = None,
):
    """Streaming face of the incremental entity linkage
    (operators/linkage.py:record_linkage_probe) — the daily-delta
    pipeline end-to-end: each micro-batch of NEW records probes the
    persisted master/golden dimension inside ``foreachBatch`` and the
    per-delta best matches append to ``out_path`` as parquet; the
    unmatched remainder of each batch is the insert set the SCD2 merge
    (:func:`streaming_scd2_merge`) consumes next.

    The streaming_probe_signature_index pattern: the master's capped
    block frames and compared-field payload are computed and
    materialized ONCE before the stream starts (localCheckpoint of a
    bounded dimension), so per-batch work is proportional to the BATCH
    — each micro-batch joins against the precomputed master sides
    instead of re-running the block-cap window per batch. Because the
    best-match election is per-delta-record independent (one window
    over that record's own bounded candidate set), the union of
    per-batch outputs equals the one-shot batch probe — the equivalence
    the harness query pins against the batch oracle.

    REPLAY / RETENTION: batch ``n`` overwrites its OWN partition
    ``{out_path}/batch={n}`` instead of appending to a flat directory,
    so a failure-replayed (or whole-stream-replayed) batch lands the
    identical files instead of double-appending — output storage is
    bounded by the number of DISTINCT batches, the same retention
    argument as :func:`streaming_scd2_merge`'s versioned snapshots.
    Reading ``out_path`` surfaces ``batch`` as a discovered partition
    column; downstream selects are unaffected.

    Returns the started StreamingQuery (``availableNow`` trigger)."""
    from deeptime_spark.operators.linkage import (
        master_probe_sides,
        record_linkage_probe,
    )

    master = spark.read.parquet(master_path)
    # Materialize the master-side probe relations ONCE, before the first
    # batch: the per-spec block-cap window is a full master scan +
    # shuffle, and running it inside ``_process`` repeats it (and its
    # planning) every micro-batch — per-batch work must be proportional
    # to the BATCH, not the master. localCheckpoint also truncates the
    # per-batch plan to a leaf scan (guide §2.4/§3.3). The master is a
    # bounded dimension; the checkpointed copy is its capped blocks +
    # compared fields only.
    fields = list(string_fields or []) + list(exact_fields or [])
    m_frames, jm = master_probe_sides(
        master, id_col, list(block_keys), fields, max_block
    )
    sides = (
        [m.localCheckpoint(eager=True) for m in m_frames],
        jm.localCheckpoint(eager=True),
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        record_linkage_probe(
            master,
            batch_df,
            id_col=id_col,
            block_keys=list(block_keys),
            string_fields=string_fields,
            exact_fields=exact_fields,
            weights=weights,
            threshold=threshold,
            max_block=max_block,
            master_sides=sides,
        ).write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")

    return _start_foreach_batch(stream_df, _process, checkpoint)
