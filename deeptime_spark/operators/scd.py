"""Slowly-changing-dimension maintenance (Kimball SCD Type 2).

The dimension-table counterpart of the fact-side incremental patterns in
operators/dedup.py (persisted signature index) and sketches.py (mergeable
rollups): a 100 TB warehouse keeps its dimensions HISTORIZED — every
attribute change closes the current version row (``valid_to`` stamped)
and opens a new one — so facts can join the version that was true at
event time. The merge must be deterministic and idempotent per batch:
re-running the same batch against the same snapshot reproduces the same
table bit-for-bit.

Spark shape: one equi-join of the open rows against the update batch
(the batch broadcast — the daily-delta norm), column
comparison as a codegen expression, and a union of four disjoint row
sets (untouched / still-current-unchanged / closed / opened). No window
functions, no per-row Python; change detection is null-safe equality
(``<=>``) per tracked column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: list[str],
    effective_ts,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    check_unique_keys: bool = True,
) -> DataFrame:
    """Apply one update batch to an SCD2 dimension snapshot.

    ``dim`` carries ``key``, attribute columns, ``valid_from`` and
    ``valid_to`` (NULL = open/current row). ``updates`` carries ``key``
    plus the same attribute columns — ONE row per key. With
    ``check_unique_keys`` (default) the precondition is ENFORCED by one
    cheap aggregate over the batch (count vs distinct-count on the
    key); duplicate keys raise instead of silently fanning open rows
    out and breaking the idempotency contract. ``effective_ts`` stamps
    both the close and the open.

    The update batch is plan-pinned as the broadcast side — correct for
    the daily-delta norm.

    Semantics (Kimball type 2):

    - key present in updates, open row exists, any ``tracked`` column
      differs (null-safe) -> the open row CLOSES (``valid_to`` =
      effective_ts) and a new open row with the update's attributes
      and ``valid_from`` = effective_ts is appended;
    - open row exists, no tracked difference -> unchanged (idempotent);
    - key absent from the dimension -> a brand-new open row;
    - historical (already-closed) rows pass through untouched.

    Returns the full merged dimension (same schema as ``dim``).
    """
    if not tracked:
        raise ValueError("tracked columns must be non-empty")
    attr_cols = [c for c in dim.columns if c not in (valid_from, valid_to)]
    for c in attr_cols:
        if c not in updates.columns:
            raise ValueError(f"updates missing dimension column {c!r}")
    if check_unique_keys:
        # count vs distinct-count in ONE aggregate job; a struct key so a
        # NULL key still participates (NULL dims are a data bug we want
        # loud, not dropped from the distinct)
        row = updates.agg(
            F.count(F.lit(1)).alias("_n"),
            F.count_distinct(F.struct(F.col(key))).alias("_d"),
        ).first()
        if int(row["_n"]) != int(row["_d"]):
            raise ValueError(
                f"scd2_merge: update batch has duplicate {key!r} keys "
                f"({int(row['_n'])} rows, {int(row['_d'])} distinct) — "
                "one row per key required; dedup upstream or pick the "
                "latest per key"
            )
    ts = F.lit(effective_ts)
    closed_hist = dim.where(F.col(valid_to).isNotNull())
    open_rows = dim.where(F.col(valid_to).isNull())
    u = F.broadcast(updates.select([F.col(c).alias(f"_u_{c}") for c in attr_cols]))
    j = open_rows.join(u, open_rows[key] == F.col(f"_u_{key}"), "left")
    diff = F.lit(False)
    for c in tracked:
        diff = diff | ~F.col(c).eqNullSafe(F.col(f"_u_{c}"))
    changed = F.col(f"_u_{key}").isNotNull() & diff
    # open rows that stay open: no update row, or update identical
    keep_open = j.where(~changed).select(*dim.columns)
    # open rows that close at effective_ts
    close = j.where(changed).select(
        *[F.col(c) for c in attr_cols],
        F.col(valid_from),
        ts.alias(valid_to),
    ).select(*dim.columns)
    # new versions for changed keys
    reopen = j.where(changed).select(
        *[F.col(f"_u_{c}").alias(c) for c in attr_cols],
        ts.alias(valid_from),
        F.lit(None).cast(dim.schema[valid_to].dataType).alias(valid_to),
    ).select(*dim.columns)
    # brand-new keys (no open row — anti-join on the key)
    new_keys = (
        updates.join(
            open_rows.select(F.col(key)).distinct(), key, "left_anti"
        )
        .select(
            *[F.col(c) for c in attr_cols],
            ts.alias(valid_from),
            F.lit(None).cast(dim.schema[valid_to].dataType).alias(valid_to),
        )
        .select(*dim.columns)
    )
    return closed_hist.unionByName(keep_open).unionByName(close).unionByName(
        reopen
    ).unionByName(new_keys)
