"""Trajectory sources/sinks over Spark's native readers.

The trajectory schema (traj_id, t, x: array<double>) is the engine's
fundamental abstraction (SURVEY.md §1.1); these helpers normalize the
common storage layouts into it:

- parquet with a ready array column (zero-copy pass-through),
- CSV/JSON with wide feature columns f0..fd (packed into the array with
  one select — Catalyst prunes unused columns at the scan).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deeptime_spark.operators.moments import features


def _pack(df: DataFrame, feature_cols: Sequence[str], traj_col: str, time_col: str) -> DataFrame:
    return df.select(
        F.col(traj_col).cast("long").alias("traj_id"),
        F.col(time_col).cast("long").alias("t"),
        features([F.col(c).cast("double") for c in feature_cols]),
    )


def read_trajectories_parquet(
    spark: SparkSession, path: str, x_col: str = "x",
    traj_col: str = "traj_id", time_col: str = "t",
) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select(
        F.col(traj_col).cast("long").alias("traj_id"),
        F.col(time_col).cast("long").alias("t"),
        F.col(x_col).cast("array<double>").alias("x"),
    )


def read_trajectories_csv(
    spark: SparkSession, path: str, feature_cols: Optional[Sequence[str]] = None,
    traj_col: str = "traj_id", time_col: str = "t", **options,
) -> DataFrame:
    df = spark.read.csv(path, header=True, inferSchema=True, **options)
    if feature_cols is None:
        feature_cols = [c for c in df.columns if c not in (traj_col, time_col)]
    return _pack(df, feature_cols, traj_col, time_col)


def read_trajectories_json(
    spark: SparkSession, path: str, feature_cols: Optional[Sequence[str]] = None,
    traj_col: str = "traj_id", time_col: str = "t", **options,
) -> DataFrame:
    df = spark.read.json(path, **options)
    if feature_cols is None:
        feature_cols = [c for c in df.columns if c not in (traj_col, time_col)]
    return _pack(df, feature_cols, traj_col, time_col)


def write_trajectories_parquet(df: DataFrame, path: str, partition_by_traj: bool = True) -> None:
    """Sink: partitioning by traj_id co-locates each trajectory so every
    downstream per-trajectory window runs shuffle-free after a bucketed
    read — the layout you want at 100 TB."""
    writer = df.write.mode("overwrite")
    if partition_by_traj:
        writer = writer.partitionBy("traj_id")
    writer.parquet(path)


def write_trajectories_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int = 64,
    traj_col: str = "traj_id",
    time_col: str = "t",
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink: ``bucketBy(traj_col)`` +
    ``sortBy(traj_col, time_col)``.

    This is the co-location layout for trajectory workloads at scale: a
    bucketed scan satisfies hash-partitioning on ``traj_col``, so
    per-trajectory aggregations, transition counting, and joins between
    two tables bucketed the same way run with ZERO Exchange — the shuffle
    is paid once at write time instead of once per query. (Directory
    ``partitionBy`` creates one directory per trajectory — millions of
    tiny files at real trajectory counts; bucketing hashes many
    trajectories into each of ``n_buckets`` files per write task, which is
    the file-count-safe version of the same idea.)
    """
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, traj_col)
        .sortBy(traj_col, time_col)
        .format("parquet")
        .saveAsTable(table)
    )


def read_trajectories_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed trajectory table written by
    ``write_trajectories_bucketed`` — the scan carries the bucket
    partitioning, letting Catalyst elide Exchanges on ``traj_id``."""
    return spark.table(table)


def write_corpus_jsonl(
    df: DataFrame,
    path: str,
    partition_col: str | None = "source",
    compression: str | None = "gzip",
) -> None:
    """Write a document corpus as (optionally gzipped) JSON-Lines — the
    de-facto interchange format for LLM training corpora (one JSON
    object per line; newlines inside ``text`` are JSON-escaped by the
    writer, so the line-delimited contract survives arbitrary content).
    ``partition_col`` buckets the output into one directory per value
    (the usual per-source/per-shard layout); readers prune on it."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    if partition_col:
        w = w.partitionBy(partition_col)
    w.json(path)


def read_corpus_jsonl(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """Read a JSONL corpus directory. Pass an explicit DDL ``schema``
    in production — schema inference costs a full extra pass over the
    data at corpus scale and can widen types on dirty input; partition
    columns come back from the directory layout."""
    r = spark.read
    if schema:
        r = r.schema(schema)
    return r.json(path)
