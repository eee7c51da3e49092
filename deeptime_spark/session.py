"""SparkSession factory and harness-table reader.

``get_spark`` is the only place in the repo that builds a SparkSession:
pytest, the benchmark, ``bench.py`` and every ``tools/`` script go through
it, so a plan pinned under the test conf is the plan that gets timed.
Local testing runs ``local[N]``; the same configuration keys are the ones
that matter on a 1000-executor cluster (AQE, adaptive skew-join handling,
Arrow for pandas UDF exchange, sane shuffle partitioning).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the harness tables (TESTDATA.md)
TABLES = tuple(
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)

# A 137-query x 3-pass session compiles ~1500 whole-stage-codegen units;
# the JVM's default 240MB reserved code cache fills, the JIT stops
# compiling and DEOPTIMIZES hot methods, and the widest codegen plans (the
# dedup family's 32/64-column hash aggregates) crawl at 3-5x on late
# passes — measured as corpus_tuned_dedup's warm trials landing at 38s vs
# its 8s idle-session profile. 512m stopped the r10 code-cache exhaustion
# at 138 queries; the r11 additions (147 wide-codegen plans x 3 passes)
# overflowed it again — corpus_tuned_dedup read 26 s warm in the session
# while timing 6.4 s in isolation. 1g holds the whole compiled-plan
# working set. Any long-lived production driver sets this.
CODE_CACHE_OPTS = "-XX:ReservedCodeCacheSize=1g"

# Per-caller differences from the base conf. Nothing else may differ
# between profiles (tests/test_session.py checks this table against the
# resolved confs). SPARK_DRIVER_MEMORY overrides every profile's memory.
PROFILES: dict[str, dict[str, str]] = {
    # pytest, perfbench, tools/dump_plans.py
    "default": {},
    # bench.py, tools/anchor_bench.py: a 152-query x 3-pass session
    "bench": {"spark.driver.memory": "16g"},
    # tools/profile_query.py scrapes the UI REST API for per-job times
    "profile": {
        "spark.driver.memory": "16g",
        "spark.ui.enabled": "true",
        "spark.ui.port": "4049",
    },
    # tools/scale_bench.py, skew_bench.py, forced_distributed_bench.py:
    # x8 replicas of sf0.1
    "scale": {"spark.driver.memory": "24g"},
}

# tools/verify_local.py stands in for the external driver's session, which
# this repo does not configure: fixed width, no tuning at all. read_table's
# runtime conf.set calls are what make the harness tables readable there.
BARE: dict[str, str] = {
    "spark.master": "local[8]",
    "spark.sql.shuffle.partitions": "8",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "6g",
}


def resolve_conf(profile: str, cpus: int, driver_memory: str | None = None) -> dict[str, str]:
    """The full builder conf of ``profile`` on ``cpus`` local cores.

    Pure: ``get_spark`` passes in what it reads from the environment.
    ``driver_memory`` (``SPARK_DRIVER_MEMORY``) overrides the profile's
    memory; the ``bare`` profile ignores it, as the session it reproduces
    did.

    The base conf, shared by every profile but ``bare``:

    - AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
    - Arrow on: pandas UDFs exchange columnar batches, not pickled rows.
    - UTC session timezone: deterministic timestamp semantics vs the oracle.
    - shuffle partitions = local core count; on a real cluster this is
      overridden to ~2-3x total cores (or left to AQE coalescing from a
      high initial value).
    - 64 MB broadcast threshold: the dimension sides of the star joins
      broadcast (pinned by tests/test_plans.py and PLANS.md).
    - nanosAsLong: a TIMESTAMP(NANOS) parquet column reads as long nanos
      instead of failing (read_table restores the timestamp).
    """
    if profile == "bare":
        return dict(BARE)
    conf = {
        "spark.master": f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.driver.memory": "8g",
        "spark.driver.extraJavaOptions": CODE_CACHE_OPTS,
        "spark.ui.enabled": "false",
    }
    conf.update(PROFILES[profile])
    if driver_memory:
        conf["spark.driver.memory"] = driver_memory
    return conf


def get_spark(app_name: str = "deeptime-spark", profile: str = "default") -> SparkSession:
    """Build (or reuse) a SparkSession with the conf of ``profile``
    (``PROFILES`` or ``"bare"``) on ``local[$SPARK_GRAFT_CPUS]``."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    conf = resolve_conf(profile, cpus, os.environ.get("SPARK_DRIVER_MEMORY"))
    builder = SparkSession.builder.appName(app_name)
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one harness parquet table; ``events.ts`` comes back as TIMESTAMP.

    The runtime ``conf.set`` calls make this work on sessions this module
    did not build (the external driver's): an ``events`` table stored as
    TIMESTAMP(NANOS) is rejected by Spark's reader unless nanos surface as
    long, and a TIMESTAMP(MICROS) column without tz metadata (the test
    tables) reads as TIMESTAMP_NTZ.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # nanosAsLong read: restore a usable timestamp. Integer DIV,
            # not fp division — ns epoch values (~1.7e18) exceed 2^53, so
            # a double round-trip would be off by up to ~1 microsecond vs
            # the oracle's exact ns->us truncation.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # pin the session to UTC so the cast is a pure type change
            # (same micros), restoring unix_micros()/window() compatibility
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Register the harness parquet tables (default: all of ``TABLES``)
    as temp views through ``read_table``; return dict of DataFrames."""
    out = {}
    for name in names or TABLES:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
