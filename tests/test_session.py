"""The session factory and the table reader.

Every caller in the repo builds its session through ``get_spark``, so the
conf a plan is pinned under (tests/test_plans.py, PLANS.md) is the conf
bench.py times. ``resolve_conf`` is pure: only the read_table check
starts a JVM.
"""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import python_sources
from deeptime_spark.session import BARE, PROFILES, read_table, resolve_conf


def test_only_session_module_builds_a_session():
    needle = "SparkSession" + ".builder"
    sources = python_sources()
    assert sources
    offenders = [
        path
        for path, text in sources.items()
        if path != "deeptime_spark/session.py" and needle in text
    ]
    assert offenders == []


@pytest.mark.parametrize("profile", sorted(PROFILES))
def test_profiles_differ_only_where_declared(profile):
    base = resolve_conf("default", 4)
    conf = resolve_conf(profile, 4)
    sql = {k for k in base.keys() | conf.keys() if k.startswith("spark.sql.")}
    assert {k: conf.get(k) for k in sql} == {k: base.get(k) for k in sql}
    differ = {k for k in base.keys() | conf.keys() if base.get(k) != conf.get(k)}
    assert differ == set(PROFILES[profile])


def test_shared_conf():
    conf = resolve_conf("bench", 12)
    assert conf["spark.master"] == "local[12]"
    assert conf["spark.sql.shuffle.partitions"] == "12"
    assert conf["spark.sql.autoBroadcastJoinThreshold"] == str(64 * 1024 * 1024)
    assert conf["spark.sql.legacy.parquet.nanosAsLong"] == "true"
    assert conf["spark.driver.extraJavaOptions"] == "-XX:ReservedCodeCacheSize=1g"
    assert conf["spark.driver.memory"] == "16g"
    assert resolve_conf("bench", 12, "3g")["spark.driver.memory"] == "3g"


def test_bare_profile_is_untuned_fixed_width():
    conf = resolve_conf("bare", 32, "3g")
    assert conf == BARE == {
        "spark.master": "local[8]",
        "spark.sql.shuffle.partitions": "8",
        "spark.ui.enabled": "false",
        "spark.driver.memory": "6g",
    }


def test_read_table_nanos_keeps_exact_micros(spark, tmp_path):
    # ns epoch values exceed 2^53: a float division would lose microseconds
    ns = 1_700_000_000_123_456_789
    table = pa.table({"event_id": [1], "ts": pa.array([ns], pa.timestamp("ns"))})
    pq.write_table(table, tmp_path / "events.parquet")
    ev = read_table(spark, str(tmp_path), "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = ev.selectExpr("unix_micros(ts) AS us").first()["us"]
    assert got == ns // 1000
