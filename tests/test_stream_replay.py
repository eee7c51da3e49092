"""The stream-replay harness (deeptime_spark/streaming/replay.py).

Every ``streaming_*`` query replays its source through one ``Replay``.
After it returns, nothing may be left behind: no temp dir, no memory-sink
view, no active stream. And each query keeps the micro-batch contract
its docstring states: one source parquet file per micro-batch, every
source row read once per scan of its micro-batch.
"""

import inspect
import os
import tempfile
from urllib.parse import urlparse

import pytest

import __spark_entry__ as entrymod
from deeptime_spark.covariance import Covariance
from deeptime_spark.data.schema import trajectory_from_arrays
from deeptime_spark.streaming import replay
from deeptime_spark.streaming.accumulate import StreamingEstimator
from conftest import python_sources
from test_partition_invariance import SF

STREAMING = sorted(n for n in entrymod.queries() if n.startswith("streaming_"))
# Spark counts a micro-batch's input rows once per scan of the batch.
# These replays scan each batch more than once: the interval join has
# the one source on both sides of the join, and the foreachBatch bodies
# of the linkage probe and the SCD2 merge re-read the uncached batch.
SCANS_PER_BATCH = {
    "streaming_interval_join": 2,
    "streaming_linkage_probe": 2,
    "streaming_scd2_merge": 3,
}


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _source_path(description):
    # FileStreamSource[file:/.../replay_src_xxxx]
    return urlparse(description[description.index("[") + 1 : -1]).path


@pytest.mark.parametrize("name", STREAMING)
def test_streaming_query_cleans_up_and_reads_one_file_per_batch(
    spark, monkeypatch, tmp_path, name
):
    real = replay.wait
    seen = []

    def spy(query):
        real(query)
        progress = query.recentProgress
        (source,) = progress[0].sources
        src = _source_path(source.description)
        seen.append(
            dict(
                batches=sum(1 for p in progress if p.numInputRows > 0),
                files=sum(1 for f in os.listdir(src) if f.endswith(".parquet")),
                rows_read=sum(p.numInputRows for p in progress),
                rows=spark.read.parquet(src).count(),
            )
        )
        return query

    monkeypatch.setattr(replay, "wait", spy)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    views = _temp_views(spark)
    entrymod.queries()[name](spark, SF).toPandas()

    # nothing left behind
    assert os.listdir(tmp_path) == []
    assert _temp_views(spark) - views == set()
    assert spark.streams.active == []

    # one micro-batch per source file, every source row read
    assert len(seen) == 1
    (s,) = seen
    assert s["files"] == (1 if name == "streaming_dedup_replay" else 4)
    assert s["batches"] == s["files"]
    assert s["rows_read"] == SCANS_PER_BATCH.get(name, 1) * s["rows"]


def test_estimator_timeout_stops_the_stream_and_raises(spark, rng, monkeypatch, tmp_path):
    batch_df = trajectory_from_arrays(spark, [rng.normal(size=(600, 3)) for _ in range(2)])
    batch_df.repartition(4).write.parquet(str(tmp_path / "data"))
    monkeypatch.setattr(replay, "TIMEOUT_S", 0.001)
    with replay.Replay(spark) as r:
        acc = StreamingEstimator(Covariance(lagtime=0))
        acc.start(r.stream(str(tmp_path / "data"), batch_df.schema), checkpoint=r.dir("ckpt_"))
        with pytest.raises(replay.StreamReplayTimeout):
            acc.await_and_fetch()
        assert not acc.query.isActive
    assert spark.streams.active == []


def test_only_replay_module_reads_or_awaits_streams():
    sources = python_sources()
    assert sources
    offenders = [
        path
        for path, text in sources.items()
        if path != "deeptime_spark/streaming/replay.py"
        and not path.startswith("tests/")
        and any(needle in text for needle in ("readStream", "awaitTermination"))
    ]
    assert offenders == []


def test_no_streaming_query_builds_its_own_replay():
    needles = ("readStream", "writeStream", "awaitTermination", "mkdtemp", "finally:")
    offenders = {
        name: [n for n in needles if n in inspect.getsource(fn)]
        for name, fn in entrymod.queries().items()
        if name.startswith("streaming_")
    }
    assert {k: v for k, v in offenders.items() if v} == {}
