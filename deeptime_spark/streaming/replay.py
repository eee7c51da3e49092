"""One stream replay: a batch table played back as a file stream.

Every streaming query replays batch data through Structured Streaming
the same way, and this module is the one place that does it:

- ``Replay.source(frames)`` writes an ordered list of DataFrames into
  one managed source dir (the new files of frame ``i`` get mtime ``i``,
  so ``latestFirst=false`` hands them out in list order) and returns
  the file stream over it, one parquet file per micro-batch;
- ``Replay.stream(src, schema)`` is that reader alone, for a source dir
  the caller filled itself;
- ``Replay.to_memory(df, mode)`` runs a query into a memory sink until
  the ``availableNow`` trigger has drained the source and returns the
  sink as a table;
- ``Replay.wait(query)`` waits for a query the caller started (the
  ``foreachBatch`` sinks of ``streaming/accumulate.py``);
- ``Replay.dir(prefix)`` hands out a temp dir (checkpoints, side
  tables, sink output).

Leaving the ``with`` block, even by an exception, stops every stream the
replay waited on that is still active, drops its memory-sink views and
removes its dirs. Results read from a sink or an output dir must
therefore be collected inside the block.

Wait policy: ``wait`` gives a stream ``TIMEOUT_S`` seconds to finish. A
stream that has not finished by then is stopped and
:class:`StreamReplayTimeout` is raised, so a run never hangs and never
returns the result of only some of its micro-batches. A stream that
fails raises its own ``StreamingQueryException``.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame

TIMEOUT_S = 300


class StreamReplayTimeout(RuntimeError):
    """A stream did not finish within ``TIMEOUT_S`` seconds and was
    stopped; whatever it had written covers only part of its input."""


def wait(query):
    """Block until ``query`` terminates; stop it and raise
    :class:`StreamReplayTimeout` if that takes longer than ``TIMEOUT_S``."""
    if not query.awaitTermination(TIMEOUT_S):
        query.stop()
        raise StreamReplayTimeout(
            f"stream {query.name or query.id} did not finish in {TIMEOUT_S} s and was stopped"
        )
    return query


class Replay:
    """Context manager owning the dirs, streams and sink views of one
    replay (module docstring)."""

    def __init__(self, spark):
        self.spark = spark
        self._dirs: list[str] = []
        self._queries: list = []
        self._views: list[str] = []

    def __enter__(self) -> "Replay":
        return self

    def __exit__(self, *exc) -> None:
        for q in self._queries:
            if q.isActive:
                q.stop()
        for view in self._views:
            self.spark.catalog.dropTempView(view)
        for d in self._dirs:
            shutil.rmtree(d, ignore_errors=True)

    def dir(self, prefix: str) -> str:
        d = tempfile.mkdtemp(prefix=prefix)
        self._dirs.append(d)
        return d

    def stream(self, src: str, schema) -> DataFrame:
        return (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(src)
        )

    def source(self, frames: list[DataFrame]) -> DataFrame:
        src = self.dir("replay_src_")
        for i, df in enumerate(frames):
            before = set(os.listdir(src))
            df.write.mode("append").parquet(src)
            for f in set(os.listdir(src)) - before:
                os.utime(os.path.join(src, f), (i, i))
        return self.stream(src, frames[0].schema)

    def wait(self, query):
        self._queries.append(query)
        return wait(query)

    def to_memory(self, df: DataFrame, mode: str) -> DataFrame:
        sink = "replay_" + uuid.uuid4().hex[:8]
        self._views.append(sink)
        self.wait(
            df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", self.dir("replay_ckpt_"))
            .start()
        )
        return self.spark.table(sink)
