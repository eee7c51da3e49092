"""Structured Streaming surface: foreachBatch partial_fit parity,
watermarked windows, stateful transition counting."""

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from deeptime_spark.covariance import Covariance
from deeptime_spark.data.schema import trajectory_from_arrays
from deeptime_spark.streaming import (
    StreamingEstimator,
    streaming_transition_counts,
    windowed_event_counts,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="dts-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_chunks(df, path, n_chunks=3):
    # split a batch frame into parquet files that the file stream ingests
    # as separate micro-batch-able inputs
    df.withColumn("_part", F.pmod(F.col("t"), n_chunks)).write.partitionBy("_part").parquet(
        path + "/data"
    )


def test_streaming_covariance_matches_batch(spark, rng, tmpdir):
    data = [rng.normal(size=(600, 3)) for _ in range(2)]
    batch_df = trajectory_from_arrays(spark, data)
    batch_model = Covariance(lagtime=0).fit_fetch(batch_df)

    batch_df.write.parquet(tmpdir + "/data")
    stream = spark.readStream.schema(batch_df.schema).parquet(tmpdir + "/data")
    acc = StreamingEstimator(Covariance(lagtime=0))
    acc.start(stream, checkpoint=tmpdir + "/ckpt")
    model = acc.await_and_fetch()
    np.testing.assert_allclose(model.cov_00, batch_model.cov_00, rtol=1e-10)
    np.testing.assert_allclose(model.mean_0, batch_model.mean_0, rtol=1e-10)


def test_windowed_event_counts_logic(spark):
    # batch-mode check of the same plan (window+watermark compile in batch)
    rows = [
        (1, "2024-01-01 00:10:00", "a"),
        (2, "2024-01-01 00:20:00", "a"),
        (3, "2024-01-01 01:05:00", "b"),
    ]
    df = spark.createDataFrame(rows, ["id", "ts_str", "event_type"]).withColumn(
        "ts", F.to_timestamp("ts_str")
    )
    out = windowed_event_counts(df, "1 hour", watermark="1 hour")
    got = {(str(r["window_start"]), r["event_type"]): r["n"] for r in out.collect()}
    assert got[("2024-01-01 00:00:00", "a")] == 2
    assert got[("2024-01-01 01:00:00", "b")] == 1


def test_streaming_transition_counts(spark, rng, tmpdir):
    from deeptime_spark.data.schema import dtraj_from_arrays
    from deeptime_spark.markov.transition_counting import TransitionCountEstimator

    dtrajs = [rng.integers(0, 3, size=300) for _ in range(2)]
    batch_df = dtraj_from_arrays(spark, dtrajs)
    C_batch = TransitionCountEstimator(lagtime=1).fit(batch_df).fetch_model().count_matrix

    batch_df.coalesce(1).write.parquet(tmpdir + "/data")
    stream = spark.readStream.schema(batch_df.schema).parquet(tmpdir + "/data")
    out = streaming_transition_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("tc_stream")
        .outputMode("append")
        .option("checkpointLocation", tmpdir + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT s_from, s_to, sum(n) AS n FROM tc_stream GROUP BY 1, 2").collect()
    C_stream = np.zeros_like(C_batch)
    for r in rows:
        C_stream[r["s_from"], r["s_to"]] = r["n"]
    np.testing.assert_allclose(C_stream, C_batch, atol=1e-9)


def test_streaming_drop_exact_duplicates(spark, tmpdir):
    from deeptime_spark.streaming import streaming_drop_exact_duplicates

    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma"), (2, "alpha beta"), (3, "delta"), (4, "gamma")],
        ["doc_id", "text"],
    )
    docs.write.parquet(tmpdir + "/docs")
    stream = spark.readStream.schema("doc_id long, text string").parquet(tmpdir + "/docs")
    deduped = streaming_drop_exact_duplicates(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("SELECT text FROM dedup_out").collect()
    texts = sorted(r["text"] for r in out)
    assert texts == ["alpha beta", "delta", "gamma"]


def test_streaming_session_counts_cross_batch_merge(spark, tmp_path):
    """A user's session split across two micro-batch files must merge
    into ONE session (state merge across triggers)."""
    import pandas as pd

    from deeptime_spark.streaming.accumulate import streaming_session_counts

    # user 1: events at t0, t0+10min (same session, different files);
    # user 2: events 40min apart -> two sessions
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    f1 = pd.DataFrame(
        {"user_id": [1, 2], "ts": [t0, t0], "event_id": [1, 2]}
    )
    f2 = pd.DataFrame(
        {
            "user_id": [1, 2],
            "ts": [t0 + pd.Timedelta(minutes=10), t0 + pd.Timedelta(minutes=40)],
            "event_id": [3, 4],
        }
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(f1).coalesce(1).write.mode("overwrite").parquet(src + "/a")
    spark.createDataFrame(f2).coalesce(1).write.mode("append").parquet(src + "/a")
    schema = spark.read.parquet(src + "/a").schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src + "/a")
    )
    from pyspark.sql import functions as F

    q = (
        streaming_session_counts(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sessw_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {
        r["user_id"]: r["n"]
        for r in spark.table("sessw_test")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    spark.catalog.dropTempView("sessw_test")
    assert got == {1: 1, 2: 2}


def test_streaming_corpus_filter_matches_batch(spark, tmpdir):
    """The stateless corpus-prep stages (C4 line filter, PII scrub,
    deterministic sampling) are pure projections/predicates, so they run
    unchanged on a stream and must keep exactly the rows the batch path
    keeps — content-addressed sampling is what makes this hold across
    arbitrary micro-batch splits."""
    from pyspark.sql import functions as F

    from deeptime_spark.operators.mixing import deterministic_keep
    from deeptime_spark.operators.text import c4_line_filter, scrub_pii

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    docs.write.parquet(tmpdir + "/docs")

    def prep(df):
        filtered = c4_line_filter(
            df, min_words=20, require_terminal_punct=False, min_kept_lines=1
        ).where(F.col("passes_c4") == 1)
        return filtered.select(
            "doc_id", scrub_pii("clean_text").alias("clean_text")
        ).where(deterministic_keep(F.col("doc_id"), 600000))

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        tmpdir + "/docs"
    )
    q = (
        prep(stream)
        .writeStream.format("memory")
        .queryName("corpus_prep_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = sorted(
        (r["doc_id"], r["clean_text"])
        for r in spark.sql("SELECT * FROM corpus_prep_out").collect()
    )
    want = sorted((r["doc_id"], r["clean_text"]) for r in prep(docs).collect())
    assert got == want and len(want) > 0


def test_windowed_counts_append_drops_late_rows(spark, tmp_path):
    # the documented watermark policy, exercised on a REAL stream: a row
    # arriving a batch later, older than (max event time - watermark), is
    # dropped; its already-finalized window emits without it
    import os
    import time
    import uuid

    import pandas as pd

    from deeptime_spark.streaming.accumulate import windowed_event_counts

    src = tmp_path / "src"
    src.mkdir()
    base = pd.Timestamp("2024-06-01 10:00:00")

    def write_file(name, ts_list):
        pdf = pd.DataFrame(
            {"event_type": ["click"] * len(ts_list), "ts": ts_list}
        )
        sdf = spark.createDataFrame(pdf)
        sdf.coalesce(1).write.mode("overwrite").parquet(str(src / name))

    # batch 0: two rows in the 10:00 window + one at 14:00 that advances
    # the watermark to 13:00
    write_file("f1", [base, base + pd.Timedelta("30min"), base + pd.Timedelta("4h")])
    time.sleep(1.1)  # file-source processes in mtime order
    # batch 1: watermark 13:00 now in force — closes and emits the 10:00
    # window (the input filter uses the watermark with a one-batch lag,
    # so the late arrival goes in a THIRD batch)
    write_file("f2", [base + pd.Timedelta("4h30min")])
    time.sleep(1.1)
    # batch 2: a LATE row for the long-evicted 10:00 window + 15:00
    write_file("f3", [base + pd.Timedelta("45min"), base + pd.Timedelta("5h")])

    schema = spark.read.parquet(str(src / "f1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    counts = windowed_event_counts(stream, "1 hour", watermark="1 hour")
    sink = "late_" + uuid.uuid4().hex[:8]
    q = (
        counts.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    rows = {
        (r["window_start"].hour, int(r["n"])) for r in spark.table(sink).collect()
    }
    spark.catalog.dropTempView(sink)
    # the 10:00 window finalized with 2 rows; the late 10:45 arrival was
    # dropped — had it been aggregated it would re-open the evicted window
    # and append a spurious (10, 1) row — and the still-open 14:00/15:00
    # windows never emitted
    assert rows == {(10, 2)}, rows


def test_streaming_cusum_cross_batch_state(spark, tmp_path):
    """Per-key CUSUM state must carry across micro-batches: two
    time-ordered file chunks, final state equals the single-pass
    recursion with the same fixed center."""
    import os

    from deeptime_spark.streaming.accumulate import streaming_cusum

    vals = [0, 0, 10, 10, 10, 50, 0, 0, 60, 60]
    rows = [("a", i, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_type string, ts long, event_id long, cents long")
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for chunk, lo, hi in ((0, 0, 5), (1, 5, 10)):
        before = set(os.listdir(src))
        df.where((F.col("ts") >= lo) & (F.col("ts") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        for f in set(os.listdir(src)) - before:
            if f.endswith(".parquet"):
                os.utime(os.path.join(src, f), (chunk * 1000, chunk * 1000))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    out = streaming_cusum(stream, {"a": 20}, drift=2, threshold=25)
    q = (
        out.writeStream.format("memory")
        .queryName("cusum_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    final = (
        spark.table("cusum_test")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("max_cusum_pos").alias("sp"),
            F.max("max_cusum_neg").alias("sn"),
            F.max("n_alarms").alias("al"),
        )
        .collect()[0]
    )
    spark.catalog.dropTempView("cusum_test")
    # single-pass replica, fixed center 20, drift 2
    sp = sn = msp = msn = al = 0
    for v in vals:
        d = v - 20
        sp = max(0, sp + d - 2)
        sn = max(0, sn - d - 2)
        msp, msn = max(msp, sp), max(msn, sn)
        if sp > 25 or sn > 25:
            al += 1
    assert (final["n"], final["sp"], final["sn"], final["al"]) == (len(vals), msp, msn, al)


def test_streaming_heavy_hitters_matches_sequential_mg(spark, tmp_path):
    """Cross-batch Misra-Gries: two time-ordered chunks must end in the
    same summary as the one-pass sequential loop, and the MG guarantee
    (any item with f > n/(k+1) survives with count >= f - n/(k+1))
    must hold."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from deeptime_spark.streaming.accumulate import streaming_heavy_hitters

    seq = (["hot"] * 30 + ["warm"] * 12 + [f"cold{i}" for i in range(40)]) * 2
    rows = [("x", i, 0, t) for i, t in enumerate(seq)]
    k = 4

    def brute_mg(items):
        ctr = {}
        for x in items:
            if x in ctr:
                ctr[x] += 1
            elif len(ctr) < k:
                ctr[x] = 1
            else:
                for y in list(ctr):
                    ctr[y] -= 1
                    if ctr[y] == 0:
                        del ctr[y]
        return ctr

    expected = brute_mg(seq)
    df = spark.createDataFrame(rows, "lang string, doc_id long, pos long, term string")
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    half = len(rows) // 2
    for i, part in enumerate([rows[:half], rows[half:]]):
        before = set(os.listdir(src))
        spark.createDataFrame(part, df.schema).coalesce(1).write.mode("append").parquet(src)
        for f in set(os.listdir(src)) - before:
            if f.endswith(".parquet"):
                os.utime(os.path.join(src, f), (i * 1000, i * 1000))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    out = streaming_heavy_hitters(stream, k=k)
    sink = "hh_test_" + uuid.uuid4().hex[:8]
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    last = (
        spark.table(sink)
        .groupBy("lang")
        .agg(F.max_by(F.struct("items", "counts"), "n").alias("s"), F.max("n").alias("n"))
        .collect()[0]
    )
    got = dict(zip(last["s"]["items"], last["s"]["counts"]))
    assert got == expected
    n = last["n"]
    assert n == len(seq)
    # guarantee: hot (f=60) > n/(k+1) -> present with count >= f - n/(k+1)
    from collections import Counter

    f = Counter(seq)
    for item, freq in f.items():
        if freq > n / (k + 1):
            assert item in got and got[item] >= freq - n / (k + 1)


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join with a generous watermark must equal
    the batch range join on full replay."""
    import uuid

    from pyspark.sql import functions as F

    from deeptime_spark.streaming.accumulate import streaming_interval_join

    rows = []
    for u in range(5):
        for i in range(6):
            t = 1_700_000_000_000_000 + u * 10_000_000 + i * 600_000_000
            rows.append((u, t, u * 100 + i, "signup" if i % 2 == 0 else "purchase"))
    df = spark.createDataFrame(rows, "user_id long, us long, event_id long, event_type string")
    df = df.select("user_id", F.timestamp_micros(F.col("us")).alias("ts"), "event_id", "event_type")
    src = str(tmp_path / "src")
    df.repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def rd():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    joined = streaming_interval_join(
        rd().where("event_type = 'signup'"),
        rd().where("event_type = 'purchase'"),
        within="1 hour",
        watermark="3650 days",
    )
    sink = "ij_test_" + uuid.uuid4().hex[:8]
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in spark.table(sink).collect()
    }
    b = spark.read.parquet(src)
    s = b.where("event_type = 'signup'").select("user_id", F.col("ts").alias("lt"), F.col("event_id").alias("le"))
    p = b.where("event_type = 'purchase'").select(F.col("user_id").alias("pu"), F.col("ts").alias("rt"), F.col("event_id").alias("re"))
    batch = {
        (r["user_id"], r["le"], r["re"])
        for r in s.join(
            p,
            (F.col("user_id") == F.col("pu"))
            & (F.col("rt") >= F.col("lt"))
            & (F.col("rt") <= F.col("lt") + F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got == batch and got


def test_streaming_constraint_totals_equals_batch(spark, tmp_path):
    import uuid

    from deeptime_spark.operators.profile import constraint_audit
    from deeptime_spark.streaming.accumulate import streaming_constraint_totals

    df = spark.createDataFrame(
        [(1, 10, 5.0), (2, None, -3.0), (3, 99, 2.0), (4, 20, 1.0)],
        "id long, fk long, price double",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pid long")
    cons = [
        ("fk_nn", "not_null", "fk"),
        ("fk_parent", "foreign_key", ("fk", parent, "pid")),
        ("price_rng", "range", ("price", 0.0, 100.0)),
    ]
    batch = {
        r["constraint"]: r["n_violations"]
        for r in constraint_audit(df, cons).collect()
    }
    src = str(tmp_path / "src")
    df.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = "sct_" + uuid.uuid4().hex[:8]
    q = (
        streaming_constraint_totals(stream, cons)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish"
    row = spark.table(name).first()
    assert int(row["_n"]) == 4
    for n, _, _ in cons:
        assert int(row[n] or 0) == batch[n], n
    import pytest as _pt

    with _pt.raises(ValueError):
        streaming_constraint_totals(stream, [("u", "unique", "id")])
