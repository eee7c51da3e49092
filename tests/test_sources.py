"""Sources/sinks + model persistence round-trips."""

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from deeptime_spark.data.schema import trajectory_from_arrays
from deeptime_spark.operators.moments import WIDTH_KEY
from deeptime_spark.sources import (
    load_model,
    read_trajectories_csv,
    read_trajectories_parquet,
    save_model,
    write_trajectories_parquet,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="dts-src-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_parquet_roundtrip(spark, rng, tmpdir):
    data = [rng.normal(size=(50, 3)) for _ in range(2)]
    df = trajectory_from_arrays(spark, data)
    write_trajectories_parquet(df, tmpdir + "/trajs")
    back = read_trajectories_parquet(spark, tmpdir + "/trajs")
    a = sorted((r["traj_id"], r["t"], tuple(r["x"])) for r in df.collect())
    b = sorted((r["traj_id"], r["t"], tuple(r["x"])) for r in back.collect())
    assert a == b


def test_csv_wide_format(spark, tmpdir):
    import pandas as pd

    pdf = pd.DataFrame(
        {"traj_id": [0, 0, 1], "t": [0, 1, 0], "f0": [1.0, 2.0, 3.0], "f1": [4.0, 5.0, 6.0]}
    )
    pdf.to_csv(tmpdir + "/t.csv", index=False)
    df = read_trajectories_csv(spark, tmpdir + "/t.csv")
    rows = sorted((r["traj_id"], r["t"], tuple(r["x"])) for r in df.collect())
    assert rows == [(0, 0, (1.0, 4.0)), (0, 1, (2.0, 5.0)), (1, 0, (3.0, 6.0))]
    assert df.schema["x"].metadata == {WIDTH_KEY: 2}  # feature_dim reads it without a job


def test_model_persistence_roundtrip(tmpdir, rng):
    from deeptime_spark.markov.msm import MarkovStateModel

    T = np.array([[0.9, 0.1], [0.2, 0.8]])
    model = MarkovStateModel(T, lagtime=3)
    save_model(model, tmpdir + "/msm.pkl")
    back = load_model(tmpdir + "/msm.pkl")
    np.testing.assert_allclose(back.transition_matrix, T)
    assert back.lagtime == 3
    np.testing.assert_allclose(back.stationary_distribution, model.stationary_distribution)
    with pytest.raises(ValueError, match="not a deeptime_spark model"):
        import pickle

        with open(tmpdir + "/bad.pkl", "wb") as fh:
            pickle.dump([1, 2, 3], fh)
        load_model(tmpdir + "/bad.pkl")


def test_bucketed_table_elides_exchanges(spark, tmp_path):
    """Bucketed write -> groupBy(traj_id) agg and self-join both plan with
    zero Exchange: the shuffle is paid at write time, not per query."""
    import contextlib
    import io

    from deeptime_spark.sources.readers import (
        read_trajectories_table,
        write_trajectories_bucketed,
    )

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    rows = [(i % 7, t, [float(i % 7 + t)]) for i in range(35) for t in range(20)]
    df = spark.createDataFrame(rows, "traj_id long, t long, x array<double>")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdb LOCATION '{tmp_path}/wh'")
    try:
        write_trajectories_bucketed(df, "bdb.traj_b", n_buckets=4)
        tb = read_trajectories_table(spark, "bdb.traj_b")

        agg = tb.groupBy("traj_id").agg(F.count("*").alias("n"))
        assert "Exchange" not in plan_of(agg), plan_of(agg)[:1500]
        assert agg.count() == 7

        # force the sort-merge path (a broadcast join would make bucketing
        # moot at this test size); bucketed scans must then join with no
        # shuffle Exchange on either side
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = tb.join(tb.select("traj_id", F.col("t").alias("t2")), "traj_id")
            p = plan_of(joined)
            assert "Exchange" not in p, p[:1500]
            assert "Bucketed: true" in p, p[:1500]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS bdb.traj_b")
        spark.sql("DROP DATABASE IF EXISTS bdb")


def test_training_shards_roundtrip(spark, tmp_path):
    """Write/read round trip of the training-shard sink: every doc lands
    exactly once, shard token mass is bounded by budget + one document,
    the manifest matches the data, and the assignment is deterministic
    under a hostile repartition."""
    from pyspark.sql import functions as F

    from deeptime_spark.sources.shards import (
        assign_training_shards,
        read_manifest,
        read_training_shards,
        write_training_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "shards")
    budget = 512
    manifest = write_training_shards(docs, path, budget=budget)
    m = manifest.collect()

    back = read_training_shards(spark, path)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()

    # token-mass bound: <= budget + (largest single doc in the shard)
    per_doc_max = {
        r["shard_key"]: r["mx"]
        for r in back.groupBy("shard_key").agg(F.max("n_tokens").alias("mx")).collect()
    }
    for r in m:
        assert r["shard_tokens"] <= budget + per_doc_max[r["shard_key"]]

    # manifest equals a recount of the written data
    recount = {
        (r["shard_key"], r["n_docs"], r["shard_tokens"])
        for r in back.groupBy("shard_key")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("shard_tokens"))
        .collect()
    }
    assert {(r["shard_key"], r["n_docs"], r["shard_tokens"]) for r in m} == recount

    # stored manifest round-trips; partition pruning by shard_key works
    stored = read_manifest(spark, path)
    assert stored.count() == len(m)
    one = m[0]["shard_key"]
    only = read_training_shards(spark, path, shards=[one])
    assert only.select("shard_key").distinct().collect()[0][0] == one

    # deterministic assignment: hostile repartition gives identical keys
    a1 = {
        (r["doc_id"], r["shard_key"])
        for r in assign_training_shards(docs, budget=budget).select("doc_id", "shard_key").collect()
    }
    a2 = {
        (r["doc_id"], r["shard_key"])
        for r in assign_training_shards(docs.repartition(7, "doc_id"), budget=budget)
        .select("doc_id", "shard_key")
        .collect()
    }
    assert a1 == a2


def test_jsonl_roundtrip_preserves_hostile_text(spark, tmp_path):
    """JSONL escaping must survive newlines, quotes, backslashes, tabs,
    and non-ASCII — byte fidelity through write_corpus_jsonl/read back."""
    from deeptime_spark.sources.readers import read_corpus_jsonl, write_corpus_jsonl

    rows = [
        (0, 'line one\nline two', 'en', 'a'),
        (1, 'quote " and backslash \\ and tab\t.', 'en', 'a'),
        (2, 'unicode: café 中文 \U0001f600', 'de', 'b'),
        (3, '{"json": "inside"}', 'fr', 'b'),
        (4, '', 'fr', 'b'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    p = str(tmp_path / "jl")
    write_corpus_jsonl(df, p, partition_col="source", compression="gzip")
    back = read_corpus_jsonl(spark, p, schema="doc_id long, text string, lang string")
    got = {r["doc_id"]: (r["text"], r["lang"], r["source"]) for r in back.collect()}
    assert got == {i: (t, l, s) for i, t, l, s in rows}


def test_jsonl_roundtrip_unpartitioned_uncompressed(spark, tmp_path):
    from deeptime_spark.sources.readers import read_corpus_jsonl, write_corpus_jsonl

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    p = str(tmp_path / "jl2")
    write_corpus_jsonl(df, p, partition_col=None, compression=None)
    back = read_corpus_jsonl(spark, p)
    assert back.count() == 1 and back.first()["text"] == "x"
