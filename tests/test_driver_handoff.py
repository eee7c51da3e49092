"""The driver handoff: one bounded Arrow fetch into numpy, and driver results
back as JVM local relations, so a small estimator query runs few jobs and
none of them starts a Python worker for a literal frame."""

import uuid

import numpy as np
import pytest

import __spark_entry__ as entrymod
from deeptime_spark import dispatch
from deeptime_spark.local_relation import columns_df, local_df
from test_plans import SF, plan_of

# Spark jobs per call at sf0.001 (one job group per query, a noop sink).
# hmm_viterbi_events: the events schema read, the trajectory fetch (its
# window shuffle and the limit) — init counts, Baum-Welch and Viterbi all
# run from that one fetch. event_triangles: the canonical edge fetch fills
# its cache; no count() runs before it.
JOB_BUDGET = {
    "hmm_viterbi_events": 4,
    "event_triangles": 5,
    "msm_its_events": 5,
}


def _jobs(spark, name):
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        df = entrymod.queries()[name](spark, SF)
        df.write.format("noop").mode("overwrite").save()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.catalog.clearCache()


@pytest.mark.parametrize("name", sorted(JOB_BUDGET))
def test_query_stays_within_its_job_budget(spark, name):
    _jobs(spark, name)  # a warm call: the count must not rely on a cold cache
    n = _jobs(spark, name)
    assert 0 < n <= JOB_BUDGET[name], (name, n)


def _python_free(df) -> bool:
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    return "PythonRDD" not in lineage and "EvalPython" not in plan_of(df)


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_local_df_is_a_jvm_local_table_scan_whatever_the_arrow_conf(spark, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        rows = [(1, 2.5, "a", [1.0, 2.0], True), (np.int64(2), 3, None, [], False)]
        df = local_df(spark, rows, "n long, v double, s string, b array<double>, f boolean")
        consumed = df.where("n > 0").select("n", "v", "b")
        assert "LocalTableScan" in plan_of(consumed) and _python_free(consumed)
        assert [tuple(r) for r in df.collect()] == [
            (1, 2.5, "a", [1.0, 2.0], True),
            (2, 3.0, None, [], False),
        ]
        inferred = local_df(spark, [(1, 0.5, [1.0])], ["i", "x", "a"])
        assert inferred.dtypes == [("i", "bigint"), ("x", "double"), ("a", "array<double>")]
        empty = local_df(spark, [], "n long, v double")
        assert empty.collect() == [] and "LocalTableScan" in plan_of(empty)
        cols = columns_df(spark, {"k": np.arange(3), "w": np.ones(3)}, "k long, w double")
        assert [tuple(r) for r in cols.collect()] == [(0, 1.0), (1, 1.0), (2, 1.0)]
    finally:
        spark.conf.set(key, old)


def test_fetch_decides_from_the_fetched_rows(spark, monkeypatch):
    df = spark.range(10).selectExpr("id as a", "id * 2 as b")
    monkeypatch.setitem(dispatch.BOUNDS, "graph", (1, 10))
    a = dispatch.fetch("graph", df)
    assert sorted(a["a"].tolist()) == list(range(10))
    monkeypatch.setitem(dispatch.BOUNDS, "graph", (1, 9))
    assert dispatch.fetch("graph", df) is None
    # a bound in elements: 10 rows x width 2 = 20 elements
    monkeypatch.setitem(dispatch.BOUNDS, "graph", (1, 20))
    assert len(dispatch.fetch("graph", df, width=2)["b"]) == 10
    assert dispatch.fetch("graph", df, width=3) is None
    # below the lower bound (no rows) the decision is distributed
    assert dispatch.fetch("graph", df.limit(0)) is None
