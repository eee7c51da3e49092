"""Tests of the event-log parser, the interval arithmetic and the span tracer."""

import os
import sys
import textwrap

import pytest

import trace_layers as tl

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")
# the log records one event_moments and one kmeans_embeddings query on
# local[4], jobs 0..6; jobs 1, 2 and 3 fall inside this window. The last
# task failed: its Python worker could not import the package.
T0, T1 = 1792195944.5, 1792195946.7


@pytest.fixture(scope="module")
def log():
    return tl.read_event_log(LOG)


def test_reads_every_kind(log):
    assert len(log["jobs"]) == 7
    assert len(log["stages"]) == 7
    assert len(log["tasks"]) == 10
    assert len(log["sqls"]) == 3
    assert log["jobs"][0] == (1792195939.577, 1792195940.306)
    assert [t["failed"] for t in log["tasks"]] == [False] * 9 + [True]


def test_pass_metrics_on_window(log):
    rec = {"query": "q", "t0": T0, "t1": T1}
    m = tl.pass_metrics([rec], log, cores=4)
    assert m["spark.jobs"] == 3
    assert m["spark.stages"] == 3
    assert m["spark.tasks"] == 6
    assert m["spark.actions"] == 0
    assert m["q.jobs"] == 3
    busy = (945.351 - 944.578) + (946.460 - 945.647) + (946.660 - 946.563)
    assert m["spark.job_busy_s"] == pytest.approx(busy, abs=1e-6)
    assert m["spark.driver_gap_s"] == pytest.approx((T1 - T0) - busy, abs=1e-6)
    assert m["q.driver_gap_s"] == pytest.approx(m["spark.driver_gap_s"])
    assert m["spark.executor_run_s"] == pytest.approx(3.622)
    assert m["spark.gc_s"] == pytest.approx(0.020 + 4 * 0.037)
    assert m["spark.input_bytes"] == 5441
    assert m["spark.shuffle_write_bytes"] == 213906 + 93 + 3 * 92
    assert m["spark.shuffle_read_bytes"] == 54220 + 42530 + 52703 + 64453 + 369
    assert m["spark.slot_util"] == pytest.approx(3.622 / (busy * 4))


def test_queries_split_jobs_by_window(log):
    recs = [
        {"query": "a", "t0": 1792195939.0, "t1": 1792195941.0},
        {"query": "b", "t0": 1792195947.0, "t1": 1792195950.0},
    ]
    m = tl.pass_metrics(recs, log, cores=4)
    assert (m["a.jobs"], m["b.jobs"]) == (1, 2)
    assert m["spark.failed_tasks"] == 1
    assert m["spark.actions"] == 2  # SQL executions 1 and 2 start in b


def test_interval_helpers():
    u = tl._union([(3, 4), (0, 1), (0.5, 2)])
    assert u == [(0, 2), (3, 4)]
    assert tl._length(u) == 3
    assert tl._clip(u, 1, 3.5) == [(1, 2), (3, 3.5)]
    assert tl._minus(0, 10, [(1, 2), (5, 12)]) == [(0, 1), (2, 5)]
    assert tl._overlap([(0, 3.5)], u) == 2.5


def test_module_metrics_self_and_job_time():
    # outer span 0..10 in layer a, child 2..4 in layer b; one job 3..6
    spans = [(2, 1, "b", 2.0, 4.0), (1, 0, "a", 0.0, 10.0)]
    log = {"jobs": [(3.0, 6.0)]}
    layers = {"a": "x", "b": "y"}
    m = tl.module_metrics(spans, [(0.0, 10.0)], log, layers)
    assert m["a.calls"] == 1 and m["b.calls"] == 1
    assert m["a.job_s"] == pytest.approx(2.0)  # 4..6
    assert m["a.self_s"] == pytest.approx(6.0)  # 8 s own time minus 2 s of jobs
    assert m["b.job_s"] == pytest.approx(1.0)  # 3..4
    assert m["b.self_s"] == pytest.approx(1.0)


@pytest.fixture
def fake_pkg(tmp_path, monkeypatch):
    pkg = tmp_path / "fakepkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("from fakepkg.core import outer\n")
    (pkg / "core.py").write_text(
        textwrap.dedent(
            """
            def inner(x):
                return x + 1

            def outer(x):
                return inner(x) * 2

            class Model:
                def fit(self, x):
                    self.v = outer(x)
                    return self
            """
        )
    )
    monkeypatch.syspath_prepend(str(tmp_path))
    yield "fakepkg"
    for name in [m for m in sys.modules if m == "fakepkg" or m.startswith("fakepkg.")]:
        del sys.modules[name]


def test_span_tracer_wraps_and_restores(fake_pkg):
    import fakepkg
    import fakepkg.core as core

    original = core.outer
    tracer = tl.SpanTracer()
    tracer.install({"fake": "fakepkg"}, namespaces=("fakepkg",))
    try:
        assert fakepkg.outer is core.outer is not original
        assert core.Model().fit(1).v == 4
        from fakepkg.core import inner  # a call-time import sees the wrapper

        assert inner(1) == 2
    finally:
        tracer.uninstall()
    assert core.outer is original and fakepkg.outer is original
    layers = [s[2] for s in tracer.spans]
    assert layers == ["fake"] * 4
    by_id = {s[0]: s for s in tracer.spans}
    fit = [s for s in tracer.spans if s[1] == 0][0]
    nested = [s for s in tracer.spans if s[1] != 0]
    assert len(nested) == 2 and all(by_id[s[1]][2] == "fake" for s in nested)
    m = tl.module_metrics(tracer.spans, [(fit[3] - 1, fit[4] + 1)], {"jobs": []}, {"fake": ""})
    assert m["fake.calls"] == 2  # fit(), then inner(); the nested calls stay inside


def test_span_tracer_reinstalls_and_unbinds_late_imports(fake_pkg):
    import types

    import fakepkg.core as core

    original = core.outer
    tracer = tl.SpanTracer()
    for _ in range(2):
        tracer.install({"fake": "fakepkg"}, namespaces=("fakepkg",))
        # a module first imported while installed binds the wrapper
        late = types.ModuleType("fakepkg.late")
        late.outer = core.outer
        sys.modules["fakepkg.late"] = late
        assert late.outer(1) == 4
        tracer.uninstall()
        assert core.outer is original and late.outer is original
    assert len(tracer.spans) == 4  # outer and inner, once per install
