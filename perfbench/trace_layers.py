"""Per-layer tracing for the benchmark's traced session.

Two sources feed the per-layer metrics:

* ``SpanTracer`` wraps the public functions and the public methods of the
  public classes of each module layer (``LAYERS``) and records one span per
  call: layer, start, end, and the enclosing span on the same thread. The
  wrappers are installed into every loaded ``deeptime_spark`` module and
  ``__spark_entry__``; query bodies import their functions when called, so
  they pick the wrappers up. Spans stay in memory until the session ends.
* The Spark event log of the traced session (uncompressed, not rolled),
  read by ``read_event_log``. Jobs and tasks are attributed to a query by
  the query's time window, which also catches jobs submitted from the
  program's own thread pools.

``pass_metrics`` and ``module_metrics`` join them with the session's
per-query records (``run.layer_report`` averages them over warm passes).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import sys
import threading
import time

# layer name -> module or package (every submodule of a package belongs to it)
LAYERS = {
    "operators.lag": "deeptime_spark.operators.lag",
    "operators.graph": "deeptime_spark.operators.graph",
    "operators.dedup": "deeptime_spark.operators.dedup",
    "operators.linkage": "deeptime_spark.operators.linkage",
    "operators.retrieval": "deeptime_spark.operators.retrieval",
    "covariance": "deeptime_spark.covariance",
    "decomposition": "deeptime_spark.decomposition",
    "markov": "deeptime_spark.markov",
    "validation": "deeptime_spark.validation",
    "hmm": "deeptime_spark.hmm",
    "clustering": "deeptime_spark.clustering",
    "numeric": "deeptime_spark.numeric",
    "streaming": "deeptime_spark.streaming",
    "sources": "deeptime_spark.sources",
}


def _layer_modules(target: str) -> list:
    mod = importlib.import_module(target)
    mods = [mod]
    if hasattr(mod, "__path__"):
        for info in pkgutil.walk_packages(mod.__path__, target + "."):
            mods.append(importlib.import_module(info.name))
    return mods


class SpanTracer:
    """Records a span around every call into a traced layer."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, parent_id, layer, start, end)
        self._local = threading.local()
        self._ids = iter(range(1, 1 << 62))
        self._undo: list[tuple] = []
        self._orig: dict[int, tuple] = {}  # id(wrapper) -> (wrapper, original)

    def _wrap(self, fn, layer: str):
        spans, local, ids = self.spans, self._local, self._ids

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = getattr(local, "stack", None)
            if stack is None:
                stack = local.stack = []
            span_id = next(ids)
            parent = stack[-1] if stack else 0
            stack.append(span_id)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                spans.append((span_id, parent, layer, t0, time.time()))

        self._orig[id(traced)] = (traced, fn)
        return traced

    def _set(self, owner, name: str, value) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def install(
        self,
        layers: dict[str, str] = LAYERS,
        namespaces: tuple[str, ...] = ("deeptime_spark", "__spark_entry__"),
    ) -> None:
        """Wrap every layer's public callables and rebind each wrapped
        function wherever a loaded module of ``namespaces`` holds it.
        ``uninstall`` undoes it; the tracer can be installed again."""
        self._namespaces = namespaces
        wrapped: dict[int, object] = {}
        for layer, target in layers.items():
            for mod in _layer_modules(target):
                for name, obj in list(vars(mod).items()):
                    if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                        continue
                    if inspect.isfunction(obj) and not inspect.isgeneratorfunction(obj):
                        wrapped.setdefault(id(obj), self._wrap(obj, layer))
                    elif inspect.isclass(obj):
                        for attr, fn in list(vars(obj).items()):
                            if (
                                not attr.startswith("_")
                                and inspect.isfunction(fn)
                                and not inspect.isgeneratorfunction(fn)
                            ):
                                self._set(obj, attr, self._wrap(fn, layer))
        for mod in self._modules():
            for name, obj in list(vars(mod).items()):
                w = wrapped.get(id(obj))
                if w is not None:
                    self._set(mod, name, w)

    def _modules(self) -> list:
        return [
            mod
            for modname, mod in list(sys.modules.items())
            if mod is not None
            and any(modname == ns or modname.startswith(ns + ".") for ns in self._namespaces)
        ]

    def uninstall(self) -> None:
        for owner, name, value in reversed(self._undo):
            setattr(owner, name, value)
        self._undo.clear()
        # a module first imported while installed may have bound a wrapper
        for mod in self._modules():
            for name, obj in list(vars(mod).items()):
                pair = self._orig.get(id(obj))
                if pair is not None and pair[0] is obj:
                    setattr(mod, name, pair[1])
        self._orig.clear()


# ------------------------------------------------------------ event log

_KEEP = (
    '{"Event":"SparkListenerJobStart"',
    '{"Event":"SparkListenerJobEnd"',
    '{"Event":"SparkListenerStageCompleted"',
    '{"Event":"SparkListenerTaskEnd"',
    '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"',
)


def read_event_log(path: str) -> dict:
    """Jobs, stages, tasks and SQL executions of one uncompressed event log.

    Times are epoch seconds. Task metrics are kept as the sums the
    per-layer metrics need.
    """
    jobs: dict[int, dict] = {}
    stages, tasks, sqls = [], [], []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if not line.startswith(_KEEP):
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1e3, "end": None}
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                stages.append({"start": info.get("Submission Time", 0) / 1e3})
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                tasks.append(
                    {
                        "start": info["Launch Time"] / 1e3,
                        "failed": e["Task End Reason"]["Reason"] != "Success",
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    }
                )
            elif e.get("rootExecutionId", e["executionId"]) == e["executionId"]:
                sqls.append({"start": e["time"] / 1e3})
    for j in jobs.values():  # a job cut off by the session end
        if j["end"] is None:
            j["end"] = j["start"]
    return {
        "jobs": sorted((j["start"], j["end"]) for j in jobs.values()),
        "stages": stages,
        "tasks": tasks,
        "sqls": sqls,
    }


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


# ------------------------------------------------------------ interval math


def _union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def _clip(union, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in union if b > lo and a < hi]


def _minus(lo: float, hi: float, holes) -> list[tuple[float, float]]:
    """[lo, hi] without the (unioned, sorted) ``holes``."""
    out, cur = [], lo
    for a, b in holes:
        if b <= cur or a >= hi:
            continue
        if a > cur:
            out.append((cur, a))
        cur = max(cur, b)
    if cur < hi:
        out.append((cur, hi))
    return out


def _overlap(intervals, union) -> float:
    return sum(_length(_clip(union, a, b)) for a, b in intervals)


def _inside(t: float, windows) -> bool:
    return any(a <= t <= b for a, b in windows)


# ------------------------------------------------------------ metrics

SPARK_COUNTS = ("jobs", "stages", "tasks", "failed_tasks", "actions")
SPARK_TASK_SUMS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "output_bytes",
)
_TASK_KEY = {"executor_run_s": "run_s", "executor_cpu_s": "cpu_s"}


def pass_metrics(records: list[dict], log: dict, cores: int) -> dict[str, float]:
    """Spark-layer and per-query metrics of one pass (its query records)."""
    windows = [(r["t0"], r["t1"]) for r in records]
    wall = sum(b - a for a, b in windows)
    m: dict[str, float] = {k: 0.0 for k in SPARK_COUNTS + SPARK_TASK_SUMS}
    job_union = _union(log["jobs"])
    busy = 0.0
    for r, (a, b) in zip(records, windows):
        n_jobs = sum(1 for s, _ in log["jobs"] if a <= s <= b)
        q_busy = _length(_clip(job_union, a, b))
        m["jobs"] += n_jobs
        busy += q_busy
        m[f"{r['query']}.jobs"] = float(n_jobs)
        m[f"{r['query']}.driver_gap_s"] = (b - a) - q_busy
    m["stages"] = float(sum(1 for s in log["stages"] if _inside(s["start"], windows)))
    m["actions"] = float(sum(1 for s in log["sqls"] if _inside(s["start"], windows)))
    for t in log["tasks"]:
        if not _inside(t["start"], windows):
            continue
        m["tasks"] += 1
        m["failed_tasks"] += t["failed"]
        for k in SPARK_TASK_SUMS:
            m[k] += t[_TASK_KEY.get(k, k)]
    m["job_busy_s"] = busy
    m["driver_gap_s"] = wall - busy
    m["slot_util"] = m["executor_run_s"] / (busy * cores) if busy > 0 else 0.0
    return {(k if "." in k else f"spark.{k}"): v for k, v in m.items()}


def module_metrics(
    spans: list[tuple], windows, log: dict, layers: dict[str, str] = LAYERS
) -> dict[str, float]:
    """calls / self_s / job_s per module layer, over spans inside ``windows``.

    ``self_s`` is a span's time minus its child spans and minus Spark job
    time; ``job_s`` is Spark job time inside the span minus its children.
    ``calls`` counts entries into the layer from outside it.
    """
    by_id = {s[0]: s for s in spans}
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s[1], []).append((s[3], s[4]))
    job_union = _union(log["jobs"])
    out = {f"{layer}.{k}": 0.0 for layer in layers for k in ("calls", "self_s", "job_s")}
    for span_id, parent, layer, t0, t1 in spans:
        if not _inside(t0, windows):
            continue
        own = _minus(t0, t1, _union(children.get(span_id, [])))
        job = _overlap(own, job_union)
        out[f"{layer}.self_s"] += _length(own) - job
        out[f"{layer}.job_s"] += job
        if parent == 0 or by_id.get(parent, (0, 0, None))[2] != layer:
            out[f"{layer}.calls"] += 1
    return out
