"""One benchmark session in a fresh Python process and a fresh Spark JVM.

The parent (``run.py``) starts this script once per run and passes a JSON
spec on the command line. The session builds its SparkSession through
``deeptime_spark.session.get_spark`` and runs one warm-up scan; that is the
set-up. Then the session is the single client of a closed loop: it submits
the workload's queries one after another, each materialised through a
``noop`` sink: a cold pass, then warm passes until the spec's
``min_passes`` have run, and on while the pass budget lasts. The passes the
spec lists in ``traced_passes`` run with the module spans of
``trace_layers.SpanTracer`` installed.

The peak RSS of this process and of its JVM are read after the timed passes.
An untimed check pass follows: each query runs once more, its result is
collected with ``toPandas()`` and compared with the query's DuckDB oracle.
No timed pass ever collects a result. The result is written as JSON to the
spec's ``out`` path.

Usage: python3 perfbench/session.py SPEC_JSON
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _hygiene(spark) -> None:
    """What bench.py does between queries, outside the timing."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def _run_query(spark, fn, name: str, data_dir: str, pass_idx: int) -> dict:
    """Time one query: build (the query function, including its eager
    actions) and sink (the noop write). A failure keeps its elapsed time."""
    rec = {"query": name, "pass": pass_idx, "ok": True, "error": None}
    rec["t0"] = time.time()
    rec["t_built"] = None
    try:
        df = fn(spark, data_dir)
        rec["t_built"] = time.time()
        _noop(df)
    except Exception as e:  # one query's failure must not end the pass
        rec["ok"] = False
        rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
    rec["t1"] = time.time()
    if rec["t_built"] is None:
        rec["t_built"] = rec["t1"]
    _hygiene(spark)
    return rec


def _collect_query(spark, fn, name: str, data_dir: str, results: dict) -> dict:
    """Run one query once more and keep its result (or its exception) in
    ``results`` for the oracle check. Not part of any timed pass."""
    rec = {"query": name, "ok": True, "error": None}
    try:
        results[name] = fn(spark, data_dir).toPandas()
    except Exception as e:
        rec["ok"] = False
        rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        results[name] = e
    spark.catalog.clearCache()
    return rec


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def run_passes(spark, qs, spec: dict, out: dict, jvm_pid: int, tracer) -> None:
    """The timed passes: a cold pass, then warm passes until ``min_passes``
    have run and the next one is predicted to end past the pass budget.
    The passes listed in ``traced_passes`` run with ``tracer``'s spans
    installed. The peak RSS figures are read after the passes."""
    names, data_dir = spec["queries"], spec["data_dir"]
    t_pass0 = time.time()
    idx = 0
    while True:
        traced = idx in spec["traced_passes"]
        if traced:
            tracer.install()
        try:
            recs = [_run_query(spark, qs[n], n, data_dir, idx) for n in names]
        finally:
            if traced:
                tracer.uninstall()
        for r in recs:
            r["traced"] = traced
        out["records"].extend(recs)
        last = sum(r["t1"] - r["t0"] for r in recs)
        idx += 1
        if idx >= spec["min_passes"] and (
            time.time() - t_pass0 + last >= spec["pass_budget_s"]
        ):
            break
    out["py_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    out["jvm_peak_rss_mb"] = _vm_hwm_mb(jvm_pid)


def check_pass(spark, qs, spec: dict, out: dict) -> dict:
    """After the timed passes: collect every query's result once and return
    them by query name."""
    results: dict = {}
    for n in spec["queries"]:
        out["check_records"].append(_collect_query(spark, qs[n], n, spec["data_dir"], results))
    return results


def main() -> None:
    spec = json.loads(sys.argv[1])
    data_dir = spec["data_dir"]
    sys.path.insert(0, spec["root"])
    sys.path.insert(0, HERE)
    os.environ["SPARK_GRAFT_ORACLE_SF"] = data_dir

    from deeptime_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t_ready = time.time()
    _noop(spark.read.parquet(f"{data_dir}/lineitem.parquet").groupBy("l_returnflag").count())
    t_warm = time.time()

    out = {
        "spawn_time": spec["spawn_time"],
        "session_ready": t_ready,
        "warmup_done": t_warm,
        "setup_s": t_warm - spec["spawn_time"],
        "records": [],
        "check_records": [],
        "check": {},
        "error": None,
    }
    try:
        out["sql_conf"] = {
            k: v for k, v in spark.sql("SET").collect() if k.startswith("spark.sql.")
        }
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        tracer = None
        if spec["traced_passes"]:
            from trace_layers import SpanTracer

            tracer = SpanTracer()
        qs = entry.queries()
        run_passes(spark, qs, spec, out, jvm_pid, tracer)
        if tracer is not None:
            out["spans"] = tracer.spans
        out["passes_done"] = time.time()
        from oracle_check import check_results

        results = check_pass(spark, qs, spec, out)
        out["check_done"] = time.time()
        out["check"] = check_results(entry, results, data_dir)
        out["oracle_done"] = time.time()
    except Exception:
        out["error"] = traceback.format_exc()
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        # the JVM exits when its stdin closes; wait for it so that no
        # process of the run outlives it
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    with open(spec["out"], "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main()
