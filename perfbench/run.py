"""Benchmark of the deeptime_spark engine: one workload, one seed, one run.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload estimators --seed 1 --seconds 20 --trace 0

A run generates the workload's tables from the seed (``gen.py``, outside
every timing), then starts one session: a new Python process with a new
Spark JVM on ``local[nproc]`` (``session.py``). The session sets up, then is
the single client of a closed loop: it submits the workload's queries from
``__spark_entry__.queries()`` one at a time, each materialised through a
``noop`` sink, for a cold pass, warm passes, and more warm passes while
``--seconds`` of passes last. After the timed passes an untimed check pass
collects each query's result and compares it with the query's DuckDB oracle.

End-to-end metrics (``--trace 0``), each a median over the run's samples:

* ``setup_s``: process start to session ready plus one warm-up scan (1).
* ``warm_wall_s``: total of each of the two passes after the cold one (2).
  The JIT keeps speeding passes up for several passes, so later passes are
  reported but left out: the metric reads the same passes at any speed.
* ``py_peak_rss_mb``: peak RSS of the session's Python process (1), read
  after the timed passes.

Printed with them, but per-layer metrics without a bound, because one run
holds a single sample of each and their run-to-run spread can exceed 25%:

* ``cold_wall_s`` (``cold.wall_s``): total of the first pass in a fresh JVM.
  Its JIT and class-loading work competes with the queries for the cores,
  and over ten seeds on 4 cores its spread (IQR over median) read 0.07 to
  0.24.
* ``jvm_peak_rss_mb`` (``jvm.peak_rss_mb``): the VmHWM of the session's
  Spark JVM, read with ``py_peak_rss_mb``. G1 grows the heap in steps whose
  timing varies, so it splits between levels from run to run.

Every query execution, timed or in the check pass, is one attempt. An
attempt that raises is one failure; its time stays in its pass total and
the pass is flagged. A check-pass attempt that ran but whose result differs
from the oracle is one failure too. ``failed_frac`` is failures over
attempts.

With ``--trace 1`` the session writes the Spark event log and runs six
timed passes: cold, warm, then traced, untraced, untraced, traced (module
spans installed in the traced ones, see ``trace_layers.py``). The run
reports the per-layer metrics of the two traced passes, the cold pass's
build time, jobs and driver gap, and the tracing overhead: traced against
untraced warm wall in the same session, the order balancing the JIT's
speed-up.

Human-readable lines, the run environment and per-query detail go to
stdout first; the last line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from trace_layers import (  # noqa: E402
    LAYERS,
    SPARK_COUNTS,
    SPARK_TASK_SUMS,
    find_event_log,
    module_metrics,
    pass_metrics,
    read_event_log,
)

RUN_TIMEOUT_S = 170.0
WARM = (1, 2)  # the passes warm_wall_s reads; pass 0 is the cold one
# the traced run's passes: 0 cold, 1 warm-up, then traced, untraced,
# untraced, traced, so that the JIT's speed-up does not bias the overhead
TRACED = (2, 5)
UNTRACED = (3, 4)
TRACE_PASSES = 6

WORKLOADS = {
    # the deeptime chain: small data, many short jobs and a driver-side
    # numpy finalize per estimator, so driver and scheduling overhead shows
    "estimators": {
        "queries": [
            "tica_events",  # operators.lag, covariance, decomposition
            "msm_its_events",  # markov, validation
            "kmeans_embeddings",  # clustering
            "hmm_viterbi_events",  # hmm
            "event_triangles",  # operators.graph
        ],
    },
    # linkage and dedup, retrieval, a shard write and a streaming replay:
    # pair joins, wide aggregates, Python workers and file writes
    "corpus": {
        "queries": [
            "customer_entity_resolution",  # operators.linkage, operators.dedup
            "doc_bm25_search",  # operators.retrieval
            "shard_manifest",  # sources
            "streaming_dedup_replay",  # streaming
        ],
    },
}

END_TO_END = {
    "setup_s": "s",
    "warm_wall_s": "s",
    "py_peak_rss_mb": "MB",
}


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, for every workload."""
    names = ["session.start_s", "session.warmup_s", "jvm.peak_rss_mb"]
    names += ["entry.build_s", "entry.sink_s"]
    names += [f"spark.{k}" for k in SPARK_COUNTS]
    names += ["spark.job_busy_s", "spark.driver_gap_s"]
    names += [f"spark.{k}" for k in SPARK_TASK_SUMS]
    names += ["spark.slot_util"]
    names += ["cold.wall_s", "cold.entry.build_s", "cold.spark.jobs", "cold.spark.driver_gap_s"]
    names += ["trace.warm_wall_s", "trace.untraced_warm_wall_s", "trace.overhead_frac"]
    for w in WORKLOADS.values():
        for q in w["queries"]:
            names += [f"{q}.jobs", f"{q}.driver_gap_s"]
    for layer in LAYERS:
        names += [f"{layer}.calls", f"{layer}.self_s", f"{layer}.job_s"]
    return names


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_util")):
        return "ratio"
    return "count"


# ------------------------------------------------------------ processes


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def _reap_group(pgid: int, grace_s: float = 15.0) -> None:
    """Wait until every process of the group has ended; kill stragglers."""
    deadline = time.time() + grace_s
    while _group_pids(pgid):
        if time.time() > deadline:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            deadline = time.time() + grace_s
        time.sleep(0.05)


def run_session(spec: dict, env: dict, log_path: str, timeout_s: float) -> dict:
    spec = dict(spec, spawn_time=time.time())
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "session.py"), json.dumps(spec)],
            env=env,
            cwd=spec["work_dir"],
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
        finally:
            _reap_group(proc.pid)
    if code != 0 or not os.path.exists(spec["out"]):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"session exited with {code}:\n{tail}")
    with open(spec["out"]) as fh:
        res = json.load(fh)
    if res["error"]:
        raise RuntimeError(f"session failed:\n{res['error']}")
    return res


# ------------------------------------------------------------ aggregation


def _passes(res: dict) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for r in res["records"]:
        out.setdefault(r["pass"], []).append(r)
    return out


def _wall(records: list[dict]) -> float:
    return sum(r["t1"] - r["t0"] for r in records)


def count_failures(res: dict) -> tuple[int, list[dict], list[str]]:
    """Attempts, the attempts that raised, and the check-pass queries that
    ran but whose result failed the oracle check. An attempt fails at most
    once: a check-pass query that raised is only in the second list."""
    records, check_records = res["records"], res["check_records"]
    raised = [r for r in records + check_records if not r["ok"]]
    check_failed = [
        r["query"] for r in check_records
        if r["ok"] and res["check"][r["query"]]["status"] == "fail"
    ]
    return len(records) + len(check_records), raised, check_failed


def layer_report(res: dict, log: dict, cores: int) -> dict[str, float]:
    """Per-layer metrics of the traced passes (their mean), of the cold
    pass, and the tracing overhead."""
    passes = _passes(res)
    traced = [passes[p] for p in TRACED]
    acc: dict[str, float] = {}
    for recs in traced:
        windows = [(r["t0"], r["t1"]) for r in recs]
        m = pass_metrics(recs, log, cores)
        m.update(module_metrics(res["spans"], windows, log))
        m["entry.build_s"] = sum(r["t_built"] - r["t0"] for r in recs)
        m["entry.sink_s"] = sum(r["t1"] - r["t_built"] for r in recs)
        for k, v in m.items():
            acc[k] = acc.get(k, 0.0) + v / len(traced)
    cold = passes[0]
    cm = pass_metrics(cold, log, cores)
    acc["cold.wall_s"] = _wall(cold)
    acc["cold.entry.build_s"] = sum(r["t_built"] - r["t0"] for r in cold)
    acc["cold.spark.jobs"] = cm["spark.jobs"]
    acc["cold.spark.driver_gap_s"] = cm["spark.driver_gap_s"]
    acc["session.start_s"] = res["session_ready"] - res["spawn_time"]
    acc["session.warmup_s"] = res["warmup_done"] - res["session_ready"]
    acc["jvm.peak_rss_mb"] = res["jvm_peak_rss_mb"]
    t_warm = statistics.median(_wall(recs) for recs in traced)
    u_warm = statistics.median(_wall(passes[p]) for p in UNTRACED)
    acc["trace.warm_wall_s"] = t_warm
    acc["trace.untraced_warm_wall_s"] = u_warm
    acc["trace.overhead_frac"] = t_warm / u_warm - 1.0
    return acc


def environment(cores: int, args, res: dict) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": cores,
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "seed": args.seed,
        "workload": args.workload,
        "gen_version": gen.GEN_VERSION,
        "sql_conf": res.get("sql_conf", {}),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="deeptime_spark benchmark run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_run = time.time()

    root = os.path.dirname(HERE)
    missing = [
        p
        for p in ("__spark_entry__.py", "deeptime_spark/session.py")
        if not os.path.isfile(os.path.join(root, p))
    ]
    if missing:
        print(f"perfbench: program files missing under {root}: {missing}", file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data_dir = os.path.join(work, "data")
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    try:
        t0 = time.time()
        gen.write_tables(data_dir, args.seed)
        gen_s = time.time() - t0

        env = dict(
            os.environ,
            # Python workers import the package from the checkout, whatever
            # the working directory
            PYTHONPATH=os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH")) if p
            ),
            SPARK_GRAFT_CPUS=str(cores),
            TMPDIR=os.path.join(work, "tmp"),
            SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        )
        # keep the JVMs' temporary files (and perf-data files) in the checkout
        java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        env["SPARK_LAUNCHER_OPTS"] = java_opts
        submit = ["--driver-java-options", java_opts]
        if args.trace:
            # Spark's default event log is rolled and zstd-compressed
            submit += [
                "--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
                "--conf", "spark.eventLog.compress=false",
                "--conf", "spark.eventLog.rolling.enabled=false",
            ]
        env["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
        spec = {
            "root": root,
            "work_dir": work,
            "data_dir": data_dir,
            "queries": wl["queries"],
            "traced_passes": list(TRACED) if args.trace else [],
            "pass_budget_s": args.seconds,
            "min_passes": TRACE_PASSES if args.trace else 1 + len(WARM),
            "out": os.path.join(work, "session.json"),
        }
        remaining = RUN_TIMEOUT_S - (time.time() - t_run)
        res = run_session(spec, env, os.path.join(work, "session.log"), remaining)
        passes = _passes(res)

        e2e = {
            "setup_s": res["setup_s"],
            "warm_wall_s": statistics.median(_wall(passes[p]) for p in WARM),
            "py_peak_rss_mb": res["py_peak_rss_mb"],
        }
        samples = {"warm_wall_s": len(WARM)}

        records, check = res["records"], res["check"]
        attempted, raised, check_failed = count_failures(res)
        failed = len(raised) + len(check_failed)
        e2e_print = dict(
            e2e,
            cold_wall_s=_wall(passes[0]),
            jvm_peak_rss_mb=res["jvm_peak_rss_mb"],
            failed_frac=failed / attempted,
        )

        print(f"workload {args.workload} seed {args.seed}: gen_s {gen_s:.3f} s "
              f"(outside setup), {len(wl['queries'])} queries, trace {args.trace}")
        for name, value in e2e_print.items():
            unit = END_TO_END.get(name) or _unit(name)
            n = samples.get(name, attempted if name == "failed_frac" else 1)
            print(f"  {name:<16} {value:12.4f} {unit:<5} (n={n})")
        print(f"  run phases: setup {res['setup_s']:.1f} s, timed passes "
              f"{res['passes_done'] - res['warmup_done']:.1f} s, check pass "
              f"{res['check_done'] - res['passes_done']:.1f} s, oracles "
              f"{res['oracle_done'] - res['check_done']:.1f} s, run "
              f"{time.time() - t_run:.1f} s")
        for p, recs in sorted(passes.items()):
            bad = [r["query"] for r in recs if not r["ok"]]
            flag = f"  FLAGGED: {bad}" if bad else ""
            kind = "cold" if p == 0 else "warm" if p in WARM else "extra"
            traced = " traced" if recs[0]["traced"] else ""
            print(f"  pass {p} {kind}{traced} {_wall(recs):.3f} s{flag}")
        for q in wl["queries"]:
            times = {r["pass"]: r["t1"] - r["t0"] for r in records if r["query"] == q}
            w = statistics.median(times[p] for p in WARM)
            print(f"  query {q:<28} cold {times[0]:8.3f} s  warm {w:8.3f} s")
        for r in raised:
            print(f"  error {r['query']} (pass {r.get('pass', 'check')}): {r['error']}")
        for q, c in check.items():
            print(f"  check {q}: {c['status']} ({c['detail']})")
        print("env " + json.dumps(environment(cores, args, res), sort_keys=True))

        if args.trace:
            log = read_event_log(find_event_log(os.path.join(work, "eventlog")))
            layers = layer_report(res, log, cores)
            metrics = {
                name: {"value": layers.get(name, 0.0), "unit": _unit(name)}
                for name in per_layer_names()
            }
            for name in sorted(layers):
                if name in metrics:
                    print(f"  {name:<44} {layers[name]:14.4f} {_unit(name)}")
            share = layers["spark.driver_gap_s"] / layers["trace.warm_wall_s"]
            print(f"  spark.driver_gap_s share of traced warm wall: {share:.3f}")
            for r in passes[TRACED[0]]:
                parts = (r["t_built"] - r["t0"]) + (r["t1"] - r["t_built"])
                print(f"  entry {r['query']}: build+sink {parts:.3f} s of wall "
                      f"{r['t1'] - r['t0']:.3f} s")
        else:
            metrics = {
                name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END.items()
            }
        print(json.dumps({
            "correct": not check_failed and not raised,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
