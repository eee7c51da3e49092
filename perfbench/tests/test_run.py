"""End-to-end tests of ``run.py``; each starts real Spark sessions (~1 min)."""

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def _run(cwd, run_py, *extra):
    return subprocess.run(
        [sys.executable, run_py, "--workload", "estimators", "--seed", "3",
         "--seconds", "1", "--trace", "0", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


def test_runs_from_another_directory(tmp_path):
    """Python workers import the package whatever the working directory."""
    proc = _run(tmp_path, os.path.join(BENCH, "run.py"))
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] > 0
    assert any(line.split()[:2] == ["failed_frac", "0.0000"] for line in lines)
    for name in ("setup_s", "warm_wall_s", "py_peak_rss_mb"):
        assert result["metrics"][name]["value"] > 0
    printed = {line.split()[0] for line in lines if line.startswith("  ")}
    assert {"cold_wall_s", "jvm_peak_rss_mb"} <= printed


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(tmp_path, os.path.join("perfbench", "run.py"))
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_failures_are_counted_once_and_keep_their_time():
    import run

    def rec(query, ok, t0=0.0, t1=1.0, **kw):
        return dict(query=query, ok=ok, t0=t0, t1=t1, error=None if ok else "E", **kw)

    res = {
        "records": [rec("a", True), rec("b", False, 1.0, 4.0)],
        "check_records": [rec("a", True), rec("b", False), rec("c", True)],
        "check": {
            "a": {"status": "pass"},
            "b": {"status": "fail"},  # raised in the check pass: counted once
            "c": {"status": "fail"},  # ran, wrong result
        },
    }
    attempted, raised, check_failed = run.count_failures(res)
    assert attempted == 5
    assert [r["query"] for r in raised] == ["b", "b"]
    assert check_failed == ["c"]
    assert run._wall(res["records"]) == 4.0  # the failed query's 3 s stay in
