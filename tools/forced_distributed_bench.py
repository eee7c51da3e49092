"""Forced-distributed scale gate for the driver-dispatched operators.

The r12 driver dispatches (graph kernels, deep-estimator replay,
DeterministicKMeans Lloyd, connected_components union-find) absorb the
bench's sf0.1 inputs entirely, so the DISTRIBUTED code paths — the ones
that matter at 100 TB — were exercised only by bit-equality pytests,
never timed (r12 verdict, "What's wrong" #1). This tool times every
dispatch-gated bench query twice per fixture:

- ``driver``: defaults (the dispatch bounds as shipped);
- ``distributed``: every dispatch bound forced to 0 through the
  env overrides (DEEPTIME_DRIVER_{TRI,GRAPH}_MAX_EDGES,
  DEEPTIME_DRIVER_FIT_MAX_ELEMS, DEEPTIME_CC_LOCAL_THRESHOLD,
  DEEPTIME_KMEANS_DRIVER_DISPATCH=0) — results are bit-identical by the
  operators' cross-path contracts (pinned in tests/), so both modes run
  the SAME queries and the oracle stays green either way.

Fixtures: sf0.1 and the x8 replicated weak-scaling dir
(tools/scale_bench.py's fixture — built here on first use). Each
(fixture, mode) runs ``tools/anchor_bench.py`` in its OWN subprocess
because the deep-estimator bound is captured at import time.

Usage: python tools/forced_distributed_bench.py [x8]
Prints one JSON line; record the table in SCALE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

QUERIES = [
    # §14 graph kernels
    "event_triangles",
    "event_clustering_coeff",
    "event_kcore",
    "event_bfs",
    "event_communities",
    # §10 deep estimators
    "vampnet_events",
    "tae_events",
    "tvae_events",
    # §6 DeterministicKMeans
    "kmeans_embeddings",
    # connected_components (driver union-find convention)
    "dedup_components",
]

FORCE_ENV = {
    "DEEPTIME_DRIVER_TRI_MAX_EDGES": "0",
    "DEEPTIME_DRIVER_GRAPH_MAX_EDGES": "0",
    "DEEPTIME_DRIVER_FIT_MAX_ELEMS": "0",
    "DEEPTIME_CC_LOCAL_THRESHOLD": "0",
    "DEEPTIME_KMEANS_DRIVER_DISPATCH": "0",
}


def run_anchor(sf_dir: str, mode: str) -> dict:
    """Time QUERIES with tools/anchor_bench.py in a fresh process (1 cold +
    2 warm trials, the gate's r13 protocol), under FORCE_ENV for
    ``distributed``."""
    from deeptime_spark.session import PROFILES

    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    env.setdefault("SPARK_DRIVER_MEMORY", PROFILES["scale"]["spark.driver.memory"])
    env.setdefault("SPARK_GRAFT_ANCHOR_TRIALS", "2")
    if mode == "distributed":
        env.update(FORCE_ENV)
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "anchor_bench.py"), *QUERIES],
        env=env, capture_output=True, text=True, timeout=3600,
    )
    if r.returncode != 0:
        raise RuntimeError(
            f"anchor_bench ({sf_dir}, {mode}) failed; stderr tail:\n"
            + r.stderr[-2000:]
        )
    return json.loads(r.stdout.splitlines()[-1])["anchors"]


def main() -> int:
    sys.path.insert(0, os.path.dirname(HERE))
    from deeptime_spark.session import get_spark
    from tools import scale_bench

    fixtures = {"sf0.1": scale_bench.SRC}
    if "x8" in sys.argv[1:]:
        spark = get_spark("forced-distributed-gate", "scale")
        fixtures["x8"] = scale_bench.build_dir(spark, 8)
        spark.stop()
    report: dict = {}
    for label, sf_dir in fixtures.items():
        report[label] = {}
        for mode in ("driver", "distributed"):
            report[label][mode] = run_anchor(sf_dir, mode)
            print(f"done {label}/{mode}", file=sys.stderr)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
