"""Forced-distributed scale gate for the driver-dispatched operators.

The r12 driver dispatches (graph kernels, deep-estimator replay,
DeterministicKMeans Lloyd, connected_components union-find) absorb the
bench's sf0.1 inputs entirely, so the DISTRIBUTED code paths — the ones
that matter at 100 TB — were exercised only by bit-equality pytests,
never timed (r12 verdict, "What's wrong" #1). This tool times every
dispatch-gated query (``@query(dispatch=True)``, listed in
``__spark_entry__.DISPATCH``) twice per fixture:

- ``driver``: defaults (the dispatch bounds as shipped);
- ``distributed``: every decision forced to the distributed path by
  ``DEEPTIME_DISPATCH=distributed`` (``FORCE_ENV``, read by
  deeptime_spark/dispatch.py) — results are bit-identical by the
  operators' cross-path contracts (pinned in tests/), so both modes run
  the SAME queries and the oracle stays green either way.

Fixtures: sf0.1 and the x8 replicated weak-scaling dir
(tools/scale_bench.py's fixture — built here on first use). Each
(fixture, mode) runs ``tools/anchor_bench.py`` in its OWN subprocess so
every mode starts from a fresh JVM with cold caches.

Usage: python tools/forced_distributed_bench.py [x8]
Prints one JSON line; record the table in SCALE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

FORCE_ENV = {"DEEPTIME_DISPATCH": "distributed"}


def run_anchor(sf_dir: str, mode: str) -> dict:
    """Time the DISPATCH queries with tools/anchor_bench.py in a fresh
    process (1 cold + 2 warm trials, the gate's r13 protocol), under
    FORCE_ENV for ``distributed``."""
    import __spark_entry__ as entrymod
    from deeptime_spark.session import PROFILES

    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    env.setdefault("SPARK_DRIVER_MEMORY", PROFILES["scale"]["spark.driver.memory"])
    env.setdefault("SPARK_GRAFT_ANCHOR_TRIALS", "2")
    if mode == "distributed":
        env.update(FORCE_ENV)
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "anchor_bench.py"), *entrymod.DISPATCH],
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
