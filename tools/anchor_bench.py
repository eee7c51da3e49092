"""Idle-session anchor bench: re-time a handful of queries in a FRESH
Spark session with bench.py's conf (``get_spark``'s ``bench`` profile),
1 cold + N warm passes (default 3), reporting per-query cold / warm-min /
warm-spread.

The adjudication tool for warm-bench drift (PLANS.md protocol): a
regression that shows up in the full 150-query bench session but
vanishes here is session-scale JIT/code-cache/GC crowding, not an
operator change — re-anchor and record, don't rework the plan.

Usage:
    python tools/anchor_bench.py q1 q2 ...        # specific queries
    SPARK_GRAFT_ANCHOR_TRIALS=3 ...               # warm trial count
Prints one JSON line {query: {cold, warm_min, warm_spread}, ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print("usage: anchor_bench.py <query> [query ...]", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    n_warm = int(os.environ.get("SPARK_GRAFT_ANCHOR_TRIALS", "3"))

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    from deeptime_spark.session import get_spark

    spark = get_spark("deeptime-spark-anchor", "bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out: dict[str, dict] = {}
    for name in names:
        fn = qs.get(name)
        if fn is None:
            out[name] = {"error": "unknown query"}
            continue
        trials = []
        for _ in range(1 + n_warm):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            trials.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        warm = trials[1:]
        out[name] = {
            "cold": trials[0],
            "warm_min": min(warm),
            "warm_spread": round(max(warm) - min(warm), 3),
            "trials": trials,
        }
    print(json.dumps({"sf_dir": sf_dir, "cpus": int(cpus), "anchors": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
