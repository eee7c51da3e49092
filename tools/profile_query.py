"""Per-job time attribution for one query — guide §1 (measure first).

Runs a query in a fresh ``get_spark(..., "profile")`` session (the bench
conf with the UI enabled), does one warm-up pass, then one measured pass,
and prints every Spark job the measured pass submitted (job id, duration,
first stage name) scraped from the UI REST API — the local[.] stand-in
for the Stages tab. This is how each round-12 optimization decides WHICH
of a query's jobs is worth attacking before touching the plan.

Usage: python tools/profile_query.py <query> [n_warmup]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request


def main() -> int:
    name = sys.argv[1]
    n_warm = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    from deeptime_spark.session import get_spark

    spark = get_spark("deeptime-spark-profile", "profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    fn = qs[name]
    for _ in range(n_warm):
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def jobs():
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/jobs") as r:
            return json.load(r)

    before_ids = {j["jobId"] for j in jobs()}
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    out = []
    for j in jobs():
        if j["jobId"] in before_ids:
            continue
        sub = j.get("submissionTime", "")
        comp = j.get("completionTime", "")
        try:
            from datetime import datetime

            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            dur = (
                datetime.strptime(comp, fmt) - datetime.strptime(sub, fmt)
            ).total_seconds()
        except Exception:
            dur = -1.0
        out.append(
            {
                "job": j["jobId"],
                "sec": round(dur, 3),
                "stages": j.get("numCompletedStages", 0),
                "tasks": j.get("numCompletedTasks", 0),
                "name": (j.get("name") or "")[:110],
                "submitted": sub,
            }
        )
    out.sort(key=lambda d: d["job"])
    print(json.dumps({"query": name, "wall_sec": round(wall, 3), "n_jobs": len(out)}))
    for j in out:
        print(f"  job {j['job']:>4} {j['sec']:>8.3f}s tasks={j['tasks']:<5} {j['name']}")
    gaps_total = round(wall - sum(max(j["sec"], 0) for j in out), 3)
    print(f"  driver/gap time (wall - sum jobs): {gaps_total}s")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
