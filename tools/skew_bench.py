"""Skew stress for the graph family (r9 verdict item 6): the event
fixtures behind event_triangles / event_kcore / event_bfs /
event_betweenness are near-uniform, so their SCALE.md slopes never
exercised the power-law regime every real web/link graph lives in.

This harness builds a zipfian-degree variant of the weak-scaling edge
fixture: the same per-replica node blocks (nodes grow with k — constant
density, the realistic regime), but ~10% of ALL edges re-point their
source at ONE GLOBAL hub (node 0). At x8 the hub's degree grows 8x
while every other node's stays flat — the adversarial shape for
wedge fan-out (naive orientation keeps ~deg(hub)^2 wedges), for
frontier explosion (the hub reaches 10% of the graph in one BFS step),
and for peel-round skew (k-core).

What the slopes should show (and the degree-ordered orientation
argument in SCALE.md's event_triangles row predicts): triangle counting
stays near its uniform-fixture slope because the hub is oriented as a
SINK (highest degree) so its oriented out-degree is ~0 and the wedge
relation never expands; BFS/harmonic/betweenness stay O(diameter)-job
with per-level work bounded by the (pivot, node) relation — the hub
only densifies one level; k-core peels the hub late without widening
any round.

Usage: python tools/skew_bench.py [k ...]   (default 1 8; uses the
/tmp/scale/x{k} replicas — run tools/scale_bench.py first or let this
build them). Prints one JSON line {query: {x1: s, x8: s, slope: r}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

NODES_PER_BLOCK = 4001
OFFSET = 10_000_000


def skew_edges(spark, sf_dir: str):
    """Zipfian-hub edge frame from the (possibly replicated) events
    table: per-replica node blocks keep density constant as k grows;
    every ~10th edge re-points its source at the GLOBAL hub node 0."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    blk = (F.col("event_id") / OFFSET).cast("long")
    base = F.col("event_id") % OFFSET
    src = (base % NODES_PER_BLOCK) + blk * NODES_PER_BLOCK
    dst = ((base * 31 + F.expr(f"(event_id % {OFFSET}) div {NODES_PER_BLOCK}"))
           % NODES_PER_BLOCK) + blk * NODES_PER_BLOCK
    hub = (base % 10) == 0
    return ev.select(
        F.when(hub, F.lit(0)).otherwise(src).cast("long").alias("src"),
        dst.cast("long").alias("dst"),
    ).where(F.col("src") != F.col("dst"))


def main() -> None:
    ks = [int(a) for a in sys.argv[1:]] or [1, 8]
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from deeptime_spark.session import get_spark
    from tools.scale_bench import build_dir

    spark = get_spark("skew-bench", "scale")
    spark.sparkContext.setLogLevel("ERROR")

    from deeptime_spark.operators.graph import (
        bfs_distances,
        betweenness_centrality,
        harmonic_centrality,
        k_core,
        triangle_counts,
    )

    def run(name, fn, edges):
        t0 = time.time()
        out = fn(edges)
        n = out.count()
        return round(time.time() - t0, 2), n

    OPS = {
        "triangles_skew": lambda e: triangle_counts(e),
        "kcore_skew": lambda e: k_core(e, k=3),
        "bfs_skew": lambda e: bfs_distances(e, sources=[0, 1, 2], max_depth=20),
        "harmonic_skew": lambda e: harmonic_centrality(e, n_pivots=8),
        "betweenness_skew": lambda e: betweenness_centrality(e, n_pivots=8),
    }
    dirs = {k: build_dir(spark, k) for k in ks}
    results: dict[str, dict] = {}
    # warm pass at the smallest k so x1 numbers exclude first-compile JIT
    e_warm = skew_edges(spark, dirs[ks[0]])
    for fn in OPS.values():
        fn(e_warm).count()
        spark.catalog.clearCache()
    for name, fn in OPS.items():
        results[name] = {}
        for k in ks:
            edges = skew_edges(spark, dirs[k])
            t, n = run(name, fn, edges)
            results[name][f"x{k}"] = t
            results[name][f"rows_x{k}"] = n
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        if len(ks) >= 2:
            a, b = ks[0], ks[-1]
            results[name]["slope"] = round(
                results[name][f"x{b}"] / max(results[name][f"x{a}"], 1e-9), 2
            )
    # hub share sanity: report the hub's degree fraction at each k
    from pyspark.sql import functions as F
    for k in ks:
        e = skew_edges(spark, dirs[k])
        tot = e.count()
        hubdeg = e.where((F.col("src") == 0) | (F.col("dst") == 0)).count()
        results.setdefault("_hub_share", {})[f"x{k}"] = round(hubdeg / tot, 4)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
