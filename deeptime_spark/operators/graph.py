"""Distributed graph-rank operators over edge DataFrames.

The dedup family ends at connected components (operators/dedup.py); the
web/crawl family (operators/web.py) produces host link graphs whose
canonical quality signal is PageRank — used by crawl frontiers and
corpus-quality weighting in large-scale training-data pipelines (the
public CommonCrawl host-level harmonic/PageRank tables play this role).
This module implements power-iteration PageRank as a pure DataFrame
loop, built for graphs whose NODE SET does not fit on the driver.

Scale shape (the part that matters at 10^9 edges):

- The edge relation is normalized ONCE (multiplicity-summed, out-degree
  divided) and persisted **hash-partitioned on src**. A cached frame
  keeps its ``outputPartitioning``, so every iteration's
  ranks-to-edges join reuses the cached layout and only shuffles the
  O(|V|) ranks frame — the O(|E|) side never moves again.
- Each iteration is join -> groupBy(dst).sum — both partial-aggregated
  map-side. The dangling-mass total is NOT collected to the driver: it
  is Σ rank over the (precomputed, tiny) dangling-node set — an O(|V|)
  scan of the checkpointed previous ranks riding as a broadcast
  single-row aggregate crossJoined into the rank update. Because it
  reads the PREVIOUS ranks rather than the current contributions, the
  contribution frame needs no persist/unpersist lifecycle and is
  computed exactly once inside the iteration's single job; when the
  graph has no dangling nodes at all (checked once at setup) the term
  is the literal 0.0 and the per-iteration scalar subjob disappears
  entirely.
- Ranks are ``localCheckpoint``ed every iteration: a self-dependent
  iterative plan otherwise accumulates lineage that Catalyst re-analyzes
  quadratically (same rationale as connected_components,
  operators/dedup.py).

Runs a FIXED number of iterations rather than a convergence test: fixed
iteration count is deterministic across engines/partitionings (the
oracle replays it densely) and is how production crawl ranks are run
(convergence deltas cost an extra distributed join per round).
"""

from __future__ import annotations

import warnings

from deeptime_spark import dispatch
from deeptime_spark.local_relation import local_df as _local_df
from pyspark.sql import DataFrame, functions as F

# Node count up to which the iterative operators broadcast their O(|V|)
# frames into every join; above it the edge relation is persisted
# hash-partitioned at ``defaultParallelism`` width and the O(|V|) frames
# shuffle (see :func:`pagerank`).
BROADCAST_MAX_NODES = 1_000_000


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    damping: float = 0.85,
    n_iter: int = 20,
    personalization: DataFrame | None = None,
) -> DataFrame:
    """PageRank by power iteration over an edge DataFrame.

    ``edges`` rows are directed ``src -> dst`` links; duplicate rows are
    multiplicity (summed into the transition weight), ``weight_col``
    optionally scales each row. The node set is the union of both
    endpoint columns; every node gets the teleport share
    ``(1-damping)/N`` and dangling nodes (no out-edges) redistribute
    their rank uniformly, so ranks sum to 1 each iteration (the
    Brin & Page '98 random-surfer chain, handled as in Langville &
    Meyer, "Deep Inside PageRank", 2004).

    ``personalization`` (optional) is a (node, weight) DataFrame giving
    a non-uniform teleport distribution — the personalized PageRank of
    Haveliwala, "Topic-Sensitive PageRank" (WWW'02). Weights are
    L1-normalized once; nodes absent from the frame get teleport 0, and
    the dangling mass is redistributed by the same vector. Ranks still
    sum to 1 each iteration.

    When ``|V| <= BROADCAST_MAX_NODES`` the per-iteration rank and
    contribution frames are broadcast into their joins: a
    ``localCheckpoint``ed frame carries no size statistics, so Catalyst
    would otherwise plan full shuffle joins for O(|V|)-row relations
    that fit in one broadcast. Above the threshold (the true web-scale
    regime, where |V| itself is distributed-sized) the shuffle path is
    kept: ``trans`` stays cache-partitioned on ``src`` so only the
    O(|V|) ranks frame moves.

    Returns (node, rank) — unnormalized by |V| so scores are the
    stationary probabilities themselves.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0,1), got {damping}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    spark = edges.sparkSession
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e0 = edges.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
        w.alias("w"),
    )
    # multiplicity-sum once so the per-iteration join touches each
    # distinct (src,dst) exactly once, then divide by out-weight ->
    # column-stochastic transition probability p. The aggregated
    # relation feeds FOUR consumers (out-weights, the node set — which
    # is identical whether read off the raw or the aggregated edges —
    # and both sides of the transition join); persisting it means the
    # raw edge relation is scanned ONCE instead of once per consumer
    # (guide §2.4 / §5 — r12: three redundant full scans of the source
    # removed).
    agg = e0.groupBy("src", "dst").agg(F.sum("w").alias("w")).persist()
    out_w = agg.groupBy("src").agg(F.sum("w").alias("out_w"))
    nodes = (
        agg.select(F.col("src").alias("node"))
        .union(agg.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()  # also materializes the persisted node set + agg
    small = n <= BROADCAST_MAX_NODES
    if small:
        # O(|V|) frames are broadcast-sized by definition here; keeping
        # them at shuffle-partition width makes every per-iteration
        # localCheckpoint pay one task per (mostly empty) partition —
        # measured 32 tasks for a 211-row rank frame. One narrow merge
        # fixes the physical shape for the whole iteration loop.
        compact = nodes.coalesce(1).localCheckpoint(eager=True)
        nodes.unpersist(blocking=False)
        nodes = compact
    # dangling node set (no out-edges), computed ONCE: the per-iteration
    # dangling mass is Σ rank_prev over this set, which equals
    # 1 - Σ contrib but reads the already-checkpointed previous ranks
    # instead of forcing the contribution frame into a cache. Most real
    # link graphs synthesized from event/id spaces have NO dangling
    # nodes, and then the term is dropped from the plan entirely.
    dangling = nodes.join(
        out_w.select(F.col("src").alias("node")), "node", "left_anti"
    ).persist()
    has_dangling = dangling.count() > 0
    if not has_dangling:
        dangling.unpersist()
    trans = agg.join(out_w, "src").select(
        "src", "dst", (F.col("w") / F.col("out_w")).alias("p")
    )
    if not small:
        # shuffle regime: pin the O(|E|) side hash-partitioned on src so
        # every iteration's join reuses the cached layout and only the
        # O(|V|) ranks frame moves
        trans = trans.repartition(spark.sparkContext.defaultParallelism, "src")
    else:
        # small regime: a ≤|V|²-row relation in ONE partition. Beyond the
        # task-count saving, SinglePartition satisfies the per-iteration
        # ``groupBy("dst")`` clustering requirement, so the contribution
        # aggregate runs with NO Exchange in the loop at all (guide §2.4:
        # establish the partitioning once, reuse it every pass).
        trans = trans.coalesce(1)
    trans = trans.persist()
    trans.count()
    # the aggregated edge relation was only needed to build out_w /
    # nodes / trans, all materialized by now
    agg.unpersist(blocking=False)
    if personalization is not None:
        # L1-normalize the teleport vector once; pin it onto the node
        # frame so the per-iteration update is a column expression.
        # Normalization runs over GRAPH nodes only (inner join first):
        # personalization rows for nodes absent from the edge set would
        # otherwise absorb teleport/dangling mass and break the
        # ranks-sum-to-1 invariant the docstring promises.
        pv = personalization.select(
            F.col("node").cast("long").alias("node"),
            F.col("weight").cast("double").alias("_w"),
        ).join(nodes, "node")
        total = pv.agg(F.sum("_w").alias("t"))
        pv = pv.crossJoin(F.broadcast(total)).select(
            "node", (F.col("_w") / F.col("t")).alias("pv")
        )
        base = (
            nodes.join(pv, "node", "left")
            .select("node", F.coalesce(F.col("pv"), F.lit(0.0)).alias("pv"))
            .persist()
        )
        base.count()
        nodes.unpersist()
    else:
        base = nodes
    teleport = (1.0 - damping) / n
    ranks = base.select("node", F.lit(1.0 / n).alias("rank"))
    ranks = ranks.localCheckpoint(eager=True)
    try:
        for _ in range(n_iter):
            r_side = F.broadcast(ranks) if small else ranks
            # consumed exactly ONCE (the rank join below) — no persist
            # lifecycle; in the small regime the broadcast-exchange
            # subjob of the single iteration job computes it.
            contrib = (
                trans.join(r_side, trans.src == ranks.node)
                .groupBy("dst")
                .agg(F.sum(F.col("p") * F.col("rank")).alias("c"))
            )
            c_side = F.broadcast(contrib) if small else contrib
            joined = base.join(c_side, base.node == contrib.dst, "left")
            if has_dangling:
                # Σ rank_prev over the dangling set == 1 - Σ contrib
                # (total rank is 1), read from the checkpointed previous
                # ranks — an O(|V|) cached scan, not a recompute of the
                # O(|E|) contribution join.
                d_side = F.broadcast(dangling) if small else dangling
                dang = F.broadcast(
                    ranks.join(d_side, "node").agg(
                        F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
                    )
                )
                joined = joined.crossJoin(dang)
                dm = F.col("_dm")
            else:
                dm = F.lit(0.0)
            if personalization is not None:
                update = F.lit(1.0 - damping) * F.col("pv") + F.lit(damping) * (
                    F.coalesce(F.col("c"), F.lit(0.0)) + dm * F.col("pv")
                )
            else:
                update = F.lit(teleport) + F.lit(damping) * (
                    F.coalesce(F.col("c"), F.lit(0.0)) + dm / F.lit(float(n))
                )
            new_ranks = joined.select("node", update.alias("rank"))
            old = ranks
            ranks = new_ranks.localCheckpoint(eager=True)
            old.unpersist()
    finally:
        trans.unpersist()
        base.unpersist()
        if has_dangling:
            dangling.unpersist()
    return ranks


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    n_iter: int = 20,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg, JACM'99) by power iteration.

    Per iteration: ``authority(v) = Σ_{u->v} w(u,v)·hub(u)`` then
    ``hub(u) = Σ_{u->v} w(u,v)·authority(v)``, each half-step
    L1-normalized (scores sum to 1 — deterministic across engines,
    unlike max-normalization whose argmax can tie). Duplicate edges are
    multiplicity; the aggregated edge relation is persisted once and,
    as in :func:`pagerank`, the O(|V|) score frames broadcast below
    ``BROADCAST_MAX_NODES`` and shuffle above it.

    Returns (node, hub, authority) over the full node set (nodes with
    no out-edges have hub 0; no in-edges, authority 0).
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    spark = edges.sparkSession
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e0 = edges.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
        w.alias("w"),
    )
    # aggregate multiplicities once and derive the node set from the
    # AGGREGATED relation (identical set, one raw-edge scan instead of
    # three — the pagerank r12 fix)
    ew = e0.groupBy("src", "dst").agg(F.sum("w").alias("w")).persist()
    nodes = (
        ew.select(F.col("src").alias("node"))
        .union(ew.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    small = n <= BROADCAST_MAX_NODES
    if small:
        # single-partition O(|V|) frames: per-half-step checkpoints cost
        # one task, and SinglePartition satisfies BOTH alternating
        # groupBy keys (src / dst), so neither half-step shuffles
        # (guide §2.4) — see pagerank for the measured 32-task pathology
        compact = nodes.coalesce(1).localCheckpoint(eager=True)
        nodes.unpersist(blocking=False)
        nodes = compact
    ew_raw = ew
    if not small:
        ew = ew.repartition(spark.sparkContext.defaultParallelism, "src")
    else:
        ew = ew.coalesce(1)
    ew = ew.persist()
    ew.count()
    ew_raw.unpersist(blocking=False)

    def _half(scores: DataFrame, key_in: str, key_out: str, eager: bool):
        """One half-step: propagate `scores` across edges from key_in to
        key_out, L1-normalize. Returns ((node, s) frame, raw cache).
        With ``eager=False`` the result stays a lazy plan over the
        persisted ``raw`` — the following half-step materializes it
        inside its own job, halving the checkpoint-job count per
        iteration (caller unpersists ``raw`` once the consumer ran)."""
        s_side = F.broadcast(scores) if small else scores
        raw = (
            ew.join(s_side, ew[key_in] == scores.node)
            .groupBy(key_out)
            .agg(F.sum(F.col("w") * F.col("s")).alias("raw"))
            .persist()
        )
        tot = F.broadcast(raw.agg(F.sum("raw").alias("_t")))
        out = (
            nodes.join(raw, nodes.node == raw[key_out], "left")
            .crossJoin(tot)
            .select(
                "node",
                F.when(
                    F.col("_t") > 0,
                    F.coalesce(F.col("raw"), F.lit(0.0)) / F.col("_t"),
                )
                .otherwise(F.lit(0.0))
                .alias("s"),
            )
        )
        if eager:
            out = out.localCheckpoint(eager=True)
        return out, raw

    hubs = nodes.select("node", F.lit(1.0 / n).alias("s"))
    hubs = hubs.localCheckpoint(eager=True)
    auths = raw_a_last = None
    try:
        for it in range(n_iter):
            last = it == n_iter - 1
            # auth half-step stays lazy mid-loop: the hub half-step's job
            # materializes it via the persisted raw cache — one
            # checkpoint job per iteration, not two. The FINAL auth is
            # checkpointed for the output join.
            new_auths, raw_a = _half(hubs, "src", "dst", eager=last)
            if last:
                raw_a.unpersist()
                raw_a_last = None
            else:
                raw_a_last = raw_a
            # mid-loop auths is a lazy plan and the final-iteration auth
            # frame is a localCheckpoint whose storage is GC-managed —
            # unpersist is a no-op either way; kept unconditional so the
            # intent (release if ever cached) reads plainly.
            if auths is not None:
                auths.unpersist(blocking=False)
            auths = new_auths
            old_h = hubs
            hubs, raw_h = _half(auths, "dst", "src", eager=True)
            raw_h.unpersist()
            if raw_a_last is not None:
                raw_a_last.unpersist()
            old_h.unpersist()
    finally:
        ew.unpersist()
        nodes.unpersist()
    return (
        hubs.select("node", F.col("s").alias("hub"))
        .join(auths.select("node", F.col("s").alias("authority")), "node")
    )


def _driver_triangle_counts(a, b):
    """Exact per-node triangle counts on the driver — the numpy
    vectorization of the SAME degree-ordered compact-forward algorithm
    :func:`triangle_counts` runs distributed. Every quantity is an
    integer (degrees, orientation comparisons, closing-edge membership,
    counts), so the result is bit-identical to the distributed wedge
    join by construction — counting triangles has exactly one right
    answer per node.

    ``a``/``b`` are the canonical undirected distinct edge arrays
    (int64, a < b). Returns ``(nodes, n_triangles, degree)`` sorted by
    node id, or ``None`` when the wedge volume exceeds the driver
    budget (caller falls back to the distributed join).
    """
    import numpy as np

    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    m = a.shape[0]
    ia, ib = inv[:m], inv[m:]
    n = int(nodes.shape[0])
    deg = np.bincount(ia, minlength=n) + np.bincount(ib, minlength=n)
    # orient u -> v with (deg, id)(u) < (deg, id)(v) — identical total
    # order to the distributed plan
    a_first = (deg[ia] < deg[ib]) | ((deg[ia] == deg[ib]) & (ia < ib))
    u = np.where(a_first, ia, ib)
    v = np.where(a_first, ib, ia)
    outdeg = np.bincount(u, minlength=n)
    indeg = np.bincount(v, minlength=n)
    n_wedges = int((outdeg.astype(np.int64) * indeg.astype(np.int64)).sum())
    if not dispatch.on_driver("triangle_wedges", n_wedges):
        return None
    # oriented-edge membership keys, sorted for binary search
    key_sorted = np.sort(u.astype(np.int64) * n + v)
    # out-edges grouped by source, in-edges grouped by target
    o_order = np.argsort(u, kind="stable")
    v_s = v[o_order]
    i_order = np.argsort(v, kind="stable")
    ui_s, vi_s = u[i_order], v[i_order]
    o_start = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(outdeg, out=o_start[1:])
    tri = np.zeros(n, dtype=np.int64)
    # wedge (x -> y -> z) expansion in bounded chunks over the in-edges:
    # in-edge (x, y) pairs with every out-edge (y, z); chunking keeps
    # peak memory ~6 arrays x chunk wedges
    reps_all = outdeg[vi_s].astype(np.int64)
    cum = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(reps_all, out=cum[1:])
    chunk = 5_000_000
    lo = 0
    while lo < m:
        hi = int(np.searchsorted(cum, cum[lo] + chunk, side="left"))
        hi = max(hi, lo + 1)
        hi = min(hi, m)
        reps = reps_all[lo:hi]
        total = int(reps.sum())
        if total:
            xs = np.repeat(ui_s[lo:hi], reps)
            base = np.repeat(o_start[vi_s[lo:hi]], reps)
            offs = np.arange(total, dtype=np.int64) - np.repeat(
                cum[lo:hi] - cum[lo], reps
            )
            zs = v_s[base + offs]
            closing = xs.astype(np.int64) * n + zs
            idx = np.searchsorted(key_sorted, closing)
            idx[idx >= key_sorted.shape[0]] = key_sorted.shape[0] - 1
            hit = key_sorted[idx] == closing
            if hit.any():
                ys = np.repeat(vi_s[lo:hi], reps)
                tri += np.bincount(xs[hit], minlength=n)
                tri += np.bincount(ys[hit], minlength=n)
                tri += np.bincount(zs[hit], minlength=n)
        lo = hi
    return nodes, tri, deg.astype(np.int64)


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    materialize: bool = True,
    include_degree: bool = False,
) -> DataFrame:
    """Per-node triangle counts via the DEGREE-ORDERED wedge join (the
    compact-forward algorithm of Schank & Wagner, "Finding, Counting
    and Listing All Triangles in Large Graphs", WEA 2005; distributed
    as in Suri & Vassilvitskii, WWW'11).

    Edges are canonicalized to an undirected distinct set (direction,
    multiplicity, and self-loops dropped), then ORIENTED from the
    lower-degree endpoint to the higher-degree endpoint (tie broken
    toward the lower id). Under that total order each triangle
    ``u ≺ v ≺ w`` has oriented edges ``u→v, u→w, v→w`` and is found
    exactly once by joining the wedge ``(u→v, u→w)`` with ``v ≺ w``
    against the closing edge ``v→w``. Degree orientation — not id
    orientation — is what bounds the wedge relation at O(m^1.5) on ANY
    graph (the Suri-Vassilvitskii bound): every node's oriented
    out-degree is at most O(√m), so a power-law hub's wedge fan-out
    collapses regardless of the ids it happens to carry. Per-node
    triangle counts are orientation-invariant, so results are identical
    to any other exact method. Everything is equi-joins + integer
    counts: exact and engine-portable.

    With ``materialize=True`` (default) the O(|V|)-row result is
    ``localCheckpoint``ed and the persisted oriented-edge relation is
    unpersisted before returning — no cached relation outlives the
    call. ``materialize=False`` returns the lazy plan (caller manages
    the persisted edge lifetime; used by plan-shape tests).

    Returns (node, n_triangles) for every node of the edge set
    (0 for triangle-free nodes).
    """
    if include_degree and not materialize:
        # validate BEFORE any persist — raising later would leak the
        # cached und/ori frames on the error path
        raise ValueError("include_degree requires materialize=True")
    e0 = edges.select(
        F.least(F.col(src).cast("long"), F.col(dst).cast("long")).alias("a"),
        F.greatest(F.col(src).cast("long"), F.col(dst).cast("long")).alias("b"),
    ).where(F.col("a") != F.col("b"))
    # und feeds FIVE subtrees below (degree union x2 per side of the
    # orientation join, plus the join input) — without the persist each
    # one re-scans the raw edges and re-runs the distinct exchange.
    und = e0.distinct().persist()
    a = dispatch.fetch("triangles", und) if materialize else None
    if a is not None:
        # one bounded Arrow fetch (it also fills und's cache) replaces the
        # degree join + wedge join + count aggregate + node outer-join
        # (4 shuffles and ~8 jobs), and the integer kernel is bit-identical
        # by construction. Falls through to the distributed join when the
        # wedge volume exceeds the driver budget.
        res = _driver_triangle_counts(a["a"].astype("int64"), a["b"].astype("int64"))
        if res is not None:
            und.unpersist()
            spark = edges.sparkSession
            nodes_np, tri_np, deg_np = res
            if include_degree:
                return _local_df(
                    spark,
                    [
                        (int(nd), int(t), int(d))
                        for nd, t, d in zip(nodes_np, tri_np, deg_np)
                    ],
                    "node long, n_triangles long, degree long",
                )
            return _local_df(
                spark,
                [(int(nd), int(t)) for nd, t in zip(nodes_np, tri_np)],
                "node long, n_triangles long",
            )
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    j = (
        und.join(deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # oriented edge u -> v with (deg,id)(u) < (deg,id)(v): the
    # orientation is a DAG under this total order, so a two-edge PATH
    # x -> y -> z automatically has x ≺ y ≺ z — wedges join on the
    # MIDDLE vertex with no ordering filter and no doubled pair
    # expansion (half the intermediate of the pairs-at-lowest-vertex
    # formulation on dense graphs, same O(m^1.5) bound: the path count
    # Σ_v indeg(v)·outdeg(v) is capped by the O(√m) oriented
    # out-degree every vertex has under degree ordering).
    ori = j.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).persist()
    ori.count()
    if not include_degree:
        und.unpersist()
    e1 = ori.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = ori.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = ori.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = (
        ori.select(F.col("u").alias("node"))
        .union(ori.select(F.col("v").alias("node")))
        .distinct()
    )
    out = nodes.join(per_node, "node", "left").select(
        "node", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )
    if include_degree:
        # the SAME deg frame the orientation already computed (one more
        # scan of the persisted und cache — no new distinct exchange);
        # the materialize precondition was validated at entry
        out = out.join(
            deg.select("node", F.col("d").cast("long").alias("degree")), "node"
        )
    if materialize:
        out = out.localCheckpoint(eager=True)
        ori.unpersist()
        if include_degree:
            und.unpersist()
    return out


def _driver_k_core(a, b, k, max_iter):
    """Numpy peel to the k-core fixed point — the fixed point is unique
    (Seidman 1983), so peel order is irrelevant and the result is
    bit-identical to the distributed loop. ``a``/``b``: canonical
    undirected distinct edges. Returns sorted (node, degree) rows.

    The synchronous peel rounds here are one-to-one with the
    distributed loop's rounds (both drop ALL degree<k nodes per round),
    so the ``max_iter`` exhaustion contract carries over exactly: raise
    rather than return degree<k nodes as core members."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    m = a.shape[0]
    ia, ib = inv[:m], inv[m:]
    n = int(nodes.shape[0])
    alive_n = np.ones(n, dtype=bool)
    rounds = 0
    while True:
        rounds += 1
        if rounds > max_iter:
            raise RuntimeError(
                f"k_core did not reach a fixed point in {max_iter} rounds "
                f"({int(alive_n.sum())} survivors); raise max_iter"
            )
        alive_e = alive_n[ia] & alive_n[ib]
        deg = np.bincount(ia[alive_e], minlength=n) + np.bincount(
            ib[alive_e], minlength=n
        )
        keep = alive_n & (deg >= k)
        if int(keep.sum()) == int(alive_n.sum()):
            break
        alive_n = keep
    idx = np.nonzero(alive_n)[0]
    return [(int(nodes[i]), int(deg[i])) for i in idx]


def _driver_bfs(u, v, sources, max_depth):
    """Numpy level-synchronous BFS — hop distances are a unique fixed
    point, bit-identical to the distributed frontier loop. ``u``/``v``:
    deduplicated (already symmetrized iff undirected) directed edge
    arrays. Returns (node, dist) rows sorted by node."""
    import numpy as np

    src_arr = np.asarray(sorted(set(int(s) for s in sources)), dtype=np.int64)
    nodes = np.unique(np.concatenate([u, v, src_arr]))
    iu = np.searchsorted(nodes, u)
    iv = np.searchsorted(nodes, v)
    n = int(nodes.shape[0])
    order = np.argsort(iu, kind="stable")
    iv_s = iv[order]
    outdeg = np.bincount(iu, minlength=n)
    start = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(outdeg, out=start[1:])
    dist = np.full(n, -1, dtype=np.int64)
    frontier = np.searchsorted(nodes, src_arr)
    dist[frontier] = 0
    for d in range(1, max_depth + 1):
        if frontier.size == 0:
            break
        reps = outdeg[frontier]
        base = np.repeat(start[frontier], reps)
        offs = np.arange(int(reps.sum()), dtype=np.int64) - np.repeat(
            np.cumsum(reps) - reps, reps
        )
        nbrs = np.unique(iv_s[base + offs]) if reps.sum() else np.empty(0, np.int64)
        new = nbrs[dist[nbrs] < 0]
        if new.size == 0:
            break
        dist[new] = d
        frontier = new
    idx = np.nonzero(dist >= 0)[0]
    return [(int(nodes[i]), int(dist[i])) for i in idx]


def _driver_label_propagation(a, b, w, n_iter):
    """Numpy replay of the deterministic SYNCHRONOUS label-propagation
    rule: per iteration every node adopts the neighbor label with the
    highest multiplicity-weighted vote, ties to the SMALLEST label —
    all exact integer votes, so the replica is bit-identical to the
    distributed joins. ``a``/``b``/``w``: the operator's already
    symmetrized, multiplicity-aggregated unique edge relation. Returns
    (node, label) rows sorted by node."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    half = a.shape[0]
    ea, eb = inv[:half].astype(np.int64), inv[half:].astype(np.int64)
    n = int(nodes.shape[0])
    w = np.asarray(w, dtype=np.int64)
    lab = np.arange(n, dtype=np.int64)
    for _ in range(n_iter):
        vkey = ea * n + lab[eb]
        uvk, vinv = np.unique(vkey, return_inverse=True)
        # integer accumulation (np.add.at), NOT bincount's float64
        # weights: vote sums above 2^53 would round in the float path,
        # silently weakening the bit-identical contract with the
        # distributed integer F.sum(w) — exact by construction instead
        cnt = np.zeros(uvk.shape[0], dtype=np.int64)
        np.add.at(cnt, vinv, w)
        va = (uvk // n).astype(np.int64)
        vl = (uvk % n).astype(np.int64)
        order = np.lexsort((vl, -cnt, va))
        va_s = va[order]
        first = np.ones(va_s.shape[0], dtype=bool)
        first[1:] = va_s[1:] != va_s[:-1]
        new_lab = lab.copy()
        new_lab[va_s[first]] = vl[order][first]
        lab = new_lab
    return [(int(nodes[i]), int(nodes[lab[i]])) for i in range(n)]


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan,
    Albert & Kumara, "Near linear time algorithm to detect community
    structures in large-scale networks", Phys. Rev. E 76, 2007),
    deterministic variant: every node starts labeled with its own id;
    each iteration relabels every node with the label carried by the
    most of its neighbors (edge multiplicity = weight), breaking ties
    toward the SMALLEST label. Synchronous updates + ordered tie-break
    make the result partition-layout-independent and exactly
    replayable, unlike the randomized asynchronous original.

    Each iteration is one join (undirected edge relation x labels) +
    one (node, label) count + one per-node argmax via a single max() of
    a (count, -label) struct — all exact integer aggregation, no window
    sort. Runs a FIXED n_iter (same rationale as :func:`pagerank`).
    Returns (node, label); connected communities share a label (the
    smallest id that won the local votes).
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    spark = edges.sparkSession
    e0 = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).where(F.col("a") != F.col("b"))
    und = e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
    und = und.groupBy("a", "b").agg(F.count(F.lit(1)).alias("w")).persist()
    a = dispatch.fetch("graph", und)
    if a is not None:
        # driver below the bound: one Arrow fetch of the aggregated
        # relation replaces n_iter x (join + two aggregates +
        # localCheckpoint); the all-integer synchronous vote rule is
        # replayed exactly, so output is bit-identical at any layout
        und.unpersist()
        return _local_df(
            spark,
            _driver_label_propagation(
                a["a"].astype("int64"),
                a["b"].astype("int64"),
                a["w"].astype("int64"),
                n_iter,
            ),
            "node long, label long",
        )
    und2 = und.repartition(spark.sparkContext.defaultParallelism, "a").persist()
    und2.count()
    und.unpersist(blocking=False)
    und = und2
    nodes = und.select(F.col("a").alias("node")).distinct().persist()
    nodes.count()
    labels = nodes.select("node", F.col("node").alias("label"))
    labels = labels.localCheckpoint(eager=True)
    try:
        for _ in range(n_iter):
            votes = (
                und.join(labels, und.b == labels.node)
                .groupBy("a", "label")
                .agg(F.sum("w").alias("cnt"))
            )
            # argmax by (cnt desc, label asc): max of (cnt, -label)
            new_labels = (
                votes.groupBy("a")
                .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("m"))
                .select(F.col("a").alias("node"), (-F.col("m.nl")).alias("label"))
            )
            old = labels
            labels = new_labels.localCheckpoint(eager=True)
            old.unpersist()
    finally:
        und.unpersist()
        nodes.unpersist()
    return labels


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph in which
    every node has degree >= k (Seidman, "Network structure and minimum
    degree", Social Networks 5, 1983) — the standard coreness filter
    for spam/boilerplate link farms and community scaffolds.

    Iterative peeling as a DataFrame loop: drop nodes with in-core
    degree < k, recompute degrees over surviving edges, repeat to the
    fixed point. Each round is two semi-joins (edge endpoints against
    the survivor set) + one count aggregation; the survivor frame is
    localCheckpointed (lineage truncation) and the only driver traffic
    is the one survivor-count scalar that detects convergence — a
    loop-until-fixed-point needs SOME convergence signal, and one LONG
    per round is the minimum.

    Scale regime (same switch as :func:`pagerank`): when the initial
    node count is <= ``BROADCAST_MAX_NODES`` the survivor set is
    broadcast into BOTH semi-joins — a localCheckpointed frame carries
    no size statistics, so Catalyst would otherwise shuffle the full
    O(|E|) edge relation every peel round (and degeneracy-order peeling
    can need hundreds of rounds on real web graphs). Above the
    threshold the edge relation is pinned hash-partitioned on ``a`` so
    the a-side semi-join reuses the cached layout every round and only
    the O(|V|) survivor frame moves; the b-side semi-join then shuffles
    only the (shrinking) surviving-edge relation.

    Raises ``RuntimeError`` if ``max_iter`` rounds pass without
    reaching the fixed point — a silent truncation would return nodes
    with degree < k as core members (mirrors connected_components'
    non-convergence contract). The fixed point itself is unique (the
    k-core is), so results are deterministic and exactly replayable by
    the peeling replica in the oracle.

    Returns (node, degree) for k-core members with their in-core
    degree, localCheckpointed — no cached relation outlives the call.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = edges.sparkSession
    e0 = edges.select(
        F.least(F.col(src).cast("long"), F.col(dst).cast("long")).alias("a"),
        F.greatest(F.col(src).cast("long"), F.col(dst).cast("long")).alias("b"),
    ).where(F.col("a") != F.col("b"))
    base = e0.distinct().persist()
    a = dispatch.fetch("graph", base)
    if a is not None:
        # driver below the bound: the k-core fixed point is UNIQUE, so
        # the numpy peel is bit-identical to the distributed loop and
        # replaces per-round (2 semi-joins + degree aggregate +
        # localCheckpoint + convergence count) with one Arrow fetch
        base.unpersist()
        return _local_df(
            spark,
            _driver_k_core(
                a["a"].astype("int64"),
                a["b"].astype("int64"),
                k,
                max_iter,
            ),
            "node long, degree long",
        )
    und = base
    alive = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_alive = alive.count()
    small = n_alive <= BROADCAST_MAX_NODES
    if not small:
        und = base.repartition(spark.sparkContext.defaultParallelism, "a").persist()
        und.count()
        base.unpersist(blocking=False)

    def _live(survivors: DataFrame) -> DataFrame:
        a_side = survivors.select(F.col("node").alias("a"))
        b_side = survivors.select(F.col("node").alias("b"))
        if small:
            a_side, b_side = F.broadcast(a_side), F.broadcast(b_side)
        return und.join(a_side, "a", "left_semi").join(b_side, "b", "left_semi")

    def _degrees(survivors: DataFrame) -> DataFrame:
        live = _live(survivors)
        return (
            live.select(F.col("a").alias("node"))
            .union(live.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    converged = False
    try:
        for _ in range(max_iter):
            deg = _degrees(alive).where(F.col("degree") >= k)
            new_alive = deg.select("node").localCheckpoint(eager=True)
            n_new = new_alive.count()
            old = alive
            alive = new_alive
            old.unpersist()
            if n_new == n_alive:
                converged = True
                break
            n_alive = n_new
        if not converged:
            raise RuntimeError(
                f"k_core did not reach a fixed point in {max_iter} rounds "
                f"({n_alive} survivors); raise max_iter"
            )
        # final degrees over the fixed-point survivor set, materialized
        # BEFORE the finally-block unpersist so the two semi-joins read
        # the cached edges (a lazy return would rescan raw input).
        return _degrees(alive).localCheckpoint(eager=True)
    finally:
        und.unpersist()


def bfs_distances(
    edges: DataFrame,
    sources: list,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 20,
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS hop distances — the traversal primitive under
    k-hop neighborhoods, crawl-frontier expansion, and "distance from
    seed set" quality signals (e.g. distance-from-trusted-hosts spam
    scoring on web graphs).

    Frontier expansion as a DataFrame loop: round d joins the frontier
    against the (deduplicated, optionally symmetrized) edge relation,
    anti-joins nodes already reached, and labels the new nodes with
    distance ``d``. Each reached node's distance is its true shortest
    hop count — unique fixed point, deterministic on any layout, so a
    dense Python replica replays it for the oracle. Unreached nodes and
    depths beyond ``max_depth`` are absent from the output (the k-hop
    contract: ``max_depth`` bounds the neighborhood radius, it is not a
    convergence failure — the loop exits early when a frontier empties).

    Scale regime (the :func:`pagerank` / :func:`k_core` switch): below
    ``BROADCAST_MAX_NODES`` nodes, the O(frontier) and O(reached)
    frames ride broadcast joins against the edge scan — one job per
    round, the O(|E|) side never shuffles; above it, the edge relation
    is persisted hash-partitioned on the source endpoint so every
    round's frontier join reuses the cached layout and only the O(|V|)
    frames move. Frontiers are localCheckpointed per round (lineage
    truncation, as every iterative loop in this module). The one driver
    scalar per round is the frontier count — the minimal convergence
    signal.

    Returns (node, dist) for every node within ``max_depth`` hops of
    any source (sources themselves at dist 0).
    """
    if max_depth < 0:
        raise ValueError("max_depth must be >= 0")
    if not sources:
        raise ValueError("sources must be non-empty")
    spark = edges.sparkSession
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).where(F.col("u") != F.col("v"))
    if not directed:
        e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # persist the deduplicated relation BEFORE the fetch so the O(|E|)
    # union+distinct shuffle runs once; the large regime derives its
    # repartitioned copy from the cache the fetch filled
    und = e.distinct().persist()
    a = dispatch.fetch("graph", und)
    if a is not None:
        # driver below the bound: hop distances are a unique fixed
        # point, so the numpy level-synchronous BFS is bit-identical
        # and replaces up to max_depth x (frontier join + anti-join +
        # two localCheckpoints) with one Arrow fetch
        und.unpersist()
        return _local_df(
            spark,
            _driver_bfs(
                a["u"].astype("int64"),
                a["v"].astype("int64"),
                sources,
                max_depth,
            ),
            "node long, dist int",
        )
    nodes = und.select(F.col("u").alias("node")).distinct()
    n = nodes.count()
    small = n <= BROADCAST_MAX_NODES
    if not small:
        und2 = und.repartition(spark.sparkContext.defaultParallelism, "u").persist()
        und2.count()
        und.unpersist(blocking=False)
        und = und2
    try:
        frontier = (
            _local_df(spark, 
                [(int(s),) for s in sorted(set(sources))], "node long"
            )
            .withColumn("dist", F.lit(0))
            .localCheckpoint(eager=True)
        )
        reached = frontier
        for d in range(1, max_depth + 1):
            f = F.broadcast(frontier) if small else frontier
            r = F.broadcast(reached) if small else reached
            nbrs = (
                und.join(f.select(F.col("node").alias("u")), "u")
                .select(F.col("v").alias("node"))
                .distinct()
            )
            new = (
                nbrs.join(r, "node", "left_anti")
                .withColumn("dist", F.lit(d))
                .localCheckpoint(eager=True)
            )
            if new.count() == 0:
                break
            reached = reached.union(new).localCheckpoint(eager=True)
            frontier = new
        return reached
    finally:
        und.unpersist(blocking=False)


def _edge_relation_and_nodes(
    edges: DataFrame,
    src: str,
    dst: str,
    directed: bool,
):
    """Shared pivot-centrality setup: self-loop-free, optionally
    symmetrized, DISTINCT edge relation (u, v) plus the node frame,
    both persisted (caller unpersists), with the small/shuffle regime
    flag; above ``BROADCAST_MAX_NODES`` the relation is re-persisted
    hash-partitioned on u (the :func:`pagerank` regime switch).
    Returns (rel, nodes, n, small)."""
    spark = edges.sparkSession
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).where(F.col("u") != F.col("v"))
    if not directed:
        e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    rel = e.distinct().persist()
    nodes = (
        rel.select(F.col("u").alias("node"))
        .union(rel.select(F.col("v").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    small = n <= BROADCAST_MAX_NODES
    if not small:
        rel2 = rel.repartition(
            spark.sparkContext.defaultParallelism, "u"
        ).persist()
        rel2.count()
        rel.unpersist(blocking=False)
        rel = rel2
    return rel, nodes, n, small


def _content_pivots(nodes: DataFrame, k: int, tag: str) -> list[int]:
    """k pivot node ids, content-addressed: the k smallest tagged
    xxhash64 values (ties on id). Layout-free, replayable by the
    engine-independent hash replica, and independent of graph structure
    — so unbiased like a uniform draw. One bounded TakeOrdered."""
    h = F.xxhash64(F.concat(F.col("node").cast("string"), F.lit(tag)))
    return dispatch.arrays(nodes.orderBy(h, "node").select("node").limit(k))["node"].tolist()


def betweenness_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_pivots: int = 8,
    directed: bool = False,
    max_depth: int = 32,
    scale: bool = True,
) -> DataFrame:
    """Pivot-sampled betweenness centrality — Brandes' dependency
    accumulation (Brandes, J. Math. Sociol. 2001) from ``n_pivots``
    sources, the Brandes-Pich (2007) estimator: compute
    ``δ_s(v) = Σ_{t} σ_st(v)/σ_st`` exactly for each sampled source s
    and report ``(n/k)·Σ_s δ_s(v)`` (``scale=False`` for the raw
    dependency sum). Exact all-pairs betweenness is O(|V|·|E|) — never
    a 100 TB plan; pivot sampling is the published scale path.

    Pivots are CONTENT-ADDRESSED (k smallest xxhash64 of the node id
    under a fixed tag): deterministic on any layout, replayable by the
    engine-independent hash replica, and unbiased exactly like a
    uniform draw because the hash order is independent of graph
    structure.

    Scale shape: all pivots advance in ONE frontier frame keyed
    (pivot, node) — the forward BFS costs O(diameter) jobs TOTAL, not
    O(k·diameter); each level is one join + one (pivot,node) hash
    aggregate sumimg path counts σ (integers — exact). The backward
    sweep replays the levels deepest-first: one join of level d against
    the (broadcast) level-d+1 dependency frame per depth, again all
    pivots at once. Per-level frames are localCheckpointed (lineage
    truncation); below ``BROADCAST_MAX_NODES`` nodes the O(k·|V|)
    frontier/dependency frames broadcast against the cached edge scan,
    above it the edge relation is persisted hash-partitioned on the
    source endpoint (the :func:`pagerank` regime switch).

    Returns (node, betweenness) over the full node set (nodes on no
    sampled shortest path score 0; pivot self-dependencies excluded per
    Brandes). δ sums are doubles — round before hashing across engines.
    """
    if n_pivots < 1:
        raise ValueError(f"n_pivots must be >= 1, got {n_pivots}")
    if max_depth < 1:
        raise ValueError(f"max_depth must be >= 1, got {max_depth}")
    spark = edges.sparkSession
    rel, nodes, n, small = _edge_relation_and_nodes(edges, src, dst, directed)
    if n == 0:  # no edges survive the self-loop filter
        rel.unpersist(blocking=False)
        nodes.unpersist(blocking=False)
        return nodes.select("node", F.lit(0.0).alias("betweenness"))
    k = min(int(n_pivots), n)
    pivots = _content_pivots(nodes, k, "#bcpivot")
    levels = [
        _local_df(spark, 
            [(p, p, 1) for p in pivots], "pivot long, node long, sigma long"
        ).localCheckpoint(eager=True)
    ]
    visited = levels[0]
    try:
        for _d in range(1, max_depth + 1):
            f = F.broadcast(levels[-1]) if small else levels[-1]
            vis = F.broadcast(visited) if small else visited
            new = (
                rel.join(f.withColumnRenamed("node", "u"), "u")
                .select("pivot", F.col("v").alias("node"), "sigma")
                .join(vis.select("pivot", "node"), ["pivot", "node"], "left_anti")
                .groupBy("pivot", "node")
                .agg(F.sum("sigma").alias("sigma"))
                .localCheckpoint(eager=True)
            )
            if new.count() == 0:
                break
            levels.append(new)
            visited = visited.union(new).localCheckpoint(eager=True)
        else:
            # the loop ran out with a non-empty frontier. That alone
            # does NOT mean truncation (the graph may be explored at
            # exactly max_depth), so probe ONE more expansion — only in
            # this rare exhausted case — and warn only if unvisited
            # nodes remain: their dependency mass is dropped, silently
            # underestimating centrality vs an unbounded BFS.
            probe = (
                rel.join(levels[-1].withColumnRenamed("node", "u"), "u")
                .select("pivot", F.col("v").alias("node"))
                .join(
                    visited.select("pivot", "node"),
                    ["pivot", "node"],
                    "left_anti",
                )
            )
            if probe.limit(1).count() > 0:
                warnings.warn(
                    f"betweenness_centrality: BFS truncated at max_depth="
                    f"{max_depth} with unvisited nodes remaining — graph "
                    f"diameter exceeds max_depth; centrality is "
                    f"underestimated. Raise max_depth.",
                    RuntimeWarning,
                    stacklevel=2,
                )
        # backward dependency accumulation, deepest level first
        deltas = levels[-1].withColumn("delta", F.lit(0.0)).localCheckpoint(
            eager=True
        )
        acc = None  # union of per-level delta frames, depth >= 1
        for d in range(len(levels) - 1, 0, -1):
            acc = deltas if acc is None else acc.union(deltas)
            if d == 1:
                break
            w_side = F.broadcast(deltas) if small else deltas
            lvl = levels[d - 1]
            contrib = (
                lvl.withColumnRenamed("node", "u")
                .withColumnRenamed("sigma", "_sv")
                .join(rel, "u")
                .join(
                    w_side.select(
                        "pivot",
                        F.col("node").alias("v"),
                        F.col("sigma").alias("_sw"),
                        F.col("delta").alias("_dw"),
                    ),
                    ["pivot", "v"],
                )
                .groupBy("pivot", F.col("u").alias("node"))
                .agg(
                    F.sum(
                        F.col("_sv").cast("double")
                        / F.col("_sw").cast("double")
                        * (F.lit(1.0) + F.col("_dw"))
                    ).alias("_c")
                )
            )
            c_side = F.broadcast(contrib) if small else contrib
            deltas = (
                lvl.join(c_side, ["pivot", "node"], "left")
                .select(
                    "pivot",
                    "node",
                    "sigma",
                    F.coalesce(F.col("_c"), F.lit(0.0)).alias("delta"),
                )
                .localCheckpoint(eager=True)
            )
        factor = (float(n) / float(k)) if scale else 1.0
        if acc is None:  # no node beyond the pivots themselves
            return nodes.select("node", F.lit(0.0).alias("betweenness"))
        per_node = acc.groupBy("node").agg(
            (F.sum("delta") * F.lit(factor)).alias("betweenness")
        )
        return nodes.join(per_node, "node", "left").select(
            "node",
            F.coalesce(F.col("betweenness"), F.lit(0.0)).alias("betweenness"),
        )
    finally:
        rel.unpersist(blocking=False)
        nodes.unpersist(blocking=False)


def harmonic_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_pivots: int = 8,
    directed: bool = False,
    max_depth: int = 32,
    scale: bool = True,
) -> DataFrame:
    """Pivot-sampled harmonic centrality ``hc(v) = Σ_s 1/d(s,v)`` —
    THE published web-graph quality signal (the public CommonCrawl
    host ranking ships harmonic centrality next to PageRank; Boldi &
    Vigna, "Axioms for Centrality", 2014, argue it is the only
    axiom-clean closeness variant on disconnected graphs: unreachable
    pairs contribute 0 instead of poisoning the mean).

    Exact harmonic centrality needs all-pairs distances; the scale
    path is pivot sampling (Eppstein-Wang style): ``n_pivots``
    content-addressed sources (k smallest tagged xxhash64 — layout-
    free, hash-replica auditable), ONE batched BFS keyed
    (pivot, node) — O(diameter) jobs total regardless of k — then
    ``(n/k)·Σ 1/d`` per node (``scale=False`` for the raw sum). For
    the incoming-distance variant on directed graphs (the crawl-rank
    convention), pass the edge frame reversed.

    Returns (node, harmonic) over the full node set.
    """
    if n_pivots < 1:
        raise ValueError(f"n_pivots must be >= 1, got {n_pivots}")
    if max_depth < 1:
        raise ValueError(f"max_depth must be >= 1, got {max_depth}")
    spark = edges.sparkSession
    rel, nodes, n, small = _edge_relation_and_nodes(edges, src, dst, directed)
    if n == 0:  # no edges survive the self-loop filter
        rel.unpersist(blocking=False)
        nodes.unpersist(blocking=False)
        return nodes.select("node", F.lit(0.0).alias("harmonic"))
    k = min(int(n_pivots), n)
    pivots = _content_pivots(nodes, k, "#hcpivot")
    try:
        frontier = _local_df(spark, 
            [(p, p) for p in pivots], "pivot long, node long"
        ).localCheckpoint(eager=True)
        visited = frontier
        # accumulate Σ 1/d map-side as the levels stream out: the
        # per-depth contribution of a (pivot, node) row is the literal
        # 1/d — no per-pair state beyond the visited frame
        acc = None
        for d in range(1, max_depth + 1):
            f = F.broadcast(frontier) if small else frontier
            vis = F.broadcast(visited) if small else visited
            new = (
                rel.join(f.withColumnRenamed("node", "u"), "u")
                .select("pivot", F.col("v").alias("node"))
                .distinct()
                .join(vis, ["pivot", "node"], "left_anti")
                .localCheckpoint(eager=True)
            )
            if new.count() == 0:
                break
            hop = new.select("node", F.lit(1.0 / float(d)).alias("inv_d"))
            acc = hop if acc is None else acc.union(hop)
            visited = visited.union(new).localCheckpoint(eager=True)
            frontier = new
        else:
            # probe one more expansion; warn only if unvisited nodes
            # remain (see betweenness_centrality)
            probe = (
                rel.join(frontier.withColumnRenamed("node", "u"), "u")
                .select("pivot", F.col("v").alias("node"))
                .distinct()
                .join(visited, ["pivot", "node"], "left_anti")
            )
            if probe.limit(1).count() > 0:
                warnings.warn(
                    f"harmonic_centrality: BFS truncated at max_depth="
                    f"{max_depth} with unvisited nodes remaining — graph "
                    f"diameter exceeds max_depth; centrality is "
                    f"underestimated. Raise max_depth.",
                    RuntimeWarning,
                    stacklevel=2,
                )
        factor = (float(n) / float(k)) if scale else 1.0
        if acc is None:
            return nodes.select("node", F.lit(0.0).alias("harmonic"))
        per = acc.groupBy("node").agg(
            (F.sum("inv_d") * F.lit(factor)).alias("harmonic")
        )
        return nodes.join(per, "node", "left").select(
            "node", F.coalesce(F.col("harmonic"), F.lit(0.0)).alias("harmonic")
        )
    finally:
        rel.unpersist(blocking=False)
        nodes.unpersist(blocking=False)


def clustering_coefficients(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node local clustering coefficient (Watts & Strogatz 1998):
    ``cc(v) = 2·T(v) / (d(v)·(d(v)−1))`` over the canonical undirected
    distinct edge set — T from the degree-ordered wedge join
    (:func:`triangle_counts`, the O(m^1.5) plan), d one hash aggregate.
    Both inputs are integers, so the coefficient is one double division
    of exact integers — bit-reproducible across engines. Nodes of
    degree < 2 score 0.

    Returns (node, degree, n_triangles, clustering_coeff).
    """
    # include_degree reuses the degree aggregate triangle_counts already
    # computes for its orientation — NO second distinct exchange (a
    # standalone degree recompute measured slope 4.99 at x8; this form
    # adds one scan of the already-persisted canonical edge cache)
    tri = triangle_counts(edges, src=src, dst=dst, include_degree=True)
    return tri.select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            (F.lit(2.0) * F.col("n_triangles"))
            / (F.col("degree").cast("double") * (F.col("degree") - F.lit(1))),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman, PRL 2002): the Pearson
    correlation of endpoint degrees over the symmetrized undirected
    distinct edge set — positive on social-style graphs (hubs link
    hubs), negative on web/biological ones. The single most-quoted
    scalar for "does this crawl graph look organic or synthetic".

    Every moment is an INTEGER sum (degrees are counts) aggregated as
    BIGINT — exact at any scale — and the final coefficient is a
    handful of scalar double ops on those integers, so the result is
    bit-reproducible across engines. Degenerate variance (regular
    graph) yields NULL.

    Returns one row (n_nodes, n_edges, assortativity).
    """
    spark = edges.sparkSession
    e0 = edges.select(
        F.least(F.col(src).cast("long"), F.col(dst).cast("long")).alias("a"),
        F.greatest(F.col(src).cast("long"), F.col(dst).cast("long")).alias("b"),
    ).where(F.col("a") != F.col("b"))
    und = e0.distinct().persist()
    try:
        deg = (
            und.select(F.col("a").alias("node"))
            .union(und.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
            .persist()
        )
        n_nodes = deg.count()
        paired = und.join(
            deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a"
        ).join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
        row = paired.agg(
            F.count(F.lit(1)).alias("m"),
            F.sum(F.col("da") * F.col("db")).alias("sxy"),
            F.sum(F.col("da") + F.col("db")).alias("sx"),
            F.sum(
                F.col("da") * F.col("da") + F.col("db") * F.col("db")
            ).alias("sxx"),
        ).first()
        deg.unpersist(blocking=False)
    finally:
        und.unpersist(blocking=False)
    m = int(row["m"])
    if m == 0:
        return _local_df(spark, 
            [(0, 0, None)], "n_nodes long, n_edges long, assortativity double"
        )
    # symmetrized moments: Σ over both edge directions == 2·sxy over
    # 2·m samples. The sums are exact BIGINTs; the finalize is a
    # handful of scalar IEEE ops — identical on any engine, so the
    # driver is the honest place for it (one bounded row).
    two_m = 2.0 * float(m)
    mean = float(row["sx"]) / two_m
    num = float(row["sxy"]) * 2.0 / two_m - mean * mean
    den = float(row["sxx"]) / two_m - mean * mean
    r = (num / den) if den != 0.0 else None
    return _local_df(spark, 
        [(int(n_nodes), m, r)],
        "n_nodes long, n_edges long, assortativity double",
    )
