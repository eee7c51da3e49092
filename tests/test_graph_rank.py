"""PageRank (operators/graph.py) and edit-distance similarity join
(operators/editsim.py) — graph-rank + PassJoin blocking, both validated
against dense/brute-force replicas."""

import numpy as np
import pytest

from deeptime_spark.operators.editsim import edit_distance_pairs
from deeptime_spark.operators.graph import pagerank


def _dense_pagerank(edges, weights=None, damping=0.85, n_iter=20):
    """Driver-side dense replica of the documented semantics."""
    w = {}
    nodes = set()
    for k, (s, d) in enumerate(edges):
        nodes.add(s)
        nodes.add(d)
        w[(s, d)] = w.get((s, d), 0.0) + (1.0 if weights is None else weights[k])
    nodes = sorted(nodes)
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    for (s, d), ww in w.items():
        M[idx[s], idx[d]] = ww
    out = M.sum(axis=1)
    P = np.divide(M, out[:, None], out=np.zeros_like(M), where=out[:, None] > 0)
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        c = P.T @ r
        dangling = max(0.0, 1.0 - float(c.sum()))
        r = (1.0 - damping) / n + damping * (c + dangling / n)
    return {v: r[idx[v]] for v in nodes}


def _levenshtein(a, b):
    m, n = len(a), len(b)
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        for j in range(1, n + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (a[i - 1] != b[j - 1]),
            )
        prev = cur
    return prev[n]


def test_pagerank_matches_dense_random_graph(spark, rng):
    edges = [(int(rng.integers(0, 25)), int(rng.integers(0, 25))) for _ in range(300)]
    edges = [(s, d) for s, d in edges if s != d]
    expected = _dense_pagerank(edges, n_iter=12)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=12).collect()}
    assert set(got) == set(expected)
    for v, e in expected.items():
        assert got[v] == pytest.approx(e, abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_dangling_and_weights(spark):
    # 0->1->2, 2 dangling; duplicate edge = multiplicity
    edges = [(0, 1), (0, 1), (1, 2)]
    expected = _dense_pagerank(edges, n_iter=8)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=8).collect()}
    for v, e in expected.items():
        assert got[v] == pytest.approx(e, abs=1e-12)

    # explicit weights: (0,1) weight 3 == three duplicate rows
    wdf = spark.createDataFrame(
        [(0, 1, 3.0), (1, 2, 1.0)], "src long, dst long, w double"
    )
    got_w = {
        r["node"]: r["rank"]
        for r in pagerank(wdf, weight_col="w", n_iter=8).collect()
    }
    exp_w = _dense_pagerank([(0, 1), (1, 2)], weights=[3.0, 1.0], n_iter=8)
    for v, e in exp_w.items():
        assert got_w[v] == pytest.approx(e, abs=1e-12)


def test_pagerank_star_graph_analytic(spark):
    # hub 0 <- leaves 1..9; hub dangles back uniformly via dangling mass
    edges = [(i, 0) for i in range(1, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=40).collect()}
    expected = _dense_pagerank(edges, n_iter=40)
    for v, e in expected.items():
        assert got[v] == pytest.approx(e, abs=1e-12)
    assert got[0] > max(got[i] for i in range(1, 10))


def test_pagerank_validates_params(spark):
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(df, damping=1.0)
    with pytest.raises(ValueError):
        pagerank(df, n_iter=0)


def _brute_pairs(strings, tau):
    out = set()
    ids = sorted(strings)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = _levenshtein(strings[a], strings[b])
            if d <= tau:
                out.add((a, b, d))
    return out


def test_edit_pairs_matches_bruteforce_random(spark, rng):
    # random 6-12 char strings over a 4-letter alphabet => dense near-matches
    alpha = "abcd"
    strings = {}
    for i in range(120):
        n = int(rng.integers(6, 13))
        strings[i] = "".join(alpha[int(x)] for x in rng.integers(0, 4, n))
    # collapse duplicates to min id exactly like distinct_texts=True
    seen = {}
    for i in sorted(strings):
        seen.setdefault(strings[i], i)
    uniq = {i: s for s, i in seen.items()}
    expected = _brute_pairs(uniq, 2)
    df = spark.createDataFrame(list(strings.items()), "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in edit_distance_pairs(df, max_distance=2).collect()
    }
    assert got == expected


def test_edit_pairs_short_strings_and_nulls(spark):
    rows = [(1, "ab"), (2, "b"), (3, "abcd"), (4, None), (5, ""), (6, "abcde")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in edit_distance_pairs(df, max_distance=2).collect()
    }
    strings = {1: "ab", 2: "b", 3: "abcd", 4: "", 6: "abcde"}  # 5 dup of "" -> 4
    assert got == _brute_pairs(strings, 2)


def test_edit_pairs_tau1(spark):
    rows = [(1, "kitten"), (2, "sitten"), (3, "sitting"), (4, "kitten!")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in edit_distance_pairs(df, max_distance=1).collect()
    }
    assert got == {(1, 2, 1), (1, 4, 1)}
    with pytest.raises(ValueError):
        edit_distance_pairs(df, max_distance=0)


def _dense_hits(edges, n_iter=20):
    w = {}
    nodes = set()
    for s, d in edges:
        nodes.add(s)
        nodes.add(d)
        w[(s, d)] = w.get((s, d), 0.0) + 1.0
    nodes = sorted(nodes)
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    for (s, d), ww in w.items():
        M[idx[s], idx[d]] = ww
    h = np.full(n, 1.0 / n)
    a = np.zeros(n)
    for _ in range(n_iter):
        a = M.T @ h
        t = a.sum()
        a = a / t if t > 0 else a * 0.0
        h = M @ a
        t = h.sum()
        h = h / t if t > 0 else h * 0.0
    return {v: (h[idx[v]], a[idx[v]]) for v in nodes}


def test_hits_matches_dense_random_graph(spark, rng):
    edges = [(int(rng.integers(0, 20)), int(rng.integers(0, 20))) for _ in range(150)]
    edges = [(s, d) for s, d in edges if s != d]
    expected = _dense_hits(edges, n_iter=10)
    from deeptime_spark.operators.graph import hits

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(df, n_iter=10).collect()
    }
    assert set(got) == set(expected)
    for v, (eh, ea) in expected.items():
        assert got[v][0] == pytest.approx(eh, abs=1e-12)
        assert got[v][1] == pytest.approx(ea, abs=1e-12)
    assert sum(h for h, _ in got.values()) == pytest.approx(1.0, abs=1e-9)
    assert sum(a for _, a in got.values()) == pytest.approx(1.0, abs=1e-9)


def test_hits_bipartite_structure(spark):
    # pure hubs 0,1 point at pure authorities 10,11,12
    from deeptime_spark.operators.graph import hits

    edges = [(0, 10), (0, 11), (0, 12), (1, 10), (1, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["hub"], r["authority"]) for r in hits(df, n_iter=15).collect()}
    assert got[0][0] > got[1][0] > 0  # 0 links to more authorities
    assert got[10][1] > got[12][1] > 0  # 10 cited by both hubs
    for v in (10, 11, 12):
        assert got[v][0] == 0.0  # authorities have no out-links
    for v in (0, 1):
        assert got[v][1] == 0.0


def test_personalized_pagerank(spark):
    from deeptime_spark.operators.graph import pagerank

    # ring 0->1->2->3->0; personalize all teleport onto node 0
    edges = [(0, 1), (1, 2), (2, 3), (3, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    pers = spark.createDataFrame([(0, 2.0)], "node long, weight double")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, n_iter=30, personalization=pers).collect()
    }
    # dense replica with teleport vector e_0
    n = 4
    import numpy as np2

    P = np2.zeros((4, 4))
    for s, d in edges:
        P[s, d] = 1.0
    pv = np2.array([1.0, 0, 0, 0])
    r = np2.full(n, 1.0 / n)
    for _ in range(30):
        c = P.T @ r
        dang = max(0.0, 1.0 - c.sum())
        r = 0.15 * pv + 0.85 * (c + dang * pv)
    for v in range(4):
        assert got[v] == pytest.approx(r[v], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # rank decays with distance from the personalized node
    assert got[0] > got[1] > got[2] > got[3] or got[0] > got[1]


def test_triangle_counts_matches_bruteforce(spark, rng):
    from itertools import combinations

    from deeptime_spark.operators.graph import triangle_counts

    edges = [(int(rng.integers(0, 15)), int(rng.integers(0, 15))) for _ in range(80)]
    edges = [(s, d) for s, d in edges if s != d]
    und = {tuple(sorted(e)) for e in edges}
    nodes = sorted({v for e in und for v in e})
    expected = {v: 0 for v in nodes}
    for a, b, c in combinations(nodes, 3):
        if {(a, b), (b, c), (a, c)} <= und:
            for v in (a, b, c):
                expected[v] += 1
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == expected


def test_triangle_counts_known_graph(spark):
    from deeptime_spark.operators.graph import triangle_counts

    # K4 minus one edge: exactly 2 triangles; nodes 0,1 in both
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {0: 2, 1: 2, 2: 1, 3: 1}
    # duplicate edges and reversed direction must not change counts
    df2 = spark.createDataFrame(edges + [(1, 0), (2, 0)], "src long, dst long")
    got2 = {r["node"]: r["n_triangles"] for r in triangle_counts(df2).collect()}
    assert got2 == got


def _brute_lpa(edges, n_iter):
    from collections import defaultdict

    adj = defaultdict(lambda: defaultdict(int))
    for s, d in edges:
        if s != d:
            adj[s][d] += 1
            adj[d][s] += 1
    labels = {v: v for v in adj}
    for _ in range(n_iter):
        new = {}
        for v in adj:
            votes = defaultdict(int)
            for u, w in adj[v].items():
                votes[labels[u]] += w
            best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        labels = new
    return labels


def test_label_propagation_matches_replica(spark, rng):
    from deeptime_spark.operators.graph import label_propagation

    edges = [(int(rng.integers(0, 30)), int(rng.integers(0, 30))) for _ in range(120)]
    edges = [(s, d) for s, d in edges if s != d]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(df, n_iter=4).collect()}
    assert got == _brute_lpa(edges, 4)


def test_label_propagation_two_cliques(spark):
    from itertools import combinations

    from deeptime_spark.operators.graph import label_propagation

    clique1 = list(combinations(range(5), 2))
    clique2 = list(combinations(range(10, 15), 2))
    bridge = [(4, 10)]
    df = spark.createDataFrame(clique1 + clique2 + bridge, "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(df, n_iter=5).collect()}
    # each clique converges to one label; the cliques stay distinct
    c1 = {got[v] for v in range(5)}
    c2 = {got[v] for v in range(10, 15)}
    assert len(c1) == 1 and len(c2) == 1 and c1 != c2


def _brute_kcore(edges, k):
    from collections import defaultdict

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    alive = {v for e in und for v in e}
    while True:
        deg = defaultdict(int)
        for a, b in und:
            if a in alive and b in alive:
                deg[a] += 1
                deg[b] += 1
        new = {v for v in alive if deg[v] >= k}
        if new == alive:
            return {v: deg[v] for v in alive}
        alive = new


def test_k_core_matches_bruteforce(spark, rng):
    from deeptime_spark.operators.graph import k_core

    edges = [(int(rng.integers(0, 25)), int(rng.integers(0, 25))) for _ in range(120)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for k in (2, 3, 5):
        got = {r["node"]: r["degree"] for r in k_core(df, k).collect()}
        assert got == _brute_kcore(edges, k), k


def test_k_core_clique_with_pendant(spark):
    from itertools import combinations

    from deeptime_spark.operators.graph import k_core

    # K5 plus a pendant chain: 4-core = the clique only
    edges = list(combinations(range(5), 2)) + [(4, 10), (10, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["degree"] for r in k_core(df, 4).collect()}
    assert got == {v: 4 for v in range(5)}
    with pytest.raises(ValueError):
        k_core(df, 0)


def test_k_core_raises_on_max_iter_exhaustion(spark):
    from deeptime_spark.operators.graph import k_core

    # chain at k=2 peels one endpoint pair per round — needs ~n/2
    # rounds, so max_iter=2 cannot reach the (empty) fixed point and
    # must raise rather than return degree<k nodes as core members.
    from deeptime_spark import dispatch

    chain = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(chain, "src long, dst long")
    # driver-dispatch path (12 edges, below the "graph" dispatch bound)
    with pytest.raises(RuntimeError, match="fixed point"):
        k_core(df, 2, max_iter=2)
    # distributed path: the same exhaustion contract, forced
    with dispatch.force("distributed"):
        with pytest.raises(RuntimeError, match="fixed point"):
            k_core(df, 2, max_iter=2)
    # with enough rounds the chain peels away entirely
    assert k_core(df, 2, max_iter=20).count() == 0


def _flat(rows):
    """(node, v1, v2, ...) rows -> {(node, i): v_i}, for pytest.approx."""
    return {(r[0], i): v for r in rows for i, v in enumerate(r[1:])}


# every operator with a broadcast/shuffle regime switch, with its dense
# replica where this module has one
REGIME_SWITCHED = {
    "pagerank": (
        lambda G, e: G.pagerank(e, n_iter=10),
        lambda edges: {(v, 0): r for v, r in _dense_pagerank(edges, n_iter=10).items()},
    ),
    "hits": (
        lambda G, e: G.hits(e, n_iter=10),
        lambda edges: _flat((v, h, a) for v, (h, a) in _dense_hits(edges, n_iter=10).items()),
    ),
    "k_core": (
        lambda G, e: G.k_core(e, 3),
        lambda edges: {(v, 0): d for v, d in _brute_kcore(edges, 3).items()},
    ),
    "bfs_distances": (lambda G, e: G.bfs_distances(e, sources=[0], max_depth=6), None),
    "betweenness_centrality": (lambda G, e: G.betweenness_centrality(e, n_pivots=4), None),
    "harmonic_centrality": (lambda G, e: G.harmonic_centrality(e, n_pivots=4), None),
}


@pytest.fixture(scope="module")
def regime_edges():
    rng = np.random.default_rng(42)
    edges = [(int(rng.integers(0, 25)), int(rng.integers(0, 25))) for _ in range(120)]
    return [(s, d) for s, d in edges if s != d]


@pytest.mark.parametrize("name", sorted(REGIME_SWITCHED))
def test_shuffle_regime_matches_broadcast(spark, regime_edges, monkeypatch, name):
    """Distributed path, both sides of ``BROADCAST_MAX_NODES``: the
    broadcast regime (no repartition) and the shuffle regime (the edge
    relation repartitioned) agree with each other and with the replica."""
    from deeptime_spark import dispatch
    from deeptime_spark.operators import graph as G

    run, replica = REGIME_SWITCHED[name]
    edges = regime_edges
    df = spark.createDataFrame(edges, "src long, dst long")
    kernels = [k for k in vars(G) if k.startswith("_driver_")]
    assert kernels
    for kernel in kernels:
        monkeypatch.setattr(G, kernel, lambda *a, _k=kernel: pytest.fail(f"{_k} ran"))
    repartitions = []
    real_repartition = type(df).repartition

    def spy(self, *args, **kwargs):
        repartitions.append(args)
        return real_repartition(self, *args, **kwargs)

    monkeypatch.setattr(type(df), "repartition", spy)
    with dispatch.force("distributed"):
        broadcast = _flat(run(G, df).collect())
        assert repartitions == []
        monkeypatch.setattr(G, "BROADCAST_MAX_NODES", 0)
        shuffle = _flat(run(G, df).collect())
        assert repartitions
    assert broadcast
    assert shuffle == pytest.approx(broadcast, abs=1e-12)
    if replica is not None:
        assert broadcast == pytest.approx(replica(edges), abs=1e-12)


def test_triangle_counts_low_id_hub(spark):
    from deeptime_spark.operators.graph import triangle_counts

    # node 0 is a hub with LOW id: under id-orientation its wedge
    # fan-out is ~deg^2; degree-orientation keeps counts exact while
    # orienting hub edges inward. star 0-(1..20) + rim edges closing
    # triangles (0, 2i-1, 2i).
    edges = [(0, i) for i in range(1, 21)] + [(2 * i - 1, 2 * i) for i in range(1, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got[0] == 10
    for i in range(1, 21):
        assert got[i] == 1


def test_personalized_pagerank_ignores_unknown_nodes(spark):
    from deeptime_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    pers = spark.createDataFrame([(0, 1.0)], "node long, weight double")
    # weight on a node absent from the edge set must not absorb
    # teleport mass — normalization runs over graph members only.
    pers_extra = spark.createDataFrame(
        [(0, 1.0), (99, 3.0)], "node long, weight double"
    )
    base = {r["node"]: r["rank"] for r in pagerank(df, n_iter=10, personalization=pers).collect()}
    extra = {
        r["node"]: r["rank"]
        for r in pagerank(df, n_iter=10, personalization=pers_extra).collect()
    }
    assert base == extra
    assert sum(extra.values()) == pytest.approx(1.0, abs=1e-9)


# ------------------------------------------------ betweenness (Brandes)
def _brandes_exact(edges, directed=False):
    """Ordered-pair Brandes over all sources — reference values."""
    adj = {}
    nodes = set()
    for s, d in edges:
        nodes.update((s, d))
        adj.setdefault(s, set()).add(d)
        if not directed:
            adj.setdefault(d, set()).add(s)
    bc = {v: 0.0 for v in nodes}
    for s in nodes:
        dist = {s: 0}
        sigma = {s: 1}
        order = [s]
        frontier = [s]
        while frontier:
            nxt = []
            for u in frontier:
                for w in adj.get(u, ()):
                    if w not in dist:
                        dist[w] = dist[u] + 1
                        sigma[w] = 0
                        nxt.append(w)
                    if dist[w] == dist[u] + 1:
                        sigma[w] += sigma[u]
            order.extend(nxt)
            frontier = nxt
        if directed:
            pred_adj = {}
            for a, outs in adj.items():
                for b in outs:
                    pred_adj.setdefault(b, set()).add(a)
        else:
            pred_adj = adj  # symmetric: neighbors one level up ARE preds
        delta = {v: 0.0 for v in order}
        for w in reversed(order):
            for v in pred_adj.get(w, ()):
                if dist.get(v, -2) == dist[w] - 1:
                    delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
        for v in order:
            if v != s:
                bc[v] += delta[v]
    return bc


def test_betweenness_exact_on_path(spark):
    from deeptime_spark.operators.graph import betweenness_centrality

    edges = [(i, i + 1) for i in range(4)]  # path 0-1-2-3-4
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["betweenness"]
        for r in betweenness_centrality(
            df, n_pivots=5, directed=False, scale=False
        ).collect()
    }
    expected = _brandes_exact(edges)  # ordered pairs: 0,6,8,6,0
    for v, e in expected.items():
        assert got[v] == pytest.approx(e, abs=1e-9)
    assert got[2] == pytest.approx(8.0, abs=1e-9)


def test_betweenness_star_center(spark):
    from deeptime_spark.operators.graph import betweenness_centrality

    edges = [(0, i) for i in range(1, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["betweenness"]
        for r in betweenness_centrality(
            df, n_pivots=8, directed=False, scale=False
        ).collect()
    }
    # center mediates every ordered leaf pair: 7*6 = 42
    assert got[0] == pytest.approx(42.0, abs=1e-9)
    assert all(got[i] == pytest.approx(0.0) for i in range(1, 8))


def test_betweenness_sampled_layout_invariant(spark, rng):
    from deeptime_spark.operators.graph import betweenness_centrality

    edges = [
        (int(rng.integers(0, 30)), int(rng.integers(0, 30))) for _ in range(150)
    ]
    edges = [(s, d) for s, d in edges if s != d]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {
        r["node"]: round(r["betweenness"], 9)
        for r in betweenness_centrality(df, n_pivots=6).collect()
    }
    b = {
        r["node"]: round(r["betweenness"], 9)
        for r in betweenness_centrality(df.repartition(17), n_pivots=6).collect()
    }
    assert a == b


def test_betweenness_validation(spark):
    from deeptime_spark.operators.graph import betweenness_centrality

    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        betweenness_centrality(df, n_pivots=0)
    with pytest.raises(ValueError):
        betweenness_centrality(df, max_depth=0)


# -------------------------------------------------- harmonic centrality
def test_harmonic_exact_on_path(spark):
    from deeptime_spark.operators.graph import harmonic_centrality

    edges = [(i, i + 1) for i in range(4)]  # path 0-1-2-3-4
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["harmonic"]
        for r in harmonic_centrality(
            df, n_pivots=5, directed=False, scale=False
        ).collect()
    }
    # all 5 nodes as pivots -> exact harmonic centrality
    for v in range(5):
        expected = sum(
            1.0 / abs(v - u) for u in range(5) if u != v
        )
        assert got[v] == pytest.approx(expected, abs=1e-9)
    # middle node is the most central
    assert got[2] == max(got.values())


def test_harmonic_disconnected_contributes_zero(spark):
    from deeptime_spark.operators.graph import harmonic_centrality

    # two components: 0-1 and 2-3; unreachable pairs contribute 0
    df = spark.createDataFrame([(0, 1), (2, 3)], "src long, dst long")
    got = {
        r["node"]: r["harmonic"]
        for r in harmonic_centrality(df, n_pivots=4, scale=False).collect()
    }
    assert all(v == pytest.approx(1.0, abs=1e-12) for v in got.values())


def test_harmonic_layout_invariant_and_validation(spark, rng):
    from deeptime_spark.operators.graph import harmonic_centrality

    edges = [
        (int(rng.integers(0, 25)), int(rng.integers(0, 25))) for _ in range(120)
    ]
    edges = [(s, d) for s, d in edges if s != d]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {
        r["node"]: round(r["harmonic"], 9)
        for r in harmonic_centrality(df, n_pivots=5).collect()
    }
    b = {
        r["node"]: round(r["harmonic"], 9)
        for r in harmonic_centrality(df.repartition(11), n_pivots=5).collect()
    }
    assert a == b
    with pytest.raises(ValueError):
        harmonic_centrality(df, n_pivots=0)


# --------------------------------- clustering coefficient, assortativity
def test_clustering_coefficients_known_graphs(spark):
    from deeptime_spark.operators.graph import clustering_coefficients

    # triangle 0-1-2 plus pendant 3 attached to 0
    edges = [(0, 1), (1, 2), (0, 2), (0, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["clustering_coeff"])
        for r in clustering_coefficients(df).collect()
    }
    assert got[0] == (3, 1, pytest.approx(1.0 / 3.0))
    assert got[1] == (2, 1, pytest.approx(1.0))
    assert got[2] == (2, 1, pytest.approx(1.0))
    assert got[3] == (1, 0, 0.0)
    # complete graph K4: every node cc = 1
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got4 = {
        r["node"]: r["clustering_coeff"]
        for r in clustering_coefficients(
            spark.createDataFrame(k4, "src long, dst long")
        ).collect()
    }
    assert all(v == pytest.approx(1.0) for v in got4.values())


def test_degree_assortativity_signs(spark):
    from deeptime_spark.operators.graph import degree_assortativity

    # star: maximally disassortative -> r = -1
    star = [(0, i) for i in range(1, 6)]
    r = degree_assortativity(
        spark.createDataFrame(star, "src long, dst long")
    ).first()
    assert r["n_nodes"] == 6 and r["n_edges"] == 5
    assert r["assortativity"] == pytest.approx(-1.0, abs=1e-12)
    # regular graph (cycle): degenerate variance -> NULL
    cyc = [(i, (i + 1) % 6) for i in range(6)]
    r2 = degree_assortativity(
        spark.createDataFrame(cyc, "src long, dst long")
    ).first()
    assert r2["assortativity"] is None
    # empty edge frame
    empty = spark.createDataFrame([], "src long, dst long")
    r3 = degree_assortativity(empty).first()
    assert r3["n_edges"] == 0 and r3["assortativity"] is None
