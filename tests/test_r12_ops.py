"""Round-12 additions: the contended-delta collapse policy of the
daily-delta entity pipeline (__spark_entry__._delta_entity_merge), the
vamp_score_data / TransferOperatorModel oracle promotions, and the
blocking-key advisor."""

from pyspark.sql import functions as F


def _entities(spark, rows):
    return spark.createDataFrame(
        rows, "id long, name string, nk long, seg string, bal long"
    )


def test_contended_delta_collapsed(spark):
    """Two deltas best-match ONE master: the election winner (higher
    score; tie would break to the smaller delta id) becomes the SCD2
    update, and the LOSER is collapsed — neither applied as an update
    nor inserted as a new entity. Losers are same-entity duplicates of
    the winner, not new entities; only never-matched deltas insert."""
    import __spark_entry__ as entrymod

    master = _entities(spark, [(1, "alice smith", 1, "A", 100)])
    dim = master.withColumn(
        "valid_from", F.lit(0).cast("long")
    ).withColumn("valid_to", F.lit(None).cast("long"))
    # both deltas fall in master 1's (nk, seg) block and clear the 0.9
    # threshold (bal exact-match carries weight 2 of 3); 101 wins on
    # name similarity (1 edit over 12 chars vs 1 over 11); 103 shares
    # no block -> never matched -> inserts as a brand-new entity
    delta = _entities(
        spark,
        [
            (101, "alice smithe", 1, "A", 100),  # winner
            (102, "alice smyth", 1, "A", 100),  # contended loser
            (103, "dan brown", 2, "B", 70),  # unmatched insert
        ],
    )
    merged = entrymod._delta_entity_merge(master, delta, dim)
    rows = {
        (r["id"], r["valid_from"], r["valid_to"]): r["name"]
        for r in merged.collect()
    }
    # entity 1: closed original + open winner version; 103 inserted;
    # the contended loser 102 appears NOWHERE
    assert set(rows) == {(1, 0, 1), (1, 1, None), (103, 1, None)}
    assert rows[(1, 0, 1)] == "alice smith"
    assert rows[(1, 1, None)] == "alice smithe"
    ids = {r["id"] for r in merged.collect()}
    assert 102 not in ids


def test_uncontended_deltas_all_apply(spark):
    """Control: one delta per master -> every matched delta applies and
    nothing is collapsed (the policy only bites under contention)."""
    import __spark_entry__ as entrymod

    master = _entities(
        spark,
        [(1, "alice smith", 1, "A", 100), (2, "bob jones", 1, "A", 200)],
    )
    dim = master.withColumn(
        "valid_from", F.lit(0).cast("long")
    ).withColumn("valid_to", F.lit(None).cast("long"))
    delta = _entities(
        spark,
        [
            (101, "alice smithe", 1, "A", 100),
            (102, "bob jonese", 1, "A", 200),
        ],
    )
    merged = entrymod._delta_entity_merge(master, delta, dim)
    open_names = {
        r["id"]: r["name"]
        for r in merged.where(F.col("valid_to").isNull()).collect()
    }
    assert open_names == {1: "alice smithe", 2: "bob jonese"}
    assert merged.count() == 4  # 2 closed + 2 open, no inserts


def test_streaming_linkage_probe_replay_bounded(spark, tmp_path):
    """Whole-stream replay (fresh checkpoint over the same source) must
    land the IDENTICAL output, not double-append: each batch overwrites
    its own batch=N partition of out_path."""
    from deeptime_spark.streaming.accumulate import (
        streaming_record_linkage_probe,
    )

    schema = "id long, name string, zip string, bal long"
    master = spark.createDataFrame(
        [(1, "alice", "10001", 50), (2, "bob", "20002", 70)], schema
    )
    delta = spark.createDataFrame(
        [(101, "alicx", "10001", 50), (102, "bobb", "20002", 70)], schema
    )
    mdir = str(tmp_path / "master")
    sdir = str(tmp_path / "src")
    odir = str(tmp_path / "out")
    master.write.parquet(mdir)
    delta.repartition(2, F.col("id")).write.parquet(sdir)

    def _run(ckpt):
        stream = (
            spark.readStream.schema(master.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(sdir)
        )
        q = streaming_record_linkage_probe(
            spark,
            stream,
            master_path=mdir,
            out_path=odir,
            id_col="id",
            block_keys=["zip"],
            string_fields=["name"],
            exact_fields=["bal"],
            threshold=0.7,
            checkpoint=str(tmp_path / ckpt),
        )
        assert q.awaitTermination(120)

    _run("ckpt1")
    first = sorted(
        (r["id_delta"], r["id_master"])
        for r in spark.read.parquet(odir).collect()
    )
    _run("ckpt2")  # replay from scratch: overwrites, must not grow
    second = sorted(
        (r["id_delta"], r["id_master"])
        for r in spark.read.parquet(odir).collect()
    )
    assert first == second == [(101, 1), (102, 2)]


def test_transfer_operator_forward_matches_columns(spark):
    """forward() (driver-side numpy propagation, koopman.py:101) must
    agree with the distributed fwd_k = sigma_k * f_k columns of the
    koopman_propagate_events surface."""
    import numpy as np

    import __spark_entry__ as entrymod

    df = entrymod._q_koopman_propagate_events(
        spark, "/root/testdata/sf0.001"
    )
    rows = df.orderBy("traj_id", "t").limit(5).collect()
    # rebuild the same quantized model to drive forward()
    from deeptime_spark.decomposition.koopman import TransferOperatorModel
    from deeptime_spark.decomposition.vamp import VAMP

    traj = entrymod._event_traj(spark, "/root/testdata/sf0.001")
    feat = traj.select(
        "traj_id",
        "t",
        F.array(
            F.col("value") / 100.0,
            (F.col("value") / 100.0) ** 2,
            (F.col("value") / 100.0) ** 3,
        ).alias("x"),
    )
    model = VAMP(lagtime=2, dim=2).fit(feat).fetch_model()
    sv = np.round(model.singular_values, 9)
    qm = TransferOperatorModel(
        np.diag(sv),
        np.round(model.U, 9),
        np.round(model.V, 9),
        mean_0=model.mean_0,
        mean_t=model.mean_t,
    )
    xs = {
        (r["traj_id"], r["t"]): r["x"]
        for r in feat.orderBy("traj_id", "t").limit(5).collect()
    }
    for r in rows:
        fwd = qm.forward(np.array(xs[(r["traj_id"], r["t"])]))[0]
        assert round(float(fwd[0]), 6) == r["fwd1"]
        assert round(float(fwd[1]), 6) == r["fwd2"]


def test_sql_sround_matches_spark_round():
    """_sql_sround (oracle_ref) must reproduce Spark's F.round on
    DOUBLE — HALF_UP over the shortest-roundtrip decimal repr — on the
    boundary classes where DuckDB's binary round() disagrees."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    from deeptime_spark.oracle_ref import _sql_sround

    con = duckdb.connect()
    cases = [
        0.39751149999999996,  # repr just under a .5 boundary
        0.3975115,
        -0.39751149999999996,
        2.6750000000000003,
        -0.0000005,
        0.0000005,
        9.999999999999999e-07,
        -74827.35366197555,
        123456.7890123456,
        0.1 + 0.2,
    ]
    for x in cases:
        # Spark F.round == BigDecimal(Double.toString(x)).setScale(6, HALF_UP)
        want = float(
            Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
        )
        lit = "CAST('" + repr(x) + "' AS DOUBLE)"
        got = con.execute("SELECT " + _sql_sround(lit)).fetchone()[0]
        assert got == want, (x, got, want)


def test_blocking_key_advisor_ranks_specs(spark):
    """Advisor returns one row per candidate in input order, with the
    finer key beating the hot single-key spec on reduction while both
    keep completeness — and over-cap loss reported per candidate."""
    from deeptime_spark.operators.linkage import blocking_key_advisor

    rows = [
        # two clone pairs in zip 10001, one in 20002, one unmatched
        (1, "alice", "10001", "A", 50),
        (2, "alicx", "10001", "A", 50),
        (3, "bob", "10001", "B", 70),
        (4, "bobb", "10001", "B", 70),
        (5, "carol", "20002", "A", 90),
        (6, "caroll", "20002", "A", 90),
        (7, "dave", "30003", "B", 10),
    ]
    recs = spark.createDataFrame(
        rows, "id long, name string, zip string, seg string, bal long"
    )
    out = blocking_key_advisor(
        recs,
        id_col="id",
        candidate_specs=["zip", [["zip", "seg"]], ["seg"]],
        string_fields=["name"],
        exact_fields=["bal"],
        threshold=0.85,
        max_block=10,
    ).collect()
    assert [r["spec"] for r in out] == ["zip", "zip+seg", "seg"]
    by = {r["spec"]: r for r in out}
    # truth shared: same n_exact on every row
    assert len({r["n_exact"] for r in out}) == 1 and out[0]["n_exact"] == 3
    # all three blockings surface all 3 true pairs here...
    assert all(r["pair_completeness"] == 1.0 for r in out)
    # ...but the finer zip+seg key generates fewer candidates than zip
    assert by["zip+seg"]["n_candidates"] < by["zip"]["n_candidates"]
    assert by["zip+seg"]["reduction_ratio"] > by["zip"]["reduction_ratio"]


def test_blocking_key_advisor_overcap_accounting(spark):
    """A hot block past max_block reports its dropped members on the
    full relation, and the capped spec loses completeness on the probe."""
    from deeptime_spark.operators.linkage import blocking_key_advisor

    # 6 records in ONE zip block, cap 4 -> ids 5,6 dropped from
    # candidacy; the (5,6) clone pair is then invisible to blocking
    rows = [
        (1, "alice", "10001", 50),
        (2, "alicx", "10001", 50),
        (3, "xavier", "10001", 30),
        (4, "yvonne", "10001", 40),
        (5, "carol", "10001", 90),
        (6, "caroll", "10001", 90),
    ]
    recs = spark.createDataFrame(
        rows, "id long, name string, zip string, bal long"
    )
    out = blocking_key_advisor(
        recs,
        id_col="id",
        candidate_specs=["zip"],
        string_fields=["name"],
        exact_fields=["bal"],
        threshold=0.85,
        max_block=4,
    ).first()
    assert out["spec"] == "zip"
    assert out["n_capped_blocks"] == 1
    assert out["n_overcap_members"] == 2
    assert out["n_exact"] == 2  # (1,2) and (5,6)
    assert out["n_hit"] == 1  # only (1,2) survives the cap
    assert abs(out["pair_completeness"] - 0.5) < 1e-12


def test_minhash_arrow_impl_matches_sql(spark):
    """r12: the scan-local numpy MinHash (sig_numpy.minhash_batch) must be
    bit-identical to the explode + codegen-hash + partial-agg-min plan it
    replaced — including dropped docs (NULL text / all-empty tokens) and
    non-ASCII + shorter-than-k edge texts."""
    from deeptime_spark.operators.dedup import minhash_signatures_df

    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "the  quick\tbrown\nfox"),
        (3, "abc"),  # shorter than k
        (4, ""),  # empty -> single '' shingle (chars), dropped (words)
        (5, "café crème brûlée déjà vu"),  # non-ascii
        (6, None),  # NULL -> dropped by explode in both units
        (7, "   \t  "),  # whitespace only
        (8, "repeat repeat repeat repeat"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for unit in ("chars", "words"):
        a = {
            r.doc_id: r.minhash
            for r in minhash_signatures_df(
                docs, n_hashes=16, unit=unit, impl="arrow"
            ).collect()
        }
        b = {
            r.doc_id: r.minhash
            for r in minhash_signatures_df(
                docs, n_hashes=16, unit=unit, impl="sql"
            ).collect()
        }
        assert a == b, f"unit={unit}"


def test_simhash_arrow_impl_matches_sql(spark):
    """r12: numpy SimHash (sig_numpy.simhash_batch) bit-identical to the
    64-buffer codegen bit-vote aggregate it replaced."""
    from deeptime_spark.operators.dedup import simhash_signatures_df

    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, ""),
        (4, "\ta leading tab keeps an empty split token"),
        (5, "café crème brûlée déjà vu café"),
        (6, None),
        (7, "one-token"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r.doc_id: r.sim for r in simhash_signatures_df(docs, impl="arrow").collect()}
    b = {r.doc_id: r.sim for r in simhash_signatures_df(docs, impl="sql").collect()}
    assert a == b


def test_token_jaccard_verify_matches_python_sets(spark):
    """r12: the hashed-long intersect + PPJoin length pre-filter in
    _verify_pairs_token_jaccard produce EXACTLY the string-set numbers:
    n_intersect/n_union/jaccard equal a per-pair Python set computation,
    qualifying pairs are identical (the length filter is implied by the
    final predicate, so it can drop no qualifying pair), and degenerate
    empty/whitespace docs stay excluded by the n_union>0 guard."""
    import re

    from deeptime_spark.operators.dedup import _verify_pairs_token_jaccard

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),      # 5/7 = 71% vs 1
        (3, "alpha beta"),                               # size-incompatible vs 1
        (4, ""),                                         # empty
        (5, "   \t  "),                                  # whitespace only
        (6, "alpha beta gamma delta epsilon zeta"),      # exact dup of 1
        (7, "alpha alpha beta beta gamma gamma delta delta epsilon epsilon zeta zeta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = spark.createDataFrame(
        [(a, b) for a in range(1, 8) for b in range(a + 1, 8)],
        "id_a long, id_b long",
    )
    got = {
        (r.id_a, r.id_b): (r.n_intersect, r.n_union, r.jaccard)
        for r in _verify_pairs_token_jaccard(cand, docs, 70).collect()
    }
    toks = {i: set(t for t in re.split(r"\W+", s or "") if t) for i, s in rows}
    want = {}
    for a in range(1, 8):
        for b in range(a + 1, 8):
            i = len(toks[a] & toks[b])
            u = len(toks[a] | toks[b])
            if u > 0 and 100 * i >= 70 * u:
                want[(a, b)] = (i, u, i / u)
    assert got == want


def test_triangle_driver_dispatch_bit_equal(spark):
    """r12: the driver numpy compact-forward kernel produces exactly the
    distributed wedge join's per-node triangle counts and degrees, on a
    graph with hubs, multi-edges, self-loops, and both orientations."""
    import random

    from deeptime_spark import dispatch
    from deeptime_spark.operators import graph as G

    random.seed(11)
    rows = [(random.randint(0, 120), random.randint(0, 120)) for _ in range(2500)]
    rows += [(5, 5), (7, 7)]          # self-loops dropped
    rows += [(3, 9), (9, 3), (3, 9)]  # duplicates/direction collapsed
    e = spark.createDataFrame(rows, "src long, dst long")
    drv = {
        r.node: (r.n_triangles, r.degree)
        for r in G.triangle_counts(e, include_degree=True).collect()
    }
    with dispatch.force("distributed"):  # the distributed wedge join
        dist = {
            r.node: (r.n_triangles, r.degree)
            for r in G.triangle_counts(e, include_degree=True).collect()
        }
    assert drv == dist and len(drv) > 100


def test_graph_driver_dispatch_bit_equal(spark):
    """r12: the driver numpy kernels for k-core, BFS, and synchronous
    label propagation are bit-identical to the distributed loops (all
    three results are integer-exact: unique fixed points for k-core and
    BFS, a deterministic synchronous vote rule for LP)."""
    import random

    from deeptime_spark import dispatch
    from deeptime_spark.operators import graph as G

    random.seed(17)
    rows = [(random.randint(0, 90), random.randint(0, 90)) for _ in range(2000)]
    rows += [(2, 8), (8, 2), (2, 8), (4, 4)]  # multi-edges + self-loop
    e = spark.createDataFrame(rows, "src long, dst long")

    def both(fn):
        drv = fn()
        with dispatch.force("distributed"):
            dist = fn()
        return drv, dist

    d, s = both(lambda: {r.node: r.degree for r in G.k_core(e, k=5).collect()})
    assert d == s and d
    d, s = both(
        lambda: {
            r.node: r.dist
            for r in G.bfs_distances(e, sources=[0, 3], max_depth=3).collect()
        }
    )
    assert d == s and d
    d, s = both(
        lambda: {r.node: r.label for r in G.label_propagation(e, n_iter=4).collect()}
    )
    assert d == s and d

