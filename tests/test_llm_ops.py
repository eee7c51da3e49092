"""LLM-data-pipeline operators on the real harness tables
(documents/embeddings at sf0.001) plus synthetic near-dup fixtures."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deeptime_spark import dispatch
from deeptime_spark.operators import dedup, similarity, text
from deeptime_spark.operators.multimodal import extract_features, frame_sample_plan, media_from_documents

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def neardup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("lazy", "sleepy")),  # near dup
        (3, "completely different content about spark execution engines and shuffles"),
        (4, base),  # another exact dup
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(spark, neardup_docs):
    groups = dedup.exact_duplicates(neardup_docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_copies"] == 3 and g["canonical_id"] == 0 and g["doc_ids"] == [0, 1, 4]


def test_drop_exact_duplicates(spark, neardup_docs):
    kept = dedup.drop_exact_duplicates(neardup_docs).select("doc_id").collect()
    ids = sorted(r["doc_id"] for r in kept)
    assert ids == [0, 2, 3]


def test_minhash_lsh_finds_near_dups(spark, neardup_docs):
    cands = dedup.minhash_lsh_candidates(neardup_docs, n_hashes=64, bands=16)
    rows = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in cands.collect()}
    assert (0, 1) in rows and rows[(0, 1)] == 1.0  # identical docs: all minhashes equal
    assert (0, 2) in rows and rows[(0, 2)] > 0.5  # near dup: high estimated jaccard
    assert (0, 3) not in rows or rows[(0, 3)] < 0.3


def test_jaccard_verification(spark, neardup_docs):
    cands = dedup.minhash_lsh_candidates(neardup_docs, n_hashes=64, bands=16)
    verified = dedup.verify_candidates_jaccard(cands, neardup_docs, threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert (0, 1) in pairs and (0, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_jaccard_verification_materialized_restriction(spark, neardup_docs):
    """Grams computed only for candidate-touched docs (semi-join, lazy
    persist) give every pair the Jaccard the per-pair ``ngram_jaccard``
    computes from the raw texts, and keep exactly the pairs over the
    threshold."""
    from pyspark.sql import functions as F

    cands = dedup.minhash_lsh_candidates(neardup_docs, n_hashes=64, bands=16).persist()
    try:
        texts = neardup_docs.select("doc_id", "text")
        per_pair = (
            cands.join(texts.toDF("id_a", "ta"), "id_a")
            .join(texts.toDF("id_b", "tb"), "id_b")
            .select("id_a", "id_b", dedup.ngram_jaccard(F.col("ta"), F.col("tb")).alias("j"))
            .collect()
        )
        want = sorted((r["id_a"], r["id_b"], r["j"]) for r in per_pair if r["j"] >= 0.5)
        got = dedup.verify_candidates_jaccard(cands, neardup_docs, threshold=0.5)
        assert want
        assert sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in got.collect()) == want
    finally:
        spark.catalog.clearCache()


def test_simhash_near_duplicates(spark, neardup_docs):
    pairs = dedup.simhash_near_duplicates(neardup_docs, max_hamming=10)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(0, 1)] == 0  # identical -> same simhash
    assert (0, 2) in got  # near dup within hamming radius


def test_embedding_near_duplicates(spark):
    rng = np.random.default_rng(0)
    base = rng.normal(size=8)
    rows = [
        (0, (base / np.linalg.norm(base)).tolist()),
        (1, (base / np.linalg.norm(base) + 1e-4).tolist()),  # near-identical
        (2, rng.normal(size=8).tolist()),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = dedup.embedding_near_duplicates(df, threshold=0.99, n_planes=4)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 1) in pairs


def test_brute_force_topk_matches_numpy(spark, emb):
    corpus = [(r["vec_id"], np.array(r["embedding"])) for r in emb.collect()]
    qid, qv = corpus[0]
    queries = spark.createDataFrame(
        [(int(qid), [float(v) for v in qv])], ["query_id", "embedding"]
    )
    got = similarity.brute_force_topk(emb, queries, k=5).orderBy("rank").collect()
    # numpy oracle
    sims = [
        (vid, float(np.dot(qv, v) / (np.linalg.norm(qv) * np.linalg.norm(v))))
        for vid, v in corpus
    ]
    sims.sort(key=lambda p: (-p[1], p[0]))
    want = [vid for vid, _ in sims[:5]]
    assert [r["vec_id"] for r in got] == want
    assert got[0]["vec_id"] == qid  # self is nearest
    np.testing.assert_allclose(got[0]["similarity"], 1.0, atol=1e-6)


def test_lsh_topk_self_recall(spark, emb):
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.lsh_topk(emb, queries, k=3, n_planes=6).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        top = min(rows, key=lambda r: r["rank"])
        assert top["vec_id"] == qid  # same bucket as itself, sim=1


def test_text_stats_on_documents(spark, docs):
    out = text.text_stats(docs).limit(50).collect()
    for r in out:
        assert r["n_tokens"] > 0
        assert r["n_chars_computed"] == r["n_chars"]  # harness column agrees
        assert 0.0 <= r["punct_ratio"] < 1.0
        assert 0.0 <= r["quality"] <= 1.0


def test_language_detection_known_samples(spark):
    rows = [
        (0, "the cat sat on the mat and it was happy with this"),
        (1, "der hund ist nicht auf der wiese und sie sind mit ihm"),
        (2, "le chat est dans la maison pour une heure avec des amis"),
        (3, "el perro es un animal que vive en la casa con nosotros"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["lang"] for r in df.select("doc_id", text.detect_language("text").alias("lang")).collect()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "es"}


def test_fingerprint_stability_and_similarity(spark, neardup_docs):
    fp = neardup_docs.select("doc_id", text.fingerprint("text").alias("fp")).collect()
    by_id = {r["doc_id"]: r["fp"] for r in fp}
    assert by_id[0] == by_id[1]  # identical docs -> identical fingerprint
    shared = len(set(by_id[0]) & set(by_id[2]))
    assert shared >= 4  # near-dup shares most bottom-k hashes
    assert len(set(by_id[0]) & set(by_id[3])) <= 2


def test_token_counts(spark):
    df = spark.createDataFrame([(0, "  hello   world  "), (1, "a b c d")], ["doc_id", "text"])
    got = df.select("doc_id", text.token_count("text").alias("n"), text.word_token_count("text").alias("w")).collect()
    by_id = {r["doc_id"]: (r["n"], r["w"]) for r in got}
    assert by_id[0][0] == 2 and by_id[1][0] == 4


def test_multimodal_plumbing(spark, docs):
    media = media_from_documents(docs.limit(20))
    feats = extract_features(media, dim=8).collect()
    assert len(feats) == 20
    assert all(len(r["feature"]) == 8 for r in feats)
    # deterministic: same payload -> same feature across runs
    feats2 = {r["media_id"]: r["feature"] for r in extract_features(media, dim=8).collect()}
    for r in feats:
        assert feats2[r["media_id"]] == r["feature"]
    plan = frame_sample_plan(media.withColumn("modality", F.lit("video")), every_ms=100)
    rows = plan.where(F.col("media_id") == feats[0]["media_id"]).collect()
    assert all(r["frame_ts_ms"] == r["frame_idx"] * 100 for r in rows)


def test_ivf_topk_recall(spark, rng):
    from deeptime_spark.operators.similarity import brute_force_topk, ivf_topk

    # clustered corpus so IVF cells are meaningful
    centers = rng.normal(size=(8, 16)) * 3
    X = np.vstack([c + 0.3 * rng.normal(size=(40, 16)) for c in centers])
    corpus = spark.createDataFrame(
        [(i, x.tolist()) for i, x in enumerate(X)], ["vec_id", "embedding"]
    )
    queries = spark.createDataFrame(
        [(i, X[i * 40].tolist()) for i in range(4)], ["query_id", "embedding"]
    )
    exact = brute_force_topk(corpus, queries, k=5)
    approx = ivf_topk(corpus, queries, k=5, n_lists=8, n_probe=2, seed=3)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = total = 0
    for r in approx.collect():
        total += 1
        if r["vec_id"] in exact_sets[r["query_id"]]:
            hits += 1
    assert total == 4 * 5
    assert hits / total >= 0.8  # high recall when probing the right cells


def test_embedding_near_dup_multitable_recall(spark, rng):
    from deeptime_spark.operators import dedup

    # pairs of near-identical vectors; single-table recall at low n_planes
    # misses some, OR-construction across 6 tables should find them all
    base = rng.normal(size=(60, 16))
    # ~0.04 rad apart: one 8-plane table misses ~10% of pairs, 6 tables ~0%
    X = np.vstack([base, base + 0.04 * rng.normal(size=(60, 16))])
    df = spark.createDataFrame(
        [(i, x.tolist()) for i, x in enumerate(X)], ["vec_id", "embedding"]
    )
    cos = np.einsum("ij,ij->i", base, X[60:]) / (
        np.linalg.norm(base, axis=1) * np.linalg.norm(X[60:], axis=1)
    )
    expected = {(i, i + 60) for i in range(60) if cos[i] >= 0.998}
    multi = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_duplicates(
            df, threshold=0.998, n_planes=8, n_tables=6, seed=1
        ).collect()
    }
    single = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_duplicates(
            df, threshold=0.998, n_planes=8, n_tables=1, seed=1
        ).collect()
    }
    assert expected <= multi  # OR-construction finds every true pair
    assert len(single & expected) < len(expected)  # single table provably misses some here


def test_lsh_topk_multitable_recall(spark, rng):
    from deeptime_spark.operators.similarity import brute_force_topk, lsh_topk

    X = rng.normal(size=(300, 16))
    corpus = spark.createDataFrame(
        [(i, x.tolist()) for i, x in enumerate(X)], ["vec_id", "embedding"]
    )
    queries = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(5)], ["query_id", "embedding"]
    )
    exact = {}
    for r in brute_force_topk(corpus, queries, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(nt):
        hits = total = 0
        for r in lsh_topk(corpus, queries, k=5, n_planes=6, n_tables=nt, seed=2).collect():
            total += 1
            hits += r["vec_id"] in exact[r["query_id"]]
        return hits / 25

    r1, r8 = recall(1), recall(8)
    assert r8 >= r1
    assert r8 >= 0.6  # OR-construction recovers most true neighbors


def test_bucket_pairs_property(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from deeptime_spark.operators.dedup import _bucket_pairs

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 99), st.integers(0, 3)),
            min_size=1,
            max_size=30,
            unique_by=lambda t: t[0],
        ),
        st.integers(2, 5),
    )
    def check(rows, cap):
        df = spark.createDataFrame(rows, ["doc_id", "bucket"])
        got = {
            (r["id_a"], r["id_b"])
            for r in _bucket_pairs(df, ["bucket"], "doc_id", [], cap).collect()
        }
        # naive reference: cap per bucket by ascending id, then all pairs
        by_bucket = {}
        for i, b in rows:
            by_bucket.setdefault(b, []).append(i)
        expected = set()
        for ids in by_bucket.values():
            kept = sorted(ids)[:cap]
            expected |= {(a, b) for a in kept for b in kept if a < b}
        assert got == expected

    check()


def test_exact_duplicates_bounded_group_payload(spark):
    # degenerate web-scale group: 10^4 identical docs must NOT produce an
    # unbounded id list on one reducer row — n_copies stays exact, the id
    # list is capped at max_group_ids (lowest ids kept)
    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit("boilerplate page").alias("text")
    )
    g = dedup.exact_duplicates(df, max_group_ids=32).collect()
    assert len(g) == 1
    assert g[0]["n_copies"] == 10_000
    assert g[0]["canonical_id"] == 0
    assert g[0]["doc_ids"] == list(range(32))
    # max_group_ids=0 drops the list column (no collect_list in the agg)
    g0 = dedup.exact_duplicates(df, max_group_ids=0)
    assert "doc_ids" not in g0.columns
    assert g0.collect()[0]["n_copies"] == 10_000


def test_ivf_topk_no_corpus_count(spark, emb):
    # regression pin: the quantizer must not spend a full corpus scan on
    # an exact count just to size its sample (fraction+limit instead)
    import inspect

    src = inspect.getsource(similarity.ivf_topk)
    assert "corpus.count()" not in src
    queries = emb.where(F.col("vec_id") < 3).withColumnRenamed("vec_id", "query_id")
    out = similarity.ivf_topk(
        emb, queries, k=5, n_lists=4, n_probe=2, quantizer_sample=256
    )
    got = out.groupBy("query_id").count().collect()
    assert {r["query_id"] for r in got} == {0, 1, 2}
    assert all(r["count"] == 5 for r in got)


def test_hyperplane_buckets_dim_param_identical(spark, emb):
    # passing the known dimension skips the probe job and must yield
    # byte-identical buckets
    probed = similarity.random_hyperplane_buckets(emb, n_planes=6).select("vec_id", "bucket")
    given = similarity.random_hyperplane_buckets(emb, n_planes=6, d=64).select("vec_id", "bucket")
    assert probed.exceptAll(given).count() == 0 and given.exceptAll(probed).count() == 0


def test_wav_decode_real():
    from deeptime_spark.operators import multimodal as mm

    payload = mm.synth_wav(440.0, duration_s=0.5, rate=8000, amplitude=0.5)
    samples, rate = mm.decode_wav(payload)
    assert rate == 8000 and samples.shape == (4000, 1)
    # RMS of a 0.5-amplitude sine ~ 0.5/sqrt(2); zcr ~ 2*440/8000
    feats = mm.decode_features(payload, dim=16)
    assert feats[0] == 1.0  # real-audio path marker
    assert abs(feats[4] - 0.5 / np.sqrt(2)) < 0.01
    assert abs(feats[5] - 2 * 440 / 8000) < 0.01
    assert abs(feats[3] - 0.5) < 1e-9  # duration


def test_ppm_bmp_decode_real():
    import struct

    from deeptime_spark.operators import multimodal as mm

    img = np.zeros((3, 2, 3), dtype=np.uint8)
    img[..., 0] = 255  # pure red
    ppm = b"P6\n# comment\n2 3\n255\n" + img.tobytes()
    out = mm.decode_ppm(ppm)
    assert out.shape == (3, 2, 3) and (out == img).all()
    feats = mm.decode_features(ppm, dim=16)
    assert feats[0] == 2.0  # real-image path marker
    assert abs(feats[3] - 1.0) < 1e-12 and feats[4] == 0.0  # mean_r, mean_g

    # minimal 24-bit BMP, bottom-up, 2x2: rows padded to 4 bytes
    w, h = 2, 2
    row = bytes([255, 0, 0] * w) + b"\x00\x00"  # BGR blue... actually [B,G,R]
    pix = row * h
    header = (b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 0, 0, 0, 0))
    bmp = header + pix
    out = mm.decode_bmp(bmp)
    assert out.shape == (2, 2, 3)
    assert (out[:, :, 2] == 255).all() and (out[:, :, 0] == 0).all()  # B=255 -> RGB blue


def test_extract_features_real_wav_in_spark(spark):
    from pyspark.sql.types import BinaryType

    from deeptime_spark.operators import multimodal as mm

    rows = [(i, mm.synth_wav(100.0 + 10 * i)) for i in range(8)]
    media = spark.createDataFrame(rows, ["media_id", "payload"])
    feats = {r["media_id"]: r["feature"] for r in mm.extract_features(media, dim=8).collect()}
    assert len(feats) == 8
    for i, f in feats.items():
        assert f[0] == 1.0  # every payload took the REAL wav path
        assert abs(f[5] - 2 * (100.0 + 10 * i) / 8000) < 0.01  # zcr tracks freq
    # malformed/unknown payloads fall back to the deterministic fake
    junk = spark.createDataFrame([(99, b"\x00\x01not-a-format")], ["media_id", "payload"])
    f99 = mm.extract_features(junk, dim=8).collect()[0]["feature"]
    assert f99[0] != 1.0 and f99[0] != 2.0


def test_connected_components_matches_union_find(spark):
    """Distributed min-label propagation equals a driver union-find on a
    graph with chains, a clique, and singleton-free isolated pairs."""
    import numpy as np

    from deeptime_spark.operators.dedup import connected_components

    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (20, 21), (5, 6), (6, 5), (30, 31), (31, 32), (32, 30)]
    df = spark.createDataFrame(edges, "id_a long, id_b long").repartition(4)
    # both paths must agree: driver union-find fast path and the
    # distributed min-label propagation loop
    got_local = {r["node"]: r["component"] for r in connected_components(df).collect()}
    with dispatch.force("distributed"):
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got_local == got

    parent = {}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        parent.setdefault(a, a); parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonicalize union-find roots to component minimum
    comp = {}
    for n in parent:
        r = find(n)
        comp.setdefault(r, []).append(n)
    want = {n: min(members) for r, members in comp.items() for n in members}
    assert got == want


def test_drop_near_duplicates_keeps_canonical(spark):
    from deeptime_spark.operators.dedup import drop_near_duplicates

    docs = spark.createDataFrame([(i, f"doc{i}") for i in range(6)], "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], "id_a long, id_b long")
    kept = sorted(r["doc_id"] for r in drop_near_duplicates(docs, pairs).collect())
    assert kept == [0, 3, 4]


def test_connected_components_long_chain_converges_fast(spark):
    """Pointer doubling: a 200-node path converges well within log-bound
    rounds (plain propagation would need ~200)."""
    from deeptime_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(edges, "id_a long, id_b long").repartition(8)
    with dispatch.force("distributed"):
        got = connected_components(df, max_iter=12).collect()
    assert len(got) == 201
    assert all(r["component"] == 0 for r in got)


def test_gopher_quality_rules(spark):
    from deeptime_spark.operators.text import gopher_quality

    good = "the quick brown fox likes to be of and that have with " + " ".join(
        f"word{i}" for i in range(60)
    )
    bullets = "\n".join("- item" for _ in range(10))
    symbols = "the be " + " ".join("#" * 3 for _ in range(60))
    docs = spark.createDataFrame(
        [(0, good), (1, bullets), (2, symbols), (3, "tiny doc")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_quality(docs).collect()}
    assert out[0]["passes_gopher"] == 1
    assert out[1]["frac_bullet_lines"] == 1.0 and out[1]["passes_gopher"] == 0
    assert out[2]["symbol_ratio"] > 0.1 and out[2]["passes_gopher"] == 0
    assert out[3]["n_words"] == 2 and out[3]["passes_gopher"] == 0


def test_gopher_repetition_rules(spark):
    from deeptime_spark.operators.text import gopher_repetition

    text = "unique one\nrepeat me\nrepeat me\nunique two"
    docs = spark.createDataFrame([(0, text), (1, "a\nb\nc")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_repetition(docs).collect()}
    assert out[0]["frac_dup_lines"] == 0.25  # 1 extra copy / 4 lines
    # "repeat me" x2 = 18 chars of 38 total
    assert abs(out[0]["frac_dup_line_chars"] - 18 / 38) < 1e-12
    assert out[1]["frac_dup_lines"] == 0.0 and out[1]["frac_dup_line_chars"] == 0.0


def test_winnowing_guarantee_and_candidates(spark):
    """Winnowing guarantee: docs sharing a substring of length >= w+k-1
    share a fingerprint; the candidate op surfaces exactly such pairs."""
    from deeptime_spark.operators.dedup import winnowing_candidates

    shared = "this exact passage was copied verbatim between two documents"
    docs = spark.createDataFrame(
        [
            (0, "intro text. " + shared + " trailing content here"),
            (1, "different opening -- " + shared + " -- and a different end"),
            (2, "entirely unrelated prose about something else altogether"),
            (3, "more unrelated filler text with zero overlap with others"),
        ],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"]) for r in winnowing_candidates(docs, min_shared=2).collect()}
    assert (0, 1) in got
    assert all(p == (0, 1) for p in got)


def test_unigram_lm_score_orders_typical_above_gibberish(spark):
    from deeptime_spark.operators.text import unigram_lm_scores_df

    typical = "the cat sat on the mat and the dog sat on the rug"
    docs = spark.createDataFrame(
        [(0, typical), (1, typical), (2, typical), (3, "zxqv jkwpf mmtrx qqzl bbnv")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lm_score"] for r in unigram_lm_scores_df(docs, vocab_size=100).collect()}
    assert out[0] == out[1] == out[2]          # identical docs, identical score
    assert out[0] > out[3]                     # corpus-typical beats gibberish
    assert all(v < 0 for v in out.values())    # log-probs

    # layout independence: same scores from a different partitioning
    docs7 = docs.repartition(7)
    out7 = {r["doc_id"]: r["lm_score"] for r in unigram_lm_scores_df(docs7, vocab_size=100).collect()}
    assert out == out7


def test_ann_recall_vs_bruteforce(spark):
    """Measured recall of the approximate paths against exact top-k on
    the harness embeddings: LSH (4-table OR) and IVF (4/16 probes) must
    recover a solid fraction of the true neighbors — quality, not just
    shape."""
    from deeptime_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    k = 10
    truth = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=k).collect()
    }

    def recall(df):
        got = {(r["query_id"], r["vec_id"]) for r in df.collect()}
        return len(got & truth) / len(truth)

    r_lsh = recall(lsh_topk(emb, queries, k=k, n_planes=4, n_tables=4))
    r_ivf = recall(ivf_topk(emb, queries, k=k, n_lists=8, n_probe=4))
    assert r_lsh >= 0.5, r_lsh
    assert r_ivf >= 0.5, r_ivf


def test_gopher_top_ngram_fractions(spark):
    from deeptime_spark.operators.text import gopher_top_ngram_fractions

    # "spam ham" appears 3x in 9 tokens -> top 2-gram
    text = "spam ham eggs spam ham toast spam ham beans"
    docs = spark.createDataFrame([(0, text), (1, "one two")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_top_ngram_fractions(docs).collect()}
    n = len(text)
    assert abs(out[0]["frac_top_2gram_chars"] - 3 * len("spam ham") / n) < 1e-12
    # all 3-grams unique (count 1) -> tie-break picks the
    # lexicographically smallest: "eggs spam ham"
    assert abs(out[0]["frac_top_3gram_chars"] - 1 * len("eggs spam ham") / n) < 1e-12
    assert out[1]["frac_top_2gram_chars"] == len("one two") / len("one two")
    assert out[1]["frac_top_3gram_chars"] == 0.0


def test_gopher_ops_null_text_safe(spark):
    from deeptime_spark.operators.text import gopher_quality, gopher_repetition

    docs = spark.createDataFrame([(0, None), (1, "the be to")], "doc_id long, text string")
    q = {r["doc_id"]: r for r in gopher_quality(docs).collect()}
    assert q[0]["passes_gopher"] == 0 and q[0]["n_words"] >= 0
    r = {x["doc_id"]: x for x in gopher_repetition(docs).collect()}
    assert r[0]["frac_dup_lines"] == 0.0


def test_semantic_duplicates(spark):
    """Two tight cosine groups + one isolated vector: the lowest id per
    group is kept, later members flag as dups of it; layout-independent."""
    import numpy as np

    rng = np.random.default_rng(5)
    base_a = rng.normal(size=8)
    base_b = rng.normal(size=8)
    rows = []
    for i in range(4):  # group A: tiny perturbations of base_a
        rows.append((i, (base_a + 1e-3 * rng.normal(size=8)).tolist()))
    for i in range(4, 7):  # group B
        rows.append((i, (base_b + 1e-3 * rng.normal(size=8)).tolist()))
    rows.append((7, rng.normal(size=8).tolist()))  # isolated
    df = spark.createDataFrame(rows, "vec_id long, x array<double>")

    flags = dedup.semantic_duplicates(
        df, n_clusters=2, threshold=0.99, kmeans_max_iter=4
    )
    got = {r["vec_id"]: r for r in flags.collect()}
    assert len(got) == 8
    assert not got[0]["is_dup"] and not got[4]["is_dup"] and not got[7]["is_dup"]
    for i in (1, 2, 3):  # dup_of = most-similar EARLIER member of group A
        assert got[i]["is_dup"] and got[i]["dup_of"] in (0, 1, 2) and got[i]["dup_of"] < i
    for i in (5, 6):
        assert got[i]["is_dup"] and got[i]["dup_of"] in (4, 5) and got[i]["dup_of"] < i

    # repartitioned input -> identical flags (clusters processed whole)
    flags2 = dedup.semantic_duplicates(
        df.repartition(7), n_clusters=2, threshold=0.99, kmeans_max_iter=4
    )
    a = sorted((r["vec_id"], r["is_dup"], r["dup_of"]) for r in flags.collect())
    b = sorted((r["vec_id"], r["is_dup"], r["dup_of"]) for r in flags2.collect())
    assert a == b

    kept = dedup.drop_semantic_duplicates(
        df, n_clusters=2, threshold=0.99, kmeans_max_iter=4
    )
    assert sorted(r["vec_id"] for r in kept.collect()) == [0, 4, 7]


def test_chunk_documents_edges(spark):
    from deeptime_spark.operators.chunking import chunk_documents

    rows = [
        (0, " ".join(f"t{i}" for i in range(11))),  # 11 toks: chunks at 0,4,8
        (1, "only two"),                             # shorter than chunk -> 1 chunk
        (2, ""),                                     # empty -> 1 empty chunk
        (3, None),                                   # null-safe
        (4, " ".join(f"t{i}" for i in range(6))),    # exactly chunk_tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=6, overlap=2)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(r)
    for v in got.values():
        v.sort(key=lambda r: r["chunk_idx"])
    assert [r["n_chunk_tokens"] for r in got[0]] == [6, 6, 3]
    assert got[0][1]["chunk_text"].split() == [f"t{i}" for i in range(4, 10)]
    # consecutive chunks overlap by exactly `overlap` tokens
    assert got[0][0]["chunk_text"].split()[-2:] == got[0][1]["chunk_text"].split()[:2]
    assert len(got[1]) == 1 and got[1][0]["n_chunk_tokens"] == 2
    assert len(got[2]) == 1 and got[2][0]["n_chunk_tokens"] == 0
    assert len(got[3]) == 1 and got[3][0]["n_chunk_tokens"] == 0
    assert len(got[4]) == 1 and got[4][0]["n_chunk_tokens"] == 6


def test_pack_documents(spark):
    from deeptime_spark.operators.chunking import pack_documents

    # shard A: 300+300 tokens at budget 512 -> doc 1 straddles the cut;
    # shard B independent offsets
    rows = [
        (0, " ".join("x" for _ in range(300)), "A"),
        (1, " ".join("x" for _ in range(300)), "A"),
        (2, " ".join("x" for _ in range(100)), "B"),
        (3, "", "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["doc_id"]: r for r in pack_documents(df, budget=512).collect()}
    assert got[0]["tok_offset"] == 0 and got[0]["pack_first"] == 0 == got[0]["pack_last"]
    assert got[1]["tok_offset"] == 300
    assert got[1]["pack_first"] == 0 and got[1]["pack_last"] == 1 and got[1]["straddles"] == 1
    assert got[2]["tok_offset"] == 0 and got[2]["shard"] == "B"
    assert got[3]["n_tokens"] == 0 and got[3]["straddles"] == 0


def test_pack_documents_virtual_shards(spark):
    """docs_per_shard sub-shards deterministically: each virtual shard
    packs independently with offsets restarting at 0, and within a
    virtual shard the result equals packing that id range alone."""
    from deeptime_spark.operators.chunking import pack_documents

    rows = [(i, " ".join("x" for _ in range(100)), "A") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["doc_id"]: r for r in pack_documents(df, budget=256, docs_per_shard=2).collect()}
    assert got[0]["shard"] == "A#0" and got[5]["shard"] == "A#2"
    # offsets restart per virtual shard: docs 0,2,4 each start a shard
    for i in (0, 2, 4):
        assert got[i]["tok_offset"] == 0 and got[i]["pack_first"] == 0
    # second member of each shard: offset 100, crosses the 256 cut at 199? no
    for i in (1, 3, 5):
        assert got[i]["tok_offset"] == 100
        assert got[i]["pack_first"] == 0 and got[i]["pack_last"] == 0


def test_chunk_pack_properties(spark):
    """Property sweep over random corpora: chunking covers every token
    with exact overlap; packing offsets are a consistent prefix sum and
    pack indices are monotone within each shard."""
    import numpy as np

    from deeptime_spark.operators.chunking import chunk_documents, pack_documents

    rng = np.random.default_rng(17)
    rows = []
    for i in range(40):
        n = int(rng.integers(0, 60))
        rows.append(
            (i, " ".join(f"w{rng.integers(0, 50)}" for _ in range(n)),
             f"s{int(rng.integers(0, 3))}")
        )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    ct, ov = 16, 4
    chunks = {}
    for r in chunk_documents(df, chunk_tokens=ct, overlap=ov).collect():
        chunks.setdefault(r["doc_id"], []).append(r)
    toks_by_id = {i: [w for w in t.split() if w] for i, t, _ in rows}
    for i, t, _ in rows:
        cs = sorted(chunks[i], key=lambda r: r["chunk_idx"])
        toks = toks_by_id[i]
        # coverage: stitching chunk windows at their stride reproduces the doc
        stitched = list(cs[0]["chunk_text"].split())
        for c in cs[1:]:
            stitched += c["chunk_text"].split()[ov:] if len(cs) > 1 else []
        if toks:
            assert stitched == toks, (i, stitched, toks)
        # overlap: consecutive chunks share exactly `ov` tokens (full chunks)
        for a, b in zip(cs, cs[1:]):
            at = a["chunk_text"].split()
            if len(at) == ct:
                assert at[-ov:] == b["chunk_text"].split()[: min(ov, b["n_chunk_tokens"])]

    packed = pack_documents(df, budget=64)
    by_shard = {}
    for r in packed.collect():
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["doc_id"])
        run = 0
        prev_pack = 0
        for r in rs:
            assert r["tok_offset"] == run  # prefix-sum consistency
            assert r["n_tokens"] == len(toks_by_id[r["doc_id"]])
            assert r["pack_first"] >= prev_pack  # monotone packs
            assert r["pack_last"] >= r["pack_first"]
            assert (r["straddles"] == 1) == (r["pack_first"] != r["pack_last"])
            prev_pack = r["pack_first"]
            run += r["n_tokens"]


def test_resize_images_real_ppm(spark):
    """Resize decodes real PPM bytes, emits bounded row-major RGB, and
    nearest-neighbor picks the exact expected source pixels; non-image
    payloads come back ok=false instead of silently faked."""
    import numpy as np

    from deeptime_spark.operators.multimodal import (
        decode_ppm, resize_image, resize_images, synth_ppm,
    )

    rows = [
        (0, bytearray(synth_ppm(16, 12, seed=3))),
        (1, bytearray(b"not an image")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in resize_images(df, height=4, width=5).collect()}
    assert got[1]["ok"] is False and got[1]["payload"] is None
    r0 = got[0]
    assert r0["ok"] and len(r0["payload"]) == 4 * 5 * 3
    img = decode_ppm(synth_ppm(16, 12, seed=3))
    want = resize_image(img, 4, 5).astype(np.uint8).tobytes()
    assert bytes(r0["payload"]) == want


def test_decontaminate(spark):
    from deeptime_spark.operators.dedup import decontaminate

    probe_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, probe_text),                                  # probe itself
        (1, "prefix words then " + probe_text),           # contains probe 8-grams
        (2, "totally different words in every position here now ok yes"),
        (3, None),                                        # null-safe
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    probes = docs.where(F.col("doc_id") == 0)
    got = {r["doc_id"]: r for r in decontaminate(docs, probes, n=8).collect()}
    assert got[0]["contaminated"] == 1
    assert got[1]["contaminated"] == 1 and got[1]["n_contaminated_grams"] >= 1
    assert got[2]["contaminated"] == 0 and got[2]["n_contaminated_grams"] == 0
    assert got[3]["contaminated"] == 0


# --------------------------------------------- C4 rules & span/line dedup


def test_c4_line_filter_rules(spark):
    df = spark.createDataFrame(
        [
            (1, "This sentence has enough words to survive the filter.\n"
                "too short\n"
                "Please accept our cookie policy before you continue reading.\n"
                "Enable javascript to view this page properly today.\n"
                "Another perfectly reasonable sentence with many words here."),
            (2, "one two"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.c4_line_filter(df).collect()}
    # doc 1: bad-phrase lines and the short line drop; the line without
    # terminal punctuation... both survivors end in '.', so both kept
    assert out[1]["n_lines_total"] == 5
    assert out[1]["n_lines_kept"] == 2
    assert out[1]["passes_c4"] == 0  # needs >=3 kept lines
    assert "cookie policy" not in out[1]["clean_text"]
    assert "javascript" not in out[1]["clean_text"]
    # doc 2: single short line fails min_words
    assert out[2]["n_lines_kept"] == 0
    assert out[2]["clean_text"] == ""


def test_c4_terminal_punct_optional(spark):
    df = spark.createDataFrame(
        [(1, "five words but no period here at all")], "doc_id long, text string"
    )
    strict = text.c4_line_filter(df).collect()[0]
    loose = text.c4_line_filter(df, require_terminal_punct=False).collect()[0]
    assert strict["n_lines_kept"] == 0
    assert loose["n_lines_kept"] == 1


def test_token_spans_short_doc_empty(spark):
    df = spark.createDataFrame([(1, "only four tokens here"), (2, None)], "doc_id long, text string")
    out = dedup.dedup_token_spans(df, span_tokens=10).orderBy("doc_id").collect()
    assert [r["n_spans"] for r in out] == [0, 0]
    assert [r["n_dup_spans"] for r in out] == [0, 0]


def test_dedup_token_spans_first_occurrence_wins(spark):
    span = " ".join(f"w{i}" for i in range(10))
    other = " ".join(f"x{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, span + " " + other), (2, span + " " + span), (3, other)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.dedup_token_spans(df, span_tokens=10).collect()}
    # doc1 holds both first occurrences -> 0 dups; doc2 repeats `span`
    # twice, both copies are dups; doc3's `other` already seen in doc1
    assert out[1]["n_dup_spans"] == 0 and out[1]["n_spans"] == 2
    assert out[2]["n_dup_spans"] == 2 and out[2]["n_spans"] == 2
    assert out[3]["n_dup_spans"] == 1
    assert out[3]["dup_span_frac"] == 1.0


def test_drop_duplicate_lines_across_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "a unique first-doc line\nshared boilerplate cookie banner\nok"),
            (2, "shared boilerplate cookie banner\nanother unique line of text\nok"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.drop_duplicate_lines_across_docs(df).collect()}
    assert out[1]["n_lines_dropped"] == 0
    assert out[2]["n_lines_dropped"] == 1
    assert "boilerplate" not in out[2]["clean_text"]
    # trivial line 'ok' passes through everywhere, order preserved
    assert out[2]["clean_text"] == "another unique line of text\nok"
    assert out[1]["clean_text"].endswith("ok")


def test_drop_duplicate_lines_all_docs_present(spark):
    # a doc whose every nontrivial line is a dup still appears (trivial tail)
    df = spark.createDataFrame(
        [(1, "the only nontrivial line"), (2, "the only nontrivial line")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.drop_duplicate_lines_across_docs(df).collect()}
    assert set(out) == {1, 2}
    assert out[2]["clean_text"] == "" and out[2]["n_lines_kept"] == 0


# ------------------------------------------------------------- IVF-PQ


def test_ivfpq_self_match_and_determinism(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = similarity.ivfpq_topk(emb, queries, k=5, n_lists=8, n_probe=3,
                                m_subvectors=8, k_codes=16)
    rows = res.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        best = min(rs, key=lambda r: r["rank"])
        # the query vector itself lives in its own probed cell and has the
        # minimal quantization distance -> rank 1 self-match
        assert best["vec_id"] == q
    # layout invariance: different partitioning, identical rows
    res2 = similarity.ivfpq_topk(emb.repartition(7), queries, k=5, n_lists=8,
                                 n_probe=3, m_subvectors=8, k_codes=16)
    a = sorted(map(tuple, rows))
    b = sorted(map(tuple, res2.collect()))
    assert a == b


def test_pq_codebooks_shape_and_validation(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    resid = rng.normal(size=(100, 16))
    books = similarity.pq_train_codebooks(resid, m_subvectors=4, k_codes=8)
    assert books.shape == (4, 8, 4)
    with pytest.raises(ValueError):
        similarity.pq_train_codebooks(resid, m_subvectors=5, k_codes=8)


def test_ivfpq_recall_reasonable(spark):
    # compressed-domain ADC should still place a good fraction of the true
    # L2 top-5 in its top-5 on the harness embeddings
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = similarity.ivfpq_topk(emb, queries, k=5, n_lists=8, n_probe=4,
                                 m_subvectors=8, k_codes=32).collect()
    X = np.array([r["embedding"] for r in emb.orderBy("vec_id").collect()])
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = total = 0
    for q in range(5):
        d = ((X - X[q]) ** 2).sum(axis=1)
        exact = set(np.argsort(d, kind="stable")[:5].tolist())
        hits += len(exact & got[q]); total += 5
    assert hits / total >= 0.3


# ------------------------------------------------------------- PII scrub


def test_pii_scrub_classes(spark):
    df = spark.createDataFrame(
        [
            (1, "mail john.doe@example.com call +1 (555) 123-4567 host 10.0.0.1"),
            (2, "card 4111 1111 1111 1111 and ssn 123-45-6789"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.pii_stats(df).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1 and out[1]["n_ipv4"] == 1
    assert "<EMAIL>" in out[1]["scrubbed_text"]
    assert "john.doe" not in out[1]["scrubbed_text"]
    assert "<PHONE>" in out[1]["scrubbed_text"] and "<IP>" in out[1]["scrubbed_text"]
    assert out[2]["n_credit_card"] == 1 and out[2]["n_ssn"] == 1
    assert "<CC>" in out[2]["scrubbed_text"] and "<SSN>" in out[2]["scrubbed_text"]
    assert "4111" not in out[2]["scrubbed_text"]
    assert out[3]["scrubbed_text"] == "" and out[3]["n_email"] == 0


def test_pii_scrub_leaves_clean_text_alone(spark):
    df = spark.createDataFrame(
        [(1, "perfectly ordinary sentence with no sensitive content")],
        "doc_id long, text string",
    )
    r = text.pii_stats(df).collect()[0]
    assert r["scrubbed_text"] == "perfectly ordinary sentence with no sensitive content"
    assert all(r[f"n_{n}"] == 0 for n, _, _ in text.PII_PATTERNS)


def test_span_dedup_matches_naive_reference(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    word = st.sampled_from(["aa", "bb", "cc", "dd"])

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(st.lists(word, min_size=0, max_size=14), min_size=1, max_size=8),
        st.integers(2, 4),
    )
    def check(docs_tokens, span):
        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
            for r in dedup.dedup_token_spans(df, span_tokens=span).collect()
        }
        # naive reference: first (doc_id, span_no) occurrence wins
        seen = {}
        expect = {}
        for i, toks in enumerate(rows):
            toks = rows[i][1].strip().lower().split()
            if rows[i][1].strip() == "":
                toks = [""]  # split('\\s+') of empty/whitespace text
            spans = [
                " ".join(toks[j * span : (j + 1) * span])
                for j in range(len(toks) // span)
            ]
            expect[i] = [len(spans), 0]
            for sn, s in enumerate(spans):
                if s in seen:
                    expect[i][1] += 1
                else:
                    seen[s] = (i, sn)
        # count duplicates exactly as the operator does: every occurrence
        # of a span with count > 1 that is not the global first
        # (the naive loop above visits in (doc_id, span_no) order, so
        # first-seen == global first)
        assert got == {k: tuple(v) for k, v in expect.items()}

    check()


def test_line_dedup_matches_naive_reference(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    line = st.sampled_from(
        ["a big nontrivial line", "another nontrivial one", "x", ""]
    )

    @settings(max_examples=8, deadline=None)
    @given(st.lists(st.lists(line, min_size=1, max_size=6), min_size=1, max_size=6))
    def check(docs_lines):
        rows = [(i, "\n".join(ls)) for i, ls in enumerate(docs_lines)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["clean_text"], r["n_lines_kept"], r["n_lines_dropped"])
            for r in dedup.drop_duplicate_lines_across_docs(df, min_chars=10).collect()
        }
        seen = set()
        expect = {}
        for i, text in rows:
            ls = text.split("\n")
            kept = []
            for l in ls:
                if len(l.strip()) < 10:
                    kept.append(l)
                elif l not in seen:
                    seen.add(l)
                    kept.append(l)
            expect[i] = ("\n".join(kept), len(kept), len(ls) - len(kept))
        assert got == expect

    check()


def test_pii_empty_pattern_list_scrubs_nothing(spark):
    df = spark.createDataFrame(
        [(1, "mail john@example.com")], "doc_id long, text string"
    )
    r = text.pii_stats(df, patterns=[]).collect()[0]
    assert r["scrubbed_text"] == "mail john@example.com"


def test_quality_classifier_separates_and_layout_independent(spark):
    from deeptime_spark.operators.text import quality_classifier_scores_df

    good_text = (
        "the quick brown fox jumps over the lazy dog and runs to have "
        "a long rest with that other fox near the river bank today " * 3
    )
    bad_text = "### ### ### #tag #tag ### " * 20
    rows = [(i, good_text + f" extra{i}") for i in range(10)] + [
        (100 + i, bad_text + f" #{i}") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in quality_classifier_scores_df(df).collect()}
    # the NB model recovers the weak-label structure it trained on
    assert all(out[i]["pred_good"] == 1 for i in range(10))
    assert all(out[100 + i]["pred_good"] == 0 for i in range(10))
    # identical log-odds under a hostile repartition
    out2 = {
        r["doc_id"]: r["log_odds"]
        for r in quality_classifier_scores_df(df.repartition(7, "doc_id")).collect()
    }
    assert all(out[k]["log_odds"] == out2[k] for k in out)


def test_quality_classifier_vocab_cut_is_bounded_and_exact(spark):
    """The vocab_size cut now happens DISTRIBUTEDLY (TakeOrdered +
    semi-join) before the collect; output must equal the unbounded model
    truncated on the driver — same (total desc, word) tie-break."""
    from deeptime_spark.operators.text import quality_classifier_scores_df

    good = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(i, good + f"uniq{i}a uniq{i}b uniq{i}c") for i in range(12)] + [
        (100 + i, "### " * 60 + f"tag{i}x tag{i}y") for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # many distinct singleton tokens; tiny vocab forces the cut to bite
    small = {
        r["doc_id"]: r for r in quality_classifier_scores_df(df, vocab_size=8).collect()
    }
    big = {
        r["doc_id"]: r
        for r in quality_classifier_scores_df(df, vocab_size=10**6).collect()
    }
    assert set(small) == set(big) == {r[0] for r in rows}
    # the classifier still separates with the capped vocab
    assert all(small[i]["pred_good"] == 1 for i in range(12))
    assert all(small[100 + i]["pred_good"] == 0 for i in range(12))
    # layout independence survives the distributed cut
    small2 = {
        r["doc_id"]: r["log_odds"]
        for r in quality_classifier_scores_df(
            df.repartition(7, "doc_id"), vocab_size=8
        ).collect()
    }
    assert all(small[k]["log_odds"] == small2[k] for k in small)


def test_quality_classifier_label_col_pathway(spark):
    """Curated-positive-set training: labels come from label_col, NOT the
    gopher heuristic — docs the heuristic would label identically still
    separate by the curated label's vocabulary."""
    from deeptime_spark.operators.text import quality_classifier_scores_df

    # all docs pass/fail gopher identically (same length/shape); only the
    # curated label distinguishes wiki-style from spam-style vocabulary
    wiki = "the national library archive holds many historic records about "
    spam = "click here buy now cheap deal winner prize claim free offer "
    rows = [(i, (wiki * 4) + f"w{i}", 1) for i in range(8)] + [
        (100 + i, (spam * 4) + f"s{i}", 0) for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, curated int")
    out = {
        r["doc_id"]: r
        for r in quality_classifier_scores_df(df, label_col="curated").collect()
    }
    assert all(out[i]["pred_good"] == 1 for i in range(8))
    assert all(out[100 + i]["pred_good"] == 0 for i in range(8))
    # layout-independent under the curated pathway too
    out2 = {
        r["doc_id"]: r["log_odds"]
        for r in quality_classifier_scores_df(
            df.repartition(5, "doc_id"), label_col="curated"
        ).collect()
    }
    assert all(out[k]["log_odds"] == out2[k] for k in out)


def test_bigram_lm_scores_context_and_layout(spark):
    """The bigram term must reward in-corpus word ORDER: a document with
    corpus-typical bigrams outscores the same unigrams shuffled into
    atypical order; results are identical under hostile repartitioning
    and the pruned-table caps leave scores unchanged when they don't
    bind."""
    from deeptime_spark.operators.text import bigram_lm_scores_df

    base = "the quick brown fox jumps over the lazy dog"
    rows = [(i, base) for i in range(20)]
    rows.append((100, base))                          # typical order
    rows.append((101, "dog the over fox lazy jumps brown quick the"))  # shuffled
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_lm_scores_df(df).collect()}
    assert out[100]["n_tokens"] == out[101]["n_tokens"] == 9
    assert out[100]["lm2_score"] > out[101]["lm2_score"]

    out2 = {
        r["doc_id"]: r["lm2_score"]
        for r in bigram_lm_scores_df(df.repartition(7, "doc_id")).collect()
    }
    assert all(out[k]["lm2_score"] == out2[k] for k in out)

    # a binding bigram cap only REMOVES bigram mass (scores drop toward
    # the unigram-only backoff), never crashes or changes n_tokens
    capped = {
        r["doc_id"]: r
        for r in bigram_lm_scores_df(df, bigram_size=3).collect()
    }
    assert all(capped[k]["n_tokens"] == out[k]["n_tokens"] for k in out)
    assert capped[100]["lm2_score"] <= out[100]["lm2_score"]


def test_pack_token_sequences_semantics(spark):
    """Tokenize-and-pack: documents concatenate in doc_id order within a
    shard, straddle sequence boundaries without padding, the last
    sequence may be short, and results are layout-independent."""
    from deeptime_spark.operators.bpe import (
        bpe_encode_df,
        pack_token_sequences,
        train_bpe,
    )

    rows = [
        (1, "aaa bb aaa", "s1"),
        (2, "bb bb cc", "s1"),
        (3, "aaa aaa aaa aaa", "s1"),
        (10, "cc dd", "s2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    merges = train_bpe(df, n_merges=10, min_count=1)
    enc = {
        r["doc_id"]: list(r["toks"])
        for r in bpe_encode_df(df, merges, extra_cols=("source",)).collect()
    }
    # reference pack: concatenate per shard in doc_id order, chop at 4
    expected = {}
    for shard, ids in (("s1", [1, 2, 3]), ("s2", [10])):
        stream = [(d, t) for d in ids for t in enc[d]]
        for k in range(0, len(stream), 4):
            chunk = stream[k : k + 4]
            expected[(shard, k // 4)] = (
                [t for _, t in chunk],
                len({d for d, _ in chunk}),
                min(d for d, _ in chunk),
            )

    for layout in (df, df.repartition(5, "doc_id"), df.coalesce(1)):
        got = {
            (r["shard"], r["seq_idx"]): (
                list(r["toks"]),
                r["n_docs"],
                r["first_doc_id"],
            )
            for r in pack_token_sequences(layout, merges, seq_len=4).collect()
        }
        assert got == expected
    # boundary facts the reference pack must exhibit for the test to
    # mean anything: at least one straddling sequence and a short tail
    assert any(n > 1 for (toks, n, _) in expected.values())
    assert any(len(toks) < 4 for (toks, n, _) in expected.values())


# ------------------------------------------ persistent signature index


def test_signature_index_roundtrip_matches_direct(spark, tmp_path):
    """Probing a written index must find the same (new, old) near-dup
    pairs as direct in-memory banding over the combined corpus."""
    from deeptime_spark.operators.dedup import (
        _banded_signature_rows,
        probe_signature_index,
        write_signature_index,
    )
    from pyspark.sql import functions as F

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base + (f" tail{i}" if i % 2 else ""), "s") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    old = docs.where("doc_id % 3 != 0")
    new = docs.where("doc_id % 3 = 0")
    idx = str(tmp_path / "idx")
    write_signature_index(old, idx, n_hashes=32, bands=8)
    got = {
        (r["new_id"], r["old_id"])
        for r in probe_signature_index(spark, new, idx, threshold=0.3, n_hashes=32, bands=8).collect()
    }
    # direct reference: band rows of both sides joined in memory
    nb = _banded_signature_rows(new, n_hashes=32, bands=8).select(
        F.col("doc_id").alias("new_id"), F.col("minhash").alias("_a"), "band_idx", "band_hash"
    )
    ob = _banded_signature_rows(old, n_hashes=32, bands=8).select(
        F.col("doc_id").alias("old_id"), F.col("minhash").alias("_b"), "band_idx", "band_hash"
    )
    est = F.size(
        F.filter(F.zip_with("_a", "_b", lambda x, y: (x == y).cast("int")), lambda v: v == 1)
    ) / F.lit(32)
    exp = {
        (r["new_id"], r["old_id"])
        for r in nb.join(ob, ["band_idx", "band_hash"])
        .dropDuplicates(["new_id", "old_id"])
        .where(est >= 0.3)
        .collect()
    }
    assert got == exp and len(got) > 0


def test_signature_index_partitioned_by_band(spark, tmp_path):
    import os

    from deeptime_spark.operators.dedup import write_signature_index

    docs = spark.createDataFrame(
        [(i, f"some text body number {i} with words", "s") for i in range(10)],
        "doc_id long, text string, source string",
    )
    idx = str(tmp_path / "idx")
    write_signature_index(docs, idx, n_hashes=32, bands=8)
    subdirs = {d for d in os.listdir(idx) if d.startswith("band_idx=")}
    assert len(subdirs) == 8


def test_novelty_scores_first_occurrence_semantics(spark):
    from deeptime_spark.operators.text import novelty_scores

    rows = [
        (1, "alpha beta gamma delta", "s"),      # all grams first-seen here
        (2, "alpha beta gamma delta", "s"),      # exact clone -> novelty 0
        (3, "alpha beta gamma epsilon zeta", "s"),  # partial overlap
        (4, "xy", "s"),                          # <3 tokens -> whole-text gram
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in novelty_scores(docs, n=3).collect()}
    assert out[1]["novelty_ppm"] == 1_000_000
    assert out[2]["novelty_ppm"] == 0
    assert out[4]["n_grams"] == 1 and out[4]["novelty_ppm"] == 1_000_000
    # doc 3: grams = {a b g, b g e, g e z}; 'alpha beta gamma' seen in doc 1
    assert out[3]["n_grams"] == 3 and out[3]["n_novel"] == 2
    assert out[3]["novelty_ppm"] == 666_666


def test_novelty_layout_invariance(spark):
    from deeptime_spark.operators.text import novelty_scores

    rows = [(i, f"w{i%4} w{(i+1)%4} w{(i+2)%4} w{(i+3)%4}", "s") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    a = sorted(map(tuple, novelty_scores(docs).collect()))
    b = sorted(map(tuple, novelty_scores(docs.repartition(7)).collect()))
    assert a == b


def test_verify_candidates_containment_asymmetric(spark):
    """A short doc fully contained in a long one: containment ~1 in the
    small->large direction while Jaccard is low."""
    from deeptime_spark.operators.dedup import (
        verify_candidates_containment,
        verify_candidates_jaccard,
    )

    small = "alpha beta gamma delta epsilon"
    big = small + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, small), (2, big), (3, "totally different content here now")],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    rows = {(r["id_a"], r["id_b"]): r
            for r in verify_candidates_containment(cands, docs, threshold=0.5).collect()}
    assert (1, 2) in rows and (1, 3) not in rows
    r = rows[(1, 2)]
    assert r["containment_a"] == 1.0  # every trigram of small is in big
    assert r["containment_b"] < 0.2
    # the Jaccard verifier would reject the same pair at any real threshold
    jac = verify_candidates_jaccard(cands, docs, threshold=0.5).collect()
    assert not jac


def test_prefix_duplicates_groups_and_normalize(spark):
    from deeptime_spark.operators.dedup import prefix_duplicates

    head = "breaking news: markets rally on strong earnings beat today"
    docs = spark.createDataFrame(
        [
            (1, head + " tail one with extra words"),
            (2, "  " + head.upper() + " different continuation entirely"),
            (3, head + " third variant of the same template"),
            (4, "unrelated document about something else entirely ok"),
        ],
        "doc_id long, text string",
    )
    got = prefix_duplicates(docs, prefix_chars=len(head)).collect()
    assert len(got) == 1
    g = got[0]
    assert g["n_copies"] == 3 and g["canonical_id"] == 1
    assert sorted(g["doc_ids"]) == [1, 2, 3]
    # without normalization the upper-cased copy falls out of the group
    raw = prefix_duplicates(docs, prefix_chars=len(head), normalize=False).collect()
    assert raw[0]["n_copies"] == 2


def test_mad_anomalies_flags_and_degenerate_group(spark):
    from deeptime_spark.operators.stats import mad_anomalies

    rows = [("a", float(v)) for v in [10, 11, 12, 10, 11, 12, 10, 11, 100]]
    rows += [("b", 5.0)] * 6 + [("b", 9.0)]
    df = spark.createDataFrame(rows, "grp string, value double")
    out = mad_anomalies(df, "value", ("grp",), z_threshold=3.5)
    a = [r for r in out.collect() if r["grp"] == "a"]
    flagged = [r["value"] for r in a if r["is_anomaly"]]
    assert flagged == [100.0]
    assert all(r["rob_z"] is not None for r in a)
    # group b: MAD = 0 (most values identical) -> any deviation flagged,
    # rob_z null
    b = {r["value"]: r for r in out.collect() if r["grp"] == "b"}
    assert b[9.0]["is_anomaly"] and b[9.0]["rob_z"] is None
    assert not b[5.0]["is_anomaly"]


# ---------------------------------------------------------------- PMI


def _brute_pmi(texts, min_count=1, top_k=100):
    import math
    from collections import Counter

    uni, bi = Counter(), Counter()
    for t in texts:
        toks = [w for w in (t or "").lower().strip().split() if w]
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    T, B = sum(uni.values()), sum(bi.values())
    rows = []
    for (w1, w2), c12 in bi.items():
        if c12 < min_count:
            continue
        ratio = (c12 / B) / ((uni[w1] / T) * (uni[w2] / T))
        rows.append((w1, w2, c12, uni[w1], uni[w2], ratio, math.log(ratio)))
    rows.sort(key=lambda r: (-r[5], r[0], r[1]))
    return rows[:top_k]


def test_pmi_collocations_matches_bruteforce(spark):
    from deeptime_spark.operators.text import pmi_collocations

    texts = [
        "new york is in new york state",
        "new york city and san francisco",
        "san francisco fog and new york rain",
        "the city the state the fog",
        None,
        "",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = [
        (r["w1"], r["w2"], r["c12"], r["c1"], r["c2"], r["pmi_ratio"])
        for r in pmi_collocations(df, min_count=2, top_k=10).collect()
    ]
    exp = [(w1, w2, c12, c1, c2, pytest.approx(ratio, rel=1e-12))
           for w1, w2, c12, c1, c2, ratio, _ in _brute_pmi(texts, min_count=2, top_k=10)]
    assert got == exp


def test_pmi_collocations_min_count_and_validation(spark):
    from deeptime_spark.operators.text import pmi_collocations

    df = spark.createDataFrame([(0, "a b a b c d")], "doc_id long, text string")
    rows = pmi_collocations(df, min_count=2, top_k=5).collect()
    assert [(r["w1"], r["w2"]) for r in rows] == [("a", "b")]
    assert rows[0]["c12"] == 2
    with pytest.raises(ValueError):
        pmi_collocations(df, min_count=0)


# ---------------------------------------------------------- image aHash


def _brute_ahash(payload, hash_size=8):
    import numpy as np

    from deeptime_spark.operators.multimodal import decode_bmp, decode_ppm

    img = decode_ppm(payload) if payload[:2] == b"P6" else decode_bmp(payload)
    gray = img.astype(np.int32).sum(axis=2)
    ys = (np.arange(hash_size) * gray.shape[0]) // hash_size
    xs = (np.arange(hash_size) * gray.shape[1]) // hash_size
    small = gray[ys][:, xs]
    mean = int(small.sum()) // (hash_size * hash_size)
    h = 0
    for b in (small > mean).flatten():
        h = (h << 1) | int(b)
    return h - (1 << 64) if h >= 1 << 63 else h


def test_ahash_images_matches_replica_and_flags_bad(spark):
    from deeptime_spark.operators.multimodal import ahash_images, synth_ppm

    rows = [(i, synth_ppm(16, 16, seed=i)) for i in range(20)]
    rows.append((99, b"not an image"))
    rows.append((98, None))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: (r["ahash"], r["ok"]) for r in ahash_images(df).collect()}
    for i, p in rows[:20]:
        assert got[i] == (_brute_ahash(p), True)
    assert got[99] == (None, False)
    assert got[98] == (None, False)


def test_ahash_near_pairs_finds_planted_variant(spark):
    from deeptime_spark.operators.dedup import hamming_near_pairs
    from deeptime_spark.operators.multimodal import ahash_images, synth_ppm

    base = {i: bytearray(synth_ppm(16, 16, seed=i)) for i in range(30)}
    rows = [(i, bytes(p)) for i, p in base.items()]
    # variant of image 3: flip one pixel byte near the end
    v = bytearray(base[3])
    v[-5] = (v[-5] + 80) % 256
    rows.append((1003, bytes(v)))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    sigs = ahash_images(df).where("ok").select("media_id", "ahash")
    pairs = hamming_near_pairs(
        sigs, id_col="media_id", sig_col="ahash", max_hamming=8
    ).collect()
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert (3, 1003) in found and found[(3, 1003)] <= 8
    # random 16x16 images essentially never collide within radius 8
    assert all(a == 3 and b == 1003 for (a, b) in found), found


def test_compression_ratio_matches_zlib(spark):
    import zlib

    from deeptime_spark.operators.text import compression_ratio_df

    rows = [
        (1, "abc " * 500),       # highly compressible boilerplate
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, None),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: (r["n_bytes"], r["n_compressed"], r["ratio_ppm"])
           for r in compression_ratio_df(df).collect()}
    for i, t in rows:
        raw = (t or "").encode("utf-8")
        comp = zlib.compress(raw, 6)
        exp = (len(raw), len(comp), len(comp) * 1_000_000 // len(raw) if raw else 0)
        assert got[i] == exp
    # boilerplate compresses far better than natural text
    assert got[1][2] < got[2][2]


def _brute_dup_substring_spans(docs, k, min_occ=2):
    from collections import Counter

    toks = {d: t.lower().split() for d, t in docs}
    shingles = Counter()
    pos = {}
    for d, t in toks.items():
        pos[d] = []
        for i in range(len(t) - k + 1):
            g = " ".join(t[i : i + k])
            shingles[g] += 1
            pos[d].append((i, g))
    out = []
    for d, plist in pos.items():
        hits = [i for i, g in plist if shingles[g] >= min_occ]
        if not hits:
            continue
        start = prev = hits[0]
        for i in hits[1:]:
            if i - prev > k:
                out.append((d, start, prev + k - 1, prev - start + k))
                start = i
            prev = i
        out.append((d, start, prev + k - 1, prev - start + k))
    return sorted(out)


def test_duplicated_substring_spans_bruteforce(spark, rng):
    from deeptime_spark.operators.dedup import duplicated_substring_spans

    words = ["w%d" % i for i in range(30)]
    docs = []
    for d in range(40):
        n = int(rng.integers(5, 60))
        docs.append((d, " ".join(words[int(rng.integers(0, 30))] for _ in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for k in (3, 5):
        got = sorted(
            tuple(r)
            for r in duplicated_substring_spans(df, k=k).collect()
        )
        assert got == _brute_dup_substring_spans(docs, k), k


def test_duplicated_substring_spans_edges(spark):
    import pytest

    from deeptime_spark.operators.dedup import duplicated_substring_spans

    docs = [(1, "a b c"), (2, ""), (3, None), (4, "a b c")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(tuple(r) for r in duplicated_substring_spans(df, k=3).collect())
    assert got == [(1, 0, 2, 3), (4, 0, 2, 3)]
    # docs shorter than k never emit
    assert duplicated_substring_spans(df, k=4).count() == 0
    with pytest.raises(ValueError):
        duplicated_substring_spans(df, k=0)
    with pytest.raises(ValueError):
        duplicated_substring_spans(df, k=3, min_occurrences=1)


def test_drop_duplicated_substrings_keeps_first(spark):
    from deeptime_spark.operators.dedup import drop_duplicated_substrings

    docs = [
        (1, "a b c d e f g h"),
        (2, "x y a b c d e z"),   # later copy of "a b c d e" -> excised
        (3, "p q r s t"),
        (4, ""),
        (5, "a b c d e"),         # another later copy -> fully excised
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: tuple(r)[1:] for r in drop_duplicated_substrings(df, k=3).collect()}
    assert got[1] == ("a b c d e f g h", 8, 0)
    assert got[2] == ("x y z", 3, 5)
    assert got[3] == ("p q r s t", 5, 0)
    assert got[4] == ("", 0, 0)
    assert got[5] == ("", 0, 5)


def test_cluster_term_lift_known_corpus(spark):
    import pytest

    from deeptime_spark.operators.text import cluster_term_lift

    # cluster 0 is about cats, cluster 1 about dogs; "the" is uniform
    docs = [
        (0, "the cat cat cat sat"), (1, "the cat cat purr purr"),
        (2, "the dog dog dog ran"), (3, "the dog dog bark bark"),
    ]
    asg = [(0, 0), (1, 0), (2, 1), (3, 1)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    a = spark.createDataFrame(asg, "doc_id long, cluster long")
    out = cluster_term_lift(df, a, min_count=2, top_k=3).collect()
    by_c = {}
    for r in out:
        by_c.setdefault(r["cluster"], []).append((r["term"], r["tf"], r["lift"]))
    for c in by_c:
        by_c[c].sort(key=lambda x: (-x[2], x[0]))
    # cluster-exclusive words all score lift 2.0 ((tf/10) / (tf/20));
    # ties break by term asc, so each cluster's exclusive vocabulary
    # leads and the uniform word ("the", lift 1.0) ranks last
    assert [t for t, _, _ in by_c[0]] == ["cat", "purr", "the"]
    assert [t for t, _, _ in by_c[1]] == ["bark", "dog", "the"]
    for t, _, l in by_c[0] + by_c[1]:
        assert l == pytest.approx(1.0 if t == "the" else 2.0)


def test_distinct_ngram_diversity_known_values(spark):
    from deeptime_spark.operators.text import distinct_ngram_diversity

    df = spark.createDataFrame(
        [
            (1, "a b a b", "s1"),
            (2, "a a a a", "s1"),
            (3, "x y z", "s2"),
            (4, "   ", "s2"),
            (5, None, "s2"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        (r["source"], r["n"]): (r["n_ngrams"], r["n_distinct"], r["distinct_ratio"])
        for r in distinct_ngram_diversity(df).collect()
    }
    assert got[("s1", 1)] == (8, 2, 0.25)
    assert got[("s1", 2)] == (6, 3, 0.5)
    assert got[("s1", 3)] == (4, 3, 0.75)
    assert got[("s2", 1)] == (3, 3, 1.0)
    assert got[("s2", 3)] == (1, 1, 1.0)
    import pytest as _pt

    with _pt.raises(ValueError):
        distinct_ngram_diversity(df, ns=())
    with _pt.raises(ValueError):
        distinct_ngram_diversity(df, ns=(0, 2))


def test_dedup_threshold_sweep_monotone_and_exact(spark):
    from deeptime_spark.operators.dedup import dedup_threshold_sweep, ppjoin_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where(
        "source = 'src0'"
    )
    sweep = {
        r["threshold_pct"]: r["n_pairs"]
        for r in dedup_threshold_sweep(docs, thresholds=(50, 70, 90)).collect()
    }
    assert sweep[50] >= sweep[70] >= sweep[90]
    # each point equals an independent exact join at that threshold
    for t in (70, 90):
        exact = ppjoin_pairs(docs, threshold_pct=t).count()
        assert sweep[t] == exact
    import pytest as _pt

    with _pt.raises(ValueError):
        dedup_threshold_sweep(docs, thresholds=())
    with _pt.raises(ValueError):
        dedup_threshold_sweep(docs, thresholds=(0, 50))
