"""Physical-plan assertions: the 100 TB design claims, checked in CI.

Each test pins a property the operators claim in their docstrings —
predicate pushdown reaching the parquet scan, broadcast joins for dim
tables, map-only transforms with zero shuffles, JVM-only text paths with
no Python evaluation — so a regression that silently de-optimizes a plan
(e.g. a cast blocking pushdown, a join flipping to sort-merge) fails
loudly instead of just getting slower.
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_exchanges(plan: str) -> int:
    import re

    # detail headers "(3) Exchange" — one per exchange, tree lines excluded
    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_q6_filters_pushed_to_scan(spark):
    plan = plan_of(entrymod._q_q6_forecast_revenue(spark, SF))
    assert "PushedFilters" in plan
    # shipdate range + discount bounds + quantity reach the parquet reader
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
    assert "l_quantity" in plan.split("PushedFilters")[1][:400]


def test_q6_scan_prunes_columns(spark):
    plan = plan_of(entrymod._q_q6_forecast_revenue(spark, SF))
    read = plan.split("ReadSchema")[1][:400]
    assert "l_extendedprice" in read and "l_discount" in read
    # untouched wide columns must not be read
    assert "l_returnflag" not in read and "l_partkey" not in read


def test_q3_q5_broadcast_dims(spark):
    for q in (entrymod._q_q3_top_orders, entrymod._q_q5_supplier_volume):
        plan = plan_of(q(spark, SF))
        assert "BroadcastHashJoin" in plan, plan[:2000]


def test_text_stats_no_python_eval(spark):
    plan = plan_of(entrymod._q_doc_token_stats(spark, SF))
    assert "EvalPython" not in plan  # neither BatchEvalPython nor ArrowEvalPython
    assert "codegen id" in plan  # whole-stage codegen spans the projection


def test_doc_quality_no_python_eval(spark):
    plan = plan_of(entrymod._q_doc_quality(spark, SF))
    assert "EvalPython" not in plan


def test_event_moments_single_shuffle(spark):
    # partial map-side aggregation -> one exchange -> final aggregate
    plan = plan_of(entrymod._q_event_moments(spark, SF))
    assert n_exchanges(plan) == 2, plan


def test_transition_counts_bounded_shuffles(spark):
    # one shuffle for the per-trajectory window, one for the (s_from, s_to)
    # aggregation — lagtime must not add passes
    plan = plan_of(entrymod._q_event_transition_counts(spark, SF))
    assert n_exchanges(plan) <= 2, plan
    # counting many lags in one pass adds no exchange over counting one
    from deeptime_spark.markov.transition_counting import _lag_counts_df

    traj = entrymod._event_traj(spark, SF).select("traj_id", "t", "state")
    one, three = (plan_of(_lag_counts_df(traj, lags, "sliding", "state")) for lags in ([1], [1, 2, 3]))
    assert n_exchanges(three) == n_exchanges(one), three


def test_cluster_transform_map_only(spark):
    from deeptime_spark.clustering.cluster_model import ClusterModel
    import numpy as np

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    model = ClusterModel(np.zeros((4, 64)) + np.arange(4)[:, None])
    plan = plan_of(model.transform(emb))
    assert "Exchange" not in plan, plan  # broadcast argmin: no shuffle


def test_kernel_gram_map_only(spark):
    import numpy as np

    from deeptime_spark.kernels import GaussianKernel

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    plan = plan_of(GaussianKernel(2.0).gram_df(emb, np.ones((3, 64))))
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_lsh_pipelines_bounded_shuffles(spark):
    # minhash: explode -> partial-agg signature (1) -> band bucket window
    # (2) -> bucket collect (3); banding must not add passes beyond three.
    # simhash budgets ONE more: the Zipf token-collapse groupBy(id, hash)
    # (operators/dedup.py:simhash_signatures_df) trades an extra map-side-
    # combined exchange for running the 64 CASE votes over distinct rather
    # than all token occurrences (measured 2-4x at sf0.1); both its
    # exchanges carry combiner-reduced rows, never raw occurrences.
    for q, budget in ((entrymod._q_minhash_bands, 3), (entrymod._q_simhash_pairs, 4)):
        plan = plan_of(q(spark, SF))
        assert n_exchanges(plan) <= budget, plan[:1500]
        assert "EvalPython" not in plan


def test_ivf_quantizer_sample_no_global_sort(spark):
    # the content-addressed quantizer sample must run as a per-partition
    # top-k (TakeOrderedAndProject), not a full Sort + Limit
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    key = F.md5(F.col("vec_id").cast("string"))
    sampled = emb.select(F.col("embedding"), key.alias("_h")).orderBy("_h").limit(256)
    plan = plan_of(sampled)
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_deterministic_kmeans_iteration_map_only(spark):
    # each Lloyd iteration is one scan: Arrow partials stage, no shuffle
    # (the reduce is p*k rows collected to the driver)
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        F.col("embedding").cast("array<double>").alias("x")
    )
    schema = StructType(
        [
            StructField("cluster", LongType()),
            StructField("n", LongType()),
            StructField("sums", ArrayType(LongType())),
        ]
    )

    def partials(batches):
        yield pd.DataFrame({"cluster": [0], "n": [0], "sums": [[0]]})

    plan = plan_of(emb.mapInPandas(partials, schema=schema))
    assert "Exchange" not in plan, plan[:1500]


def test_regspace_exact_round_no_global_sort(spark):
    # one distributed round = uncovered-filter (map) + scan-order batch
    # via TakeOrderedAndProject — no full Sort, no Exchange
    import numpy as np
    import pandas as pd

    from deeptime_spark.clustering.cluster_model import _pairwise_sq_dists

    traj = entrymod._event_traj(spark, SF)
    feat = traj.select("traj_id", "t", F.array(F.col("value") / 100.0).alias("x"))
    C = np.zeros((3, 1))

    @F.pandas_udf("boolean")
    def far(xs: pd.Series) -> pd.Series:
        X = np.stack(xs.to_numpy())
        return pd.Series(_pairwise_sq_dists(X, C).min(axis=1) > 1.0)

    batch = feat.filter(far(F.col("x"))).orderBy("traj_id", "t").limit(4096).select("x")
    plan = plan_of(batch)
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_gopher_paths_stay_jvm_side(spark):
    # quality is pure codegen; repetition's gram counting runs as
    # explode + hash aggregate + one window — no Python evaluation
    for q in (entrymod._q_doc_gopher_quality, entrymod._q_doc_gopher_repetition):
        plan = plan_of(q(spark, SF))
        assert "EvalPython" not in plan, plan[:1200]


def test_range_join_no_nested_loop_in_harness_query(spark):
    plan = plan_of(entrymod._q_event_session_range_join(spark, SF))
    assert "BroadcastNestedLoop" not in plan, plan[:1200]


def test_simhash_hash_not_inlined_into_aggregates(spark):
    # sql impl: xxhash64 must be computed in ONE projection, not inlined
    # into the 64 bit-vote aggregates (generated-aggregate code size ->
    # ~5s JIT compile for a fresh plan) — exactly one xxhash64.
    from deeptime_spark.operators.dedup import simhash_signatures_df

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(simhash_signatures_df(docs, impl="sql"))
    assert plan.count("xxhash64") == 1, plan[:2000]


def test_simhash_arrow_impl_map_only(spark):
    # r12 default impl: ONE Python eval pass, no aggregate, and no
    # exchange beyond the conditional input spread — the fingerprint is
    # scan-local (token bytes never shuffle)
    from deeptime_spark.operators.dedup import simhash_signatures_df

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(simhash_signatures_df(docs))
    assert "MapInPandas" in plan, plan[:1500]
    assert "HashAggregate" not in plan, plan[:1500]
    assert n_exchanges(plan) <= 1, plan[:1500]


def test_minhash_arrow_impl_map_only(spark):
    # r12 default impl: scan-local numpy signatures — one Python eval
    # node, no aggregate, no exchange beyond the conditional spread
    from deeptime_spark.operators.dedup import minhash_signatures_df

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(minhash_signatures_df(docs, n_hashes=32))
    assert "MapInPandas" in plan, plan[:1500]
    assert "HashAggregate" not in plan, plan[:1500]
    assert n_exchanges(plan) <= 1, plan[:1500]


def test_minhash_hash_not_inlined_into_aggregates(spark):
    # sql impl: the 32 murmur blocks live in one projection; the aggregate
    # buffers are min(element_at(...)) — no hash(...) inside HashAggregate
    from deeptime_spark.operators.dedup import minhash_signatures_df

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(minhash_signatures_df(docs, n_hashes=32, impl="sql"))
    agg_sections = [
        seg for seg in plan.split("\n") if "HashAggregate" in seg
    ]
    assert agg_sections, plan[:1500]
    for seg in agg_sections:
        assert "hash(_sh" not in seg, seg[:800]


def test_c4_filter_map_only_no_python(spark):
    # C4 line filter is a single projection: no shuffle, no Python
    from deeptime_spark.operators.text import c4_line_filter

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(c4_line_filter(docs))
    assert "EvalPython" not in plan
    assert n_exchanges(plan) == 0, plan


def test_line_dedup_partial_agg_before_shuffle(spark):
    # winners aggregate must run partial (map-side) so a degenerate hot
    # line collapses per map task before the exchange
    from deeptime_spark.operators.dedup import drop_duplicate_lines_across_docs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(drop_duplicate_lines_across_docs(docs))
    assert "EvalPython" not in plan
    assert "partial_min" in plan or "partial min" in plan.lower(), plan


def test_span_dedup_no_python_partial_agg(spark):
    from deeptime_spark.operators.dedup import dedup_token_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(dedup_token_spans(docs))
    assert "EvalPython" not in plan
    assert "partial_min" in plan or "partial min" in plan.lower(), plan


def test_mixing_sample_pure_codegen_pushdown(spark):
    # deterministic sampling is one codegen predicate: no shuffle, no
    # Python, and the scan only reads the referenced columns
    from deeptime_spark.operators.mixing import stratified_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "source")
    plan = plan_of(stratified_sample(docs, {"src0": 500000}, default_ppm=100000))
    assert "EvalPython" not in plan
    assert n_exchanges(plan) == 0, plan
    read = plan.split("ReadSchema")[1][:300]
    assert "text" not in read


def test_ivfpq_scoring_stays_jvm(spark):
    # ADC scoring is a JVM fold over the broadcast table: the only Python
    # in the whole plan is the one Arrow encode pass
    from deeptime_spark.operators.similarity import ivfpq_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = plan_of(ivfpq_topk(emb, queries, k=3, n_lists=4, n_probe=2,
                              m_subvectors=8, k_codes=8))
    import re

    # exactly one Arrow kernel per stage — corpus assign, PQ encode,
    # query probe-cells, query ADC table — all BEFORE the probe join
    # (the coalesce join-key fix stops the inferred isnotnull filter
    # re-evaluating assign; exploding the probe UDF directly stops the
    # Generate re-evaluating it); ADC scoring + two-stage top-k are JVM
    n_arrow = len(re.findall(r"\(\d+\) ArrowEvalPython", plan))
    assert n_arrow <= 4, plan
    join_tail = plan.split("BroadcastHashJoin")[-1]
    assert "EvalPython" not in join_tail.split("(1) Scan")[0][:4000]
    assert "BroadcastHashJoin" in plan


def test_round4_tpch_broadcast_dims(spark):
    # dimension sides (part/supplier/customer/nation/region, per-part avg,
    # scalar max / threshold) are explicitly broadcast: no sort-merge join
    # may appear for a dim join at any scale factor
    for q in (
        entrymod._q_q2_min_supplier,
        entrymod._q_q7_volume_shipping,
        entrymod._q_q8_market_share,
        entrymod._q_q9_product_profit,
        entrymod._q_q17_small_qty_revenue,
        entrymod._q_q19_or_predicates,
        entrymod._q_q22_dormant_customers,
    ):
        plan = plan_of(q(spark, SF))
        assert "BroadcastHashJoin" in plan, plan[:1500]
        assert "EvalPython" not in plan


def test_round4_tpch_filters_pushed(spark):
    # date-range / flag predicates reach the parquet reader
    plan = plan_of(entrymod._q_q4_priority_exists(spark, SF))
    assert "PushedFilters" in plan
    assert "o_orderdate" in plan.split("PushedFilters")[1][:400]
    plan = plan_of(entrymod._q_q15_top_supplier(spark, SF))
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_q4_semi_join_not_inner(spark):
    # the EXISTS must stay a semi-join: no post-join dedup of orders
    plan = plan_of(entrymod._q_q4_priority_exists(spark, SF))
    assert "LeftSemi" in plan, plan[:2000]


def test_q20_semi_join_chain(spark):
    plan = plan_of(entrymod._q_q20_semi_chain(spark, SF))
    assert "LeftSemi" in plan, plan[:2000]


def test_q22_anti_join(spark):
    plan = plan_of(entrymod._q_q22_dormant_customers(spark, SF))
    assert "LeftAnti" in plan, plan[:2000]


def test_spread_noop_when_partitions_sufficient(spark):
    from deeptime_spark.operators.layout import spread_for_map_parallelism

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    target = spark.sparkContext.defaultParallelism
    wide = docs.repartition(target, "doc_id")
    # already at target: identical plan object, no second exchange
    assert spread_for_map_parallelism(wide, "doc_id") is wide
    # under target: exactly one keyed exchange appears
    spreadp = plan_of(spread_for_map_parallelism(docs, "doc_id"))
    assert n_exchanges(spreadp) == 1, spreadp[:800]


def test_spread_size_cap_skips_tiny_inputs(spark):
    from deeptime_spark.operators.layout import spread_for_map_parallelism

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # sf0.001 documents are far below 1 GiB/partition: the cap must
    # reduce the target to 1 and leave the frame unshuffled
    assert spread_for_map_parallelism(
        docs, "doc_id", min_bytes_per_partition=1 << 30
    ) is docs


def test_spread_keyed_satisfies_downstream_group(spark):
    # the keyed spread must not ADD a pass: groupBy on the spread key
    # runs on the same exchange (one Exchange total in the plan)
    from pyspark.sql import functions as F

    from deeptime_spark.operators.layout import spread_for_map_parallelism

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = spread_for_map_parallelism(docs, "doc_id").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    plan = plan_of(out)
    assert n_exchanges(plan) == 1, plan[:1200]


def test_bpe_word_count_partial_agg(spark):
    # BPE's only corpus-scale pass must map-side combine: the shuffle
    # carries per-partition distinct words, not token occurrences
    from deeptime_spark.operators.bpe import word_counts_df

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(word_counts_df(docs))
    assert "partial_count" in plan, plan[:1200]
    assert "EvalPython" not in plan


def test_quality_classifier_single_arrow_stage(spark):
    # scoring is exactly one Arrow map over the spread scan; the
    # training aggregation ran at build time (collected), so the scoring
    # plan itself must contain no joins and one Python stage
    import re

    from deeptime_spark.operators.text import quality_classifier_scores_df

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(quality_classifier_scores_df(docs))
    n_py = len(re.findall(r"\(\d+\) (?:Arrow|Batch)EvalPython|\(\d+\) MapInPandas", plan))
    assert n_py == 1, plan[:1500]
    assert "Join" not in plan


def test_web_host_stats_is_jvm_only_single_agg(spark):
    """The crawl layer's claim (web.py module docstring): pure codegen
    string/regex chains — no Python evaluation — and host_stats is ONE
    hash aggregation over the scan (normalize+host fuse into the map
    side; the only exchange is the groupBy(host) plus its AQE read)."""
    plan = plan_of(entrymod._q_web_host_stats(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert n_exchanges(plan) <= 2  # partial agg -> shuffle -> final agg
    # column pruning: only doc_id (url synthesis) + text reach the scan
    scan = plan.split("ReadSchema")[1][:200]
    assert "doc_id" in scan and "text" in scan and "lang" not in scan


def test_vamp_score_covariance_path_stays_arrow(spark):
    """vamp_score_events' distributed stage is the covariance
    aggregation; scoring itself is driver math over a literal frame, so
    the returned plan must be a JVM local scan of literals (no Spark jobs
    at transform time beyond the fit that already ran)."""
    df = entrymod._q_vamp_score_events(spark, SF)
    plan = plan_of(df)
    assert "LocalTableScan" in plan
    rows = {r["score_kind"]: r["score"] for r in df.collect()}
    # VAMP-r >= 1 by construction (1 + sum sigma^r, sigma >= 0)
    assert rows["vamp1"] >= 1.0 and rows["vamp2"] >= 1.0


def test_event_resample_grid_is_broadcast_free_single_window(spark):
    """Gap filling must come from sequence()/explode per user (no driver
    loop, no cartesian): the plan has a generator (Generate) feeding the
    left join, and no BatchEvalPython anywhere."""
    plan = plan_of(entrymod._q_event_resample(spark, SF))
    assert "Generate" in plan  # sequence+explode dense grid
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


def test_event_pivot_is_single_aggregate(spark):
    """Native pivot with an explicit value list folds into ONE hash
    aggregation pass (CASE projections), not one scan per event type."""
    import re

    plan = plan_of(entrymod._q_event_pivot(spark, SF))
    # one scan, (user,type) agg -> pivotfirst agg: two exchanges total;
    # a per-type union would show 5 scans and 5x the exchanges
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert n_exchanges(plan) <= 2
    assert "pivotfirst" in plan


def test_event_json_stats_stays_jvm(spark):
    plan = plan_of(entrymod._q_event_json_stats(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "get_json_object" in plan or "GetJsonObject" in plan


def test_hll_registers_single_shuffle_no_python(spark):
    """HLL sketch build: one hash-partial-agg shuffle (the groupBy on
    (group, reg_idx) with map-side partial min), zero Python eval — the
    per-value path is pure codegen xxhash64 + bit ops."""
    from deeptime_spark.operators.sketches import hll_registers

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    regs = hll_registers(docs, "text", ["lang"], p=12)
    plan = plan_of(regs)
    assert "EvalPython" not in plan
    assert n_exchanges(plan) == 1, plan[:1500]


def test_bloom_probe_broadcast_no_python(spark):
    """Bloom membership: the set-bit relation joins as a broadcast
    (left_semi), never a shuffle of the corpus side for the join; no
    Python eval anywhere."""
    from deeptime_spark.operators.sketches import bloom_build, bloom_probe

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bits = bloom_build(docs.limit(50), "text", 1 << 14, 4)
    probed = bloom_probe(docs, bits, "text", ["doc_id"], 1 << 14, 4)
    plan = plan_of(probed)
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_cms_build_single_shuffle_no_python(spark):
    """Count-min build: one explode + hash-aggregate with map-side
    partials — a single exchange, no Python eval."""
    from deeptime_spark.operators.sketches import cms_build

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(cms_build(docs, "text", 1 << 12, 4))
    assert "EvalPython" not in plan
    assert n_exchanges(plan) == 1, plan[:1500]


def test_bm25_topk_is_take_ordered_not_global_sort(spark):
    """BM25 top-k must compile to TakeOrderedAndProject (limit-pushed
    ordering), never a full Sort+Exchange of the scored relation."""
    from deeptime_spark.operators.retrieval import bm25_search

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(bm25_search(docs, "hash join fast scan table", k=15))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "EvalPython" not in plan


def test_bottomk_sample_uses_window_group_limit(spark):
    """Bottom-k sampling must plan with WindowGroupLimit (partial top-k
    before the shuffle) — each map task ships at most k rows per group."""
    from deeptime_spark.operators.sketches import bottomk_sample

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = plan_of(bottomk_sample(ev, "event_id", ["event_type"], k=64, payload_cols=["value"]))
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "EvalPython" not in plan


def test_funnel_stages_no_python_no_event_windows(spark):
    """Funnel: chained conditional min aggregates — no window operator
    over the event stream, no Python eval."""
    from deeptime_spark.operators.stats import funnel_stages

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = plan_of(funnel_stages(ev, ["view", "click", "purchase"], max_gap_seconds=3600))
    assert "EvalPython" not in plan
    assert "Window" not in plan, plan[:1500]


def test_retention_cohorts_no_python(spark):
    from deeptime_spark.operators.stats import retention_cohorts

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = plan_of(retention_cohorts(ev))
    assert "EvalPython" not in plan
    assert "Window" not in plan, plan[:1500]


def test_novelty_scores_no_python_bounded_exchanges(spark):
    """Novelty: gram explode + min-agg + join back — pure codegen, and
    the exchange count stays fixed (scan-side partials do the work)."""
    from deeptime_spark.operators.text import novelty_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(novelty_scores(docs))
    assert "EvalPython" not in plan
    assert n_exchanges(plan) <= 4, plan[:1500]


def test_snapshot_diff_digest_only_join(spark):
    """Snapshot diff: the join inputs project (id, md5) only — document
    payloads must not flow through the exchange."""
    from deeptime_spark.operators.profile import snapshot_diff

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(snapshot_diff(docs, docs.limit(100)))
    assert "EvalPython" not in plan
    assert "text#" not in plan.split("Join")[-1][:400]  # no payload past the join


def test_lm2_fit_single_exchange_reused(spark):
    """The bigram-LM fit must compute its scan+shuffle ONCE: the union
    (windowed vocab/bigram cuts + conditional-sum total) over the
    grouped frame reuses the aggregation exchange instead of
    re-scanning/re-exploding the corpus per branch, and the cuts use
    WindowGroupLimit (partial per-partition top-k), not a global sort."""
    from deeptime_spark.operators.text import _lm2_fit_frame

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    frame = _lm2_fit_frame(docs, "text", 100, 200)
    frame.collect()  # AQE: reuse is visible in the executed plan
    plan = frame._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ReusedExchange") >= 1, final[:2000]
    # exactly TWO explodes: the corpus-scan explode (bigrams + last
    # token, one regex pass) and the tiny kind-split explode over the
    # already-grouped distinct-gram relation — a third would mean a
    # branch re-scanned the corpus.
    assert final.count("Generate explode") == 2, final[:2000]
    assert "WindowGroupLimit" in final
    assert "EvalPython" not in final


def test_edit_pairs_no_cartesian_no_python(spark):
    """PassJoin edit-distance self-join: the long path must be an
    equi-join on (L, i, sub) segment keys — never a CartesianProduct —
    and the whole pipeline (segment arithmetic, substring keys, banded
    levenshtein verify) stays JVM-side. The short bucket is the only
    nested-loop join and must be broadcast."""
    from deeptime_spark.operators.editsim import edit_distance_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.substring(F.lower("text"), 1, 20).alias("t")
    )
    pairs = edit_distance_pairs(docs, max_distance=2, text_col="t")
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "EvalPython" not in plan
    # short-bucket nested loop (if planned) must be the broadcast kind
    if "NestedLoopJoin" in plan:
        assert "BroadcastNestedLoopJoin" in plan


def test_pagerank_trans_normalization_shapes(spark):
    """PageRank pre-loop normalization: multiplicity sum + out-weight
    division must plan with partial (map-side) aggregation and no
    Python eval. (The iteration loop executes eagerly per round via
    localCheckpoint, so its per-iteration broadcast regime is covered
    by the equivalence tests + bench timing rather than a plan string.)"""
    from pyspark.sql import functions as F2

    edges = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select(
            (F2.col("event_id") % 211).alias("src"),
            ((F2.col("event_id") * 31) % 211).alias("dst"),
        )
        .where("src != dst")
    )
    agg = edges.groupBy("src", "dst").agg(F2.count(F2.lit(1)).alias("w"))
    plan = plan_of(agg)
    assert "EvalPython" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_cusum_no_python_single_sort_per_partition(spark):
    """CUSUM compiles to window functions over one (group, order) sort —
    no Python eval, no per-row recursion artifact."""
    plan = plan_of(entrymod._q_event_cusum(spark, SF))
    assert "EvalPython" not in plan
    assert "Window" in plan
    # one exchange for the type partitioning + one for the final groupBy
    assert n_exchanges(plan) <= 3, plan[:1500]


def test_pmi_takeordered_single_explode(spark):
    """PMI collocations: the top-k cut must be TakeOrderedAndProject and
    the gram extraction ONE Generate over the shared scan."""
    plan = plan_of(entrymod._q_doc_pmi_collocations(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "EvalPython" not in plan
    assert plan.count("(1) Generate") + plan.count(") Generate") <= 2, plan[:1500]


def test_compression_ratio_payload_stops_at_udf(spark):
    """Compression ratio: text must not travel past the Arrow stage —
    the aggregation join carries only (id, integer stats)."""
    plan = plan_of(entrymod._q_doc_compression_ratio(spark, SF))
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    after_join = plan.split("Join")[-1]
    assert "text#" not in after_join[:400]


def test_triangles_no_cartesian_all_equijoins(spark):
    """Triangle counting: the wedge closure must plan as equi-joins —
    never a CartesianProduct or nested loop. Built with
    materialize=False because the production path localCheckpoints the
    result (the checkpointed plan is an opaque scan)."""
    from pyspark.sql import functions as F

    from deeptime_spark.operators.graph import triangle_counts

    ev = entrymod._read(spark, SF, "events").select("event_id")
    block = F.expr("event_id div 10000000") * 997
    edges = ev.select(
        (F.col("event_id") % 997 + block).alias("src"),
        ((F.col("event_id") * 31 + F.expr("event_id div 997")) % 997 + block).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    out = triangle_counts(edges, materialize=False)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    assert "NestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_kcore_small_regime_broadcasts_survivors(spark):
    """k_core below the broadcast threshold must plan each peel round's
    semi-joins as broadcast joins — the O(|E|) edge relation must not
    shuffle per round (judge round-7 item 3)."""
    from pyspark.sql import functions as F

    from deeptime_spark import dispatch
    from deeptime_spark.operators import graph as G

    captured = []
    orig = F.broadcast

    ev = entrymod._read(spark, SF, "events").select("event_id")
    edges = ev.select(
        (F.col("event_id") % 211).alias("src"),
        ((F.col("event_id") * 31 + F.expr("event_id div 211")) % 211).alias("dst"),
    ).where(F.col("src") != F.col("dst"))

    def spy(df):
        captured.append(df)
        return orig(df)

    G.F.broadcast = spy
    try:
        with dispatch.force("distributed"):  # the distributed loop under test
            G.k_core(edges, k=8)
    finally:
        G.F.broadcast = orig
    # two broadcast survivor sides per peel round, at least one round
    assert len(captured) >= 2


def test_zorder_range_exchange_codegen_key(spark):
    """Z-order layout: the clustering must be ONE range exchange on the
    interleaved key, and the key arithmetic pure codegen (shift/or) —
    no Python eval anywhere."""
    plan = plan_of(entrymod._q_event_zorder(spark, SF))
    assert "EvalPython" not in plan
    assert "rangepartitioning" in plan.lower(), plan[:1500]
    assert "_zkey" in plan


def test_dup_substrings_no_python_no_cartesian(spark):
    """ExactSubstr spans: sliding-shingle extraction, duplicate mark,
    and islands merge must stay JVM-side equi-plan — no Python eval, no
    cartesian/nested-loop pair step (the mark join is an equi-join on
    the shingle hash)."""
    plan = plan_of(entrymod._q_doc_dup_substrings(spark, SF))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "NestedLoopJoin" not in plan


def test_hll_rollup_scan_reads_registers_only(spark, tmp_path):
    """Sketch rollup: the merge over the persisted sketch table must
    read ONLY the register columns (the whole point: the rollup never
    rescans document text), and the register build itself is one
    codegen hash-agg — no Python eval."""
    from pyspark.sql import functions as F

    from deeptime_spark.operators.sketches import hll_merge, hll_registers
    from deeptime_spark.operators.text import shingles

    docs = entrymod._read(spark, SF, "documents")
    vals = docs.select(
        "lang",
        (F.col("doc_id") % 7).alias("day"),
        F.explode(shingles(F.col("text"), 5)).alias("v"),
    )
    regs = hll_registers(vals, "v", ["lang", "day"], p=12)
    build_plan = plan_of(regs)
    assert "EvalPython" not in build_plan
    path = str(tmp_path / "sketch_table")
    regs.write.mode("overwrite").partitionBy("day").parquet(path)
    stored = spark.read.parquet(path)
    merged = hll_merge([stored.drop("day")], ["lang"])
    plan = plan_of(merged)
    assert "text" not in plan.split("ReadSchema", 1)[-1][:300], plan[-800:]
    assert "reg_idx" in plan and "rho" in plan
    assert "EvalPython" not in plan


def test_kmv_sketch_partial_topk_before_exchange(spark):
    """The KMV bottom-k cut must plan with WindowGroupLimit so each map
    task ships at most k rows per group into the window exchange — the
    sketch construction's 100 TB claim (operators/sketches.py:kmv_sketch)."""
    from deeptime_spark.operators.sketches import kmv_sketch
    from deeptime_spark.operators.text import shingles

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sh = docs.select("source", F.explode(shingles("text", k=5)).alias("s"))
    plan = plan_of(kmv_sketch(sh, "s", ["source"], k=64))
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "EvalPython" not in plan
    # the pair algebra must join the sketch by EQUI-join on the exploded
    # membership relation — an OR-condition join would nest-loop over
    # sketch x pairs (the only BNLJ allowed is the tiny group cross-join)
    from deeptime_spark.operators.sketches import kmv_overlap_pairs

    sk = kmv_sketch(sh, "s", ["source"], k=64)
    pplan = plan_of(kmv_overlap_pairs(sk, "source", k=64))
    import re

    tagged_joins = re.findall(r"\(\d+\) BroadcastHashJoin", pplan)
    assert tagged_joins, pplan[:2000]  # membership join is a hash join


def test_postings_probe_partition_pruned(spark, tmp_path):
    """A postings probe's bucket IN-list must become static PARTITION
    pruning on the bucket-partitioned layout — the scan reads only the
    probed directories (operators/retrieval.py:probe_postings_index)."""
    from deeptime_spark.operators.retrieval import (
        probe_postings_index,
        write_postings_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = str(tmp_path / "pidx")
    write_postings_index(docs, path, n_buckets=16)
    out = probe_postings_index(spark, path, ["query", "scan"], mode="and")
    plan = plan_of(out)
    seg = plan.split("PartitionFilters")[1][:200]
    assert "_bucket" in seg, plan[:2000]
    assert "EvalPython" not in plan


def test_ppjoin_no_cartesian_no_python(spark):
    """PPJoin's candidate generation must be an equi-join on prefix
    tokens — never a CartesianProduct — and the whole pipeline stays
    JVM-side (operators/dedup.py:ppjoin_pairs)."""
    from deeptime_spark.operators.dedup import ppjoin_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").where("source = 'src0'")
    plan = plan_of(ppjoin_pairs(docs, threshold_pct=80, materialize=False))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "EvalPython" not in plan


def test_global_shuffle_offsets_broadcast_no_global_window(spark):
    """global_shuffle's offset join must BROADCAST the tiny
    (shard,bucket) aggregate, and the per-row rank window must be keyed
    (shard, bucket) — never a single global partition
    (operators/mixing.py:global_shuffle)."""
    from deeptime_spark.operators.mixing import global_shuffle

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(global_shuffle(docs, n_shards=4, n_buckets=16))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    # the rank window partitions by BOTH keys (no n_shards-task funnel)
    assert "_bucket" in plan


def test_sq8_topk_single_wide_agg_no_python(spark):
    """SQ8 search stays JVM-side end-to-end: quantizer train is one
    wide min/max aggregate, encode/decode are zip_with expressions, and
    the scan carries no Python stage
    (operators/similarity.py:sq8_topk)."""
    from pyspark.sql import functions as F

    from deeptime_spark.operators.similarity import sq8_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.where("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = plan_of(sq8_topk(emb, q, k=3))
    assert "EvalPython" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_mmr_candidates_broadcast_single_arrow_stage(spark):
    """MMR's candidate-vector join must broadcast the bounded pool
    against the corpus scan, and exactly ONE Arrow stage (the greedy
    applyInPandas) may appear (operators/similarity.py:mmr_rerank)."""
    from pyspark.sql import functions as F

    from deeptime_spark.operators.similarity import mmr_rerank

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.where("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = plan_of(mmr_rerank(emb, q, k=3, pool=8))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    # formatted plans print each operator twice (tree + detail block):
    # exactly ONE FlatMapGroupsInPandas operator == two mentions
    assert plan.count("FlatMapGroupsInPandas") == 2
    assert "CartesianProduct" not in plan


def test_centrality_frontiers_no_cartesian_no_python(spark):
    """Betweenness/harmonic pivot BFS loops must stay equi-join +
    aggregate — no CartesianProduct, no Python stages — and the
    broadcast regime must engage below the threshold
    (operators/graph.py)."""
    from deeptime_spark.operators.graph import (
        betweenness_centrality,
        harmonic_centrality,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "event_id % 211 as src",
        "(event_id * 31 + event_id div 211) % 211 as dst",
    ).where("src != dst")
    for op in (betweenness_centrality, harmonic_centrality):
        plan = plan_of(op(ev, n_pivots=4))
        assert "CartesianProduct" not in plan, plan[:1500]
        assert "EvalPython" not in plan


def test_scd2_merge_broadcasts_update_batch(spark):
    """scd2_merge's open-rows-vs-delta join must broadcast the (small)
    update batch (operators/scd.py)."""
    from deeptime_spark.operators.scd import scd2_merge

    dim = spark.read.parquet(f"{SF}/customer.parquet").selectExpr(
        "c_custkey as k",
        "cast(round(c_acctbal * 100) as long) as bal",
        "c_mktsegment as seg",
        "cast(0 as long) as valid_from",
        "cast(null as long) as valid_to",
    )
    upd = dim.where("k % 7 = 0").selectExpr("k", "bal + 1 as bal", "seg")
    plan = plan_of(scd2_merge(dim, upd, "k", ["bal", "seg"], 1))
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "CartesianProduct" not in plan


def test_tuned_dedup_verify_no_cartesian_no_python(spark):
    """autotune_near_dedup's banding-path verification joins candidate
    pairs back to token sets as pure equi-joins with JVM set algebra —
    never a CartesianProduct, never a Python eval
    (operators/dedup.py:_verify_pairs_token_jaccard)."""
    from deeptime_spark.operators.dedup import (
        _verify_pairs_token_jaccard,
        minhash_lsh_candidates,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").where(
        "source = 'src0'"
    ).select("doc_id", "text")
    cands = minhash_lsh_candidates(docs, n_hashes=32, bands=8, unit="words")
    plan = plan_of(_verify_pairs_token_jaccard(cands, docs, 70))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "EvalPython" not in plan


def test_record_linkage_no_cartesian_no_python(spark):
    """Blocked record linkage must stay equi-join + codegen end to end:
    blocking joins on the block keys, levenshtein/equality scoring as
    column expressions — no CartesianProduct, no Python eval
    (operators/linkage.py:blocked_record_linkage)."""
    from deeptime_spark.operators.linkage import blocked_record_linkage

    cust = spark.read.parquet(f"{SF}/customer.parquet").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    plan = plan_of(
        blocked_record_linkage(
            cust, "id", ["nk"], string_fields=["name"],
            exact_fields=["bal"], threshold=0.9,
        )
    )
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "EvalPython" not in plan


def test_linkage_pipeline_no_cartesian_no_python(spark):
    """Blocked record linkage is capped equi-joins + codegen comparison
    everywhere (linkage.py docstring): no CartesianProduct, no Python
    evaluation in the pipeline or the incremental probe. (The blocking
    GATE's truth pass is an intentional bounded crossJoin over the probe
    and is deliberately not pinned here.)"""
    from deeptime_spark.operators.linkage import (
        blocked_record_linkage,
        record_linkage_probe,
    )

    recs = spark.createDataFrame(
        [(1, "alice", "10001", 5), (2, "alicx", "10001", 5),
         (3, "bob", "20002", 7)],
        "id long, name string, zip string, bal long",
    )
    plan = plan_of(
        blocked_record_linkage(
            recs, id_col="id", block_keys=["zip"],
            string_fields=["name"], exact_fields=["bal"], threshold=0.8,
        )
    )
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "EvalPython" not in plan
    plan = plan_of(
        record_linkage_probe(
            recs, recs.withColumn("id", F.col("id") + 100),
            id_col="id", block_keys=["zip"],
            string_fields=["name"], exact_fields=["bal"], threshold=0.8,
        )
    )
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "EvalPython" not in plan
