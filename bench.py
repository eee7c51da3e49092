"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs a representative subset of ``__spark_entry__.queries()`` (heavy scan,
shuffle, window, LSH, top-k, covariance, and estimator paths) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``.

Materialization is a noop-sink write so Catalyst cannot prune the computed
columns the way a bare count() would.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


HEADLINE = [
    # relational surface
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "nation_order_volume",
    "brand_volume",
    # text / dedup
    "doc_token_stats",
    "doc_quality",
    "doc_language_summary",
    "doc_shingle_count",
    "minhash_bands",
    "simhash_pairs",
    "embedding_near_dup",
    # similarity
    "knn_bruteforce",
    "lsh_topk",
    "ivf_topk",
    "ivfpq_topk",
    # lag / window / markov / stats
    "event_timeshifted",
    "event_sliding_avg",
    "event_moments",
    "event_transition_counts",
    "event_sessions",
    "event_histogram2d",
    "event_two_step_counts",
    "event_weighted_counts",
    "event_confidence_interval",
    "kernel_gram_events",
    "dedup_verified_pairs",
    # estimator pipelines
    "tica_events",
    "kmeans_embeddings",
    "embedding_whiten",
    "hmm_viterbi_events",
    # round-4 surface: duplicate clustering, filter rules, LM scoring,
    # substring fingerprints, range join
    "dedup_components",
    "doc_gopher_quality",
    "doc_gopher_repetition",
    "doc_winnowing",
    "doc_lm_score",
    "event_session_range_join",
    # round-4 late additions: semantic dedup, chunk/pack layer, and the
    # end-to-end cleaning composition
    "semantic_dedup",
    "doc_span_dedup",
    "doc_c4_filter",
    "doc_line_dedup",
    "doc_chunks",
    "doc_packing",
    "corpus_clean_pipeline",
    # data-mixing surface
    "domain_mixture",
    "doc_stratified_sample",
    "doc_pii_scrub",
    "corpus_prep_pipeline",
    # round-4 adapted TPC-H additions (fact-agg + conditional-distinct
    # shapes; both weak-scale-tested in SCALE.md)
    "q18_large_volume_customers",
    "q21_waiting_supplier",
    # round-5: the heaviest TPC-H join trees (never timed before r5) —
    # q9 is the largest (lineitem x part x supplier x nation), q7/q8 are
    # the multi-nation broadcast-dim star shapes
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    # round-5 surface: web/crawl layer, bigram-LM scoring, and the
    # crawl->shards composition
    "web_host_stats",
    "doc_lm2_score",
    "web_corpus_pipeline",
    # round-6: physical shard sink/scan round-trip, the tokenize-and-pack
    # training-sequence builder, and the sketch layer
    "shards_roundtrip",
    "token_pack_sequences",
    "doc_hll_shingles",
    "doc_hll_rollup",
    "doc_bloom_decontaminate",
    "doc_cms_word_counts",
    "doc_bm25_search",
    "doc_sparse_cosine",
    "corpus_profile",
    "corpus_snapshot_diff",
    "event_kmv_quantiles",
    "doc_incremental_dedup",
    "doc_novelty",
    "event_funnel",
    "event_retention",
    # round-7: prefix families, asymmetric containment, robust anomaly
    "doc_prefix_dup",
    "doc_containment_pairs",
    "event_anomaly_mad",
    "event_pagerank",
    "doc_edit_pairs",
    "event_hits",
    "doc_pmi_collocations",
    "event_cusum",
    "media_ahash_pairs",
    "doc_compression_ratio",
    "embedding_silhouette",
    "event_triangles",
    "event_communities",
    "event_kcore",
    # round-8: sliding-shingle substring spans + excision, hybrid RRF
    # retrieval, z-order layout, ANN recall gate
    "doc_dup_substrings",
    "doc_substring_excise",
    "doc_hybrid_search",
    "event_zorder",
    "embedding_ann_recall",
    "doc_topic_terms",
    "doc_weighted_sample",
    "ivf_index_probe",
    # round-8 late: EWMA fold, curriculum schedule, persisted postings
    # index, KMV set-operation overlap
    "event_ewma",
    "doc_quality_curriculum",
    "doc_postings_index",
    "corpus_overlap_kmv",
    "media_phash_pairs",
    "doc_bpe_fertility",
    "doc_setsim_pairs",
    "event_bfs",
    "doc_setsim_drop",
    "event_kmv_rollup",
    "jsonl_roundtrip",
    "event_top_paths",
    # round-9: torch-free deep estimators (full-batch distributed
    # training: 2 jobs/epoch VAMPNet, 1 TAE/TVAE, sample-bounded KVADNet)
    # and the four estimator families promoted to the harness
    "vampnet_events",
    "tae_events",
    "tvae_events",
    "kvadnet_events",
    "dedup_recall_gate",
    "rate_matrix_events",
    "oom_events",
    "amm_events",
    "sensitivity_events",
    # round-9b: global shuffle (two-level prefix-sum permutation), SQ8
    # quantization gate, MMR diversified rerank
    "streaming_constraint_audit",
    "doc_group_sample",
    "dedup_threshold_sweep",
    "customer_scd2_merge",
    "orders_constraint_audit",
    "embedding_rp_recall",
    "doc_ngram_diversity",
    "event_clustering_coeff",
    "event_assortativity",
    "event_harmonic",
    "event_betweenness",
    "doc_temperature_mixture",
    "corpus_global_shuffle",
    "embedding_sq8_recall",
    "embedding_mmr_rerank",
    # round-10: measure-then-dispatch tuned dedup (S-curve banding +
    # recall-gate fallback on the x4 clone fixture) and the streaming
    # SCD2 dimension merge (4 micro-batches, versioned snapshot)
    "corpus_tuned_dedup",
    "streaming_scd2_merge",
    # round-10b: unigram-LM tokenizer (EM over the bounded word table +
    # Arrow Viterbi encode) next to the BPE twin
    "doc_unigram_fertility",
    # round-10b: pre-shuffle key-skew diagnostic and blocked entity
    # resolution (levenshtein scoring over capped blocking joins)
    "event_skew_profile",
    "customer_record_linkage",
    "customer_entity_resolution",
    "customer_linkage_probe",
    # round-11: blocking pair-completeness gate (bounded probe + over-cap
    # accounting), bounded-probe tuned-dedup dispatch, streaming linkage
    # probe, and the six estimator promotions
    "customer_linkage_gate",
    "corpus_tuned_dedup_probe",
    "streaming_linkage_probe",
    "customer_delta_pipeline",
    "customer_k_anonymity",
    "edmd_events",
    "kcca_events",
    "kvad_events",
    "minibatch_kmeans_events",
    "tv_derivative_events",
    "vamp_cv_events",
    # round-12: score-from-data + transfer-operator propagation
    # (covariance-aggregate estimator shapes) and the blocking-key
    # advisor (shared probe truth, n_specs * map-combined cap scans)
    "vamp_score_data_events",
    "koopman_propagate_events",
    "customer_blocking_advisor",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod

    from deeptime_spark.session import get_spark

    spark = get_spark("deeptime-spark-bench", "bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    timings: dict[str, float] = {}
    # warm the fixed costs the first timed query would otherwise absorb:
    # whole-stage codegen compile + noop sink (aggregate write), Python
    # worker + Arrow init (mapInPandas), parquet footer caches
    import pandas as _pd  # noqa: F401

    warm = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    warm.groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()
    spark.read.parquet(f"{sf_dir}/region.parquet").mapInPandas(
        lambda it: it, schema="r_regionkey int, r_name string"
    ).write.format("noop").mode("overwrite").save()
    # ... and the wide-aggregate codegen/JIT the LSH family pays on its
    # first plan (janino + C2 compile of the 32/64-column hash aggregates
    # — ~6 s measured, a one-time JVM cost any long-lived cluster session
    # has already paid). Run the SAME operator shapes over a 48-doc slice;
    # the per-query timings then measure the operators, not the compiler.
    try:
        from deeptime_spark.operators.dedup import (
            minhash_lsh_candidates,
            simhash_signatures_df,
        )

        from deeptime_spark.operators.dedup import verify_candidates_jaccard

        tiny = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(48).cache()
        tiny.count()
        # with_est=False matches the shape the dedup queries now run
        # (payload-free banding); the JIT warmup must compile THAT plan
        tiny_cands = minhash_lsh_candidates(
            tiny, n_hashes=32, bands=8, with_est=False
        ).persist()
        tiny_cands.count()
        # ...including the verification shapes (cached-candidate scan,
        # semi-join + n-gram regex pass, pair join + array set algebra)
        verify_candidates_jaccard(
            tiny_cands, tiny, threshold=0.2, candidates_materialized=True
        ).write.format("noop").mode("overwrite").save()
        simhash_signatures_df(tiny).write.format("noop").mode("overwrite").save()
        tiny.unpersist()
        spark.catalog.clearCache()
    except Exception:
        pass
    def run_pass(out: dict[str, float]) -> None:
        for name in HEADLINE:
            fn = qs.get(name)
            if fn is None:
                continue
            t0 = time.time()
            try:
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                out[name] = round(time.time() - t0, 3)
            except Exception as e:  # keep the bench line parseable even on error
                out[name] = -1.0
                print(f"bench error in {name}: {e}", file=sys.stderr)
            # Session hygiene between queries: a single long-lived local JVM
            # accumulates cached relations, broadcast blocks, and AQE plan
            # state across 40+ queries; without this the later (heavier)
            # queries pay 2-4x in GC pressure that says nothing about their
            # own plans.  Each query is still timed with a cold cache, which
            # is the honest per-operator number.
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()

    # Pass 1 (cold): first execution of each plan in this JVM — pays
    # whole-stage-codegen JIT for every not-yet-warmed operator shape.
    # Comparable to all prior BENCH_r* records.
    run_pass(timings)
    # Passes 2..N (warm): same queries, same session — codegen/C2-compiled
    # plans, hot parquet footer caches. This models a long-lived cluster
    # session and is the regression-adjudication number: JIT noise that
    # dominates single-query cold deltas at sf0.1 is gone here. We run
    # >= 2 warm trials and adjudicate on the per-query MIN — single-trial
    # warm numbers still carry 1.5-2x session noise (GC pauses, OS cache
    # pressure from whatever else the box ran) that produced false
    # regression signals in three consecutive rounds (r8 containment/
    # pagerank, r9 pmi). min-vs-min is the stable operator cost; the
    # recorded spread (max-min) quantifies how noisy each measurement was.
    n_warm = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "2")))
    warm_trials: list[dict[str, float]] = []
    for _ in range(n_warm):
        wt: dict[str, float] = {}
        run_pass(wt)
        warm_trials.append(wt)
    warm_timings: dict[str, float] = {}
    warm_spread: dict[str, float] = {}
    for name in warm_trials[0]:
        vals = [t[name] for t in warm_trials if t.get(name, -1.0) >= 0]
        if not vals:
            warm_timings[name] = -1.0
            warm_spread[name] = 0.0
        else:
            warm_timings[name] = round(min(vals), 3)
            warm_spread[name] = round(max(vals) - min(vals), 3)
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    warm_total = round(sum(t for t in warm_timings.values() if t >= 0), 3)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "warm_value": warm_total,
        "queries_warm": warm_timings,
        "queries_warm_spread": warm_spread,
        "warm_trials": n_warm,
        # every individual warm trial, so records taken with a different
        # trial count can be re-adjudicated later (min-of-N is
        # systematically lower than min-of-M for N > M; cross-round warm
        # comparisons must compare like-for-like or re-derive from here)
        "queries_warm_trials": warm_trials,
        "sf": sf,
    }
    # The PRINTED one-line JSON omits the per-trial section: with 152
    # queries x N trials the full line grew past what stdout-tail
    # captures keep, and the r12 driver could not parse the truncated
    # r11 line (PERF_r12 prev_bench_ok=false — a whole round of
    # round-over-round comparison lost to line length). The contract
    # keys (metric/value/unit/queries/sf) and every per-query map are
    # unchanged; the per-trial detail lives in the full file record
    # below, which is what adjudication reads anyway.
    slim = {k: v for k, v in payload.items() if k != "queries_warm_trials"}
    print(json.dumps(slim))
    # Persist the full per-query record in-repo: the round driver keeps
    # only the stdout TAIL, which truncates the cold-pass per-query map
    # and makes cross-round ratios uncomputable from BENCH_r*.json alone.
    # SPARK_GRAFT_BENCH_OUT overrides the destination (ad-hoc runs).
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full_latest.json"),
    )
    try:
        with open(out_path, "w") as fh:
            json.dump(payload, fh, indent=1)
            fh.write("\n")
    except OSError as e:
        print(f"bench: could not persist {out_path}: {e}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
