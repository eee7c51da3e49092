"""Session-level layout invariance: representative harness queries must
produce identical results under a hostile shuffle-partition setting.

The per-operator pins (fixed-point kmeans partials, sorted-reduce HMM
stats, batch-shape-invariant kernels) each guard one code path; this
sweep guards the COMPOSITION — any operator that silently became
layout-sensitive (a lost sort before a window, an agg order leak into a
float) breaks equality here. 7 is chosen to divide nothing: partition
boundaries fall mid-trajectory, mid-bucket, and mid-cluster.
"""

import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"

# one representative per family: relational agg, window lag, LSH dedup,
# text analytics, grouping sets, estimator pipeline, similarity top-k
SWEEP = [
    "q1_pricing_summary",
    "q21_waiting_supplier",
    "q8_market_share",
    "q22_dormant_customers",
    "event_timeshifted",
    "minhash_bands",
    "dedup_components",
    "doc_gopher_repetition",
    "doc_quality_classifier",
    "bpe_tokens",
    "event_cube",
    "sindy_events",
    "knn_bruteforce",
    # round-5 additions: pivot, gap-filled resample, JSON agg, shard
    # assignment, web normalization, SQL-UDF surface (now re-entrant)
    "event_pivot",
    "event_resample",
    "event_json_stats",
    "shard_manifest",
    "web_host_stats",
    "doc_sql_surface",
    # the Markov counting queries: integer counts or fits that are
    # bit-exact functions of them
    "event_transition_counts",
    "effective_counts_events",
    "msm_its_events",
    "msm_ck_events",
    "tram_events",
]


def normalize(df) -> pd.DataFrame:
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)]
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )


@pytest.mark.parametrize("name", SWEEP)
def test_result_invariant_under_hostile_partitioning(spark, name):
    q = entrymod.queries()[name]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        base = normalize(q(spark, SF))
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        scrambled = normalize(q(spark, SF))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        # dedup queries persist their candidate/gram frames (the harness
        # clears between queries); drop them here so later PLAN tests in
        # the same session don't get InMemoryRelation substituted into
        # their subtrees (observed: minhash_bands gaining an exchange)
        spark.catalog.clearCache()
    pd.testing.assert_frame_equal(base, scrambled)
