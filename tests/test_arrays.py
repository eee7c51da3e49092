"""``dispatch.arrays``, the one Arrow fetch of driver arrays, and the guard
that keeps per-row ``Row`` fetches out of the package."""

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import matching_scopes
from deeptime_spark import dispatch
from deeptime_spark.data.schema import collect_dtrajs, collect_trajectories, trajectory_from_arrays
from deeptime_spark.operators.moments import WIDTH_KEY, features

FETCH = r"\.collect\(\)|\.first\(\)|toPandas\(|toArrow\(|\.take\(|\.head\(|toLocalIterator\("

# Every ``.collect()``, ``.first()``, ``toPandas(``, ``toArrow(``,
# ``.take(``, ``.head(`` and ``toLocalIterator(`` line left in the package,
# counted by (file, innermost def). A fetch whose rows become a numpy array
# goes through ``dispatch.arrays``; what stays is a fixed-size aggregate
# (a ``.first()`` gate, per-partition or per-key partials) or rows used as
# Python objects.
ROW_FETCHES = {
    # the Arrow fetch itself (dispatch.fetch is arrays of a limit())
    ("deeptime_spark/dispatch.py", "arrays"): 1,
    # .first() gates and one-row aggregates
    ("deeptime_spark/clustering/box.py", "BoxDiscretization.fit"): 1,
    ("deeptime_spark/hmm/init.py", "init_discrete_metastable_from_data"): 1,
    ("deeptime_spark/hmm/init.py", "init_gaussian_from_data"): 1,
    ("deeptime_spark/operators/dedup.py", "dedup_candidate_quality"): 1,
    ("deeptime_spark/operators/dedup.py", "dedup_threshold_sweep"): 1,
    ("deeptime_spark/operators/dedup.py", "autotune_near_dedup"): 1,
    ("deeptime_spark/operators/graph.py", "degree_assortativity"): 1,
    ("deeptime_spark/operators/lag.py", "sliding_window"): 1,
    ("deeptime_spark/operators/layout.py", "zorder_repartition"): 1,
    ("deeptime_spark/operators/linkage.py", "linkage_blocking_gate"): 1,
    ("deeptime_spark/operators/linkage.py", "blocking_key_advisor.one_spec"): 1,
    ("deeptime_spark/operators/mixing.py", "weighted_sample"): 1,
    ("deeptime_spark/operators/moments.py", "feature_dim"): 1,
    ("deeptime_spark/operators/profile.py", "constraint_audit"): 1,
    ("deeptime_spark/operators/profile.py", "profile_table"): 1,
    ("deeptime_spark/operators/retrieval.py", "bm25_search"): 1,
    ("deeptime_spark/operators/retrieval.py", "probe_postings_index"): 1,
    ("deeptime_spark/operators/scd.py", "scd2_merge"): 1,
    ("deeptime_spark/operators/similarity.py", "sq8_quantize"): 1,
    ("deeptime_spark/operators/stats.py", "histogram2d_df"): 1,
    ("deeptime_spark/sindy/sindy.py", "SINDyModel.score"): 1,
    # per-partition or per-key partials: moments, k-means, deep fits, the
    # HMM E-step (ragged packed arrays, read through toArrow) and Gibbs
    # sweeps, regular-space leaders, logsumexp
    ("deeptime_spark/operators/moments.py", "_moments_arrow"): 1,
    ("deeptime_spark/operators/moments.py", "_moments_expr"): 1,
    ("deeptime_spark/clustering/kmeans.py", "DeterministicKMeans.fit"): 1,
    ("deeptime_spark/clustering/kmeans.py", "MiniBatchKMeans.partial_fit"): 1,
    ("deeptime_spark/clustering/regspace.py", "RegularSpace.fit"): 1,
    ("deeptime_spark/clustering/regspace.py", "RegularSpace._fit_exact_stream"): 1,
    ("deeptime_spark/decomposition/deep.py", "TAE.fit"): 1,
    ("deeptime_spark/decomposition/deep.py", "TVAE.fit"): 1,
    ("deeptime_spark/decomposition/deep.py", "VAMPNet.fit"): 2,
    ("deeptime_spark/hmm/bayesian_hmm.py", "BayesianHMM._sweep_stats"): 1,
    ("deeptime_spark/hmm/mlhmm.py", "MaximumLikelihoodHMM._estep"): 1,
    ("deeptime_spark/operators/aggregates.py", "logsumexp"): 1,
    ("deeptime_spark/operators/sketches.py", "hll_estimate_rows"): 1,
    # rows used as Python objects: vocabularies, BPE, sketches
    ("deeptime_spark/operators/text.py", "unigram_lm_scores_df"): 2,
    ("deeptime_spark/operators/text.py", "bigram_lm_scores_df"): 1,
    ("deeptime_spark/operators/text.py", "quality_classifier_scores_df"): 2,
    ("deeptime_spark/operators/bpe.py", "collect_word_counts"): 1,
    ("deeptime_spark/operators/sketches.py", "bottomk_quantiles"): 1,
    # a pandas head inside a grouped map, not a fetch
    ("deeptime_spark/operators/dedup.py", "semantic_duplicates.dedup_cluster"): 1,
}


def test_only_fixed_aggregates_and_object_rows_are_fetched_as_rows():
    found = matching_scopes(FETCH)
    assert found == ROW_FETCHES, (
        f"new or more: {sorted((found - Counter(ROW_FETCHES)).items())}, "
        f"gone or fewer: {sorted((Counter(ROW_FETCHES) - found).items())}"
    )


def test_arrays_of_an_empty_frame_keep_their_dtypes(spark):
    df = spark.createDataFrame([], "i int, n long, v double, s string, b array<double>")
    a = dispatch.arrays(df)
    assert [a[c].dtype for c in ("i", "n", "v", "s")] == [np.int32, np.int64, np.float64, object]
    assert all(a[c].shape == (0,) for c in ("i", "n", "v", "s"))
    # zero rows carry no width
    assert a["b"].shape == (0, 0) and a["b"].dtype == np.float64


def test_arrays_raise_a_value_error_naming_an_integer_column_with_a_null(spark):
    df = spark.createDataFrame([(1, 1.0), (None, None)], "state int, v double")
    with pytest.raises(ValueError, match="'state'"):
        dispatch.arrays(df)
    # a NULL double comes back NaN
    v = dispatch.arrays(df.select("v"))["v"]
    assert np.isnan(v).sum() == 1


def test_arrays_return_an_array_column_as_rows_by_width(spark):
    rows = [(i, [float(i), 10.0 * i, -1.0]) for i in range(5)]
    # 3 partitions, so the Arrow column comes in more than one chunk
    a = dispatch.arrays(spark.createDataFrame(rows, "i int, b array<double>").repartition(3))
    assert a["b"].shape == (5, 3) and a["b"].flags.c_contiguous and a["b"].flags.writeable
    np.testing.assert_array_equal(a["b"], [rows[i][1] for i in a["i"]])


@pytest.mark.parametrize("b", [[1.0], None])
def test_arrays_raise_a_value_error_on_ragged_or_null_arrays(spark, b):
    df = spark.createDataFrame([([1.0, 2.0],), (b,)], "b array<double>")
    with pytest.raises(ValueError, match="'b'"):
        dispatch.arrays(df)


def test_arrays_keep_the_row_order_of_an_order_by(spark):
    # 7 input partitions of a permuted key: the order comes from the sort
    df = spark.range(0, 200, numPartitions=7).select((F.col("id") * 37 % 200).alias("k"))
    a = dispatch.arrays(df.orderBy(F.desc("k")))
    np.testing.assert_array_equal(a["k"], np.arange(199, -1, -1))


def test_collect_trajectories_and_dtrajs_split_by_trajectory(spark):
    rng = np.random.default_rng(3)
    trajs = [rng.normal(size=(n, 2)) for n in (4, 1, 6)]
    bare = trajectory_from_arrays(spark, trajs).withColumn("state", (F.col("t") % 3).cast("int"))
    # the same frame with x rebuilt by features, so it carries its width
    meta = bare.withColumn("x", features(F.col("x")[0], F.col("x")[1]))
    assert WIDTH_KEY not in bare.schema["x"].metadata and meta.schema["x"].metadata[WIDTH_KEY] == 2
    for frame in (bare.repartition(4), meta):
        got = collect_trajectories(frame)
        assert [x.shape for x in got] == [(4, 2), (1, 2), (6, 2)]
        for x, want in zip(got, trajs):
            np.testing.assert_array_equal(x, want)
        dtrajs = collect_dtrajs(frame)
        assert [s.dtype for s in dtrajs] == [np.int32] * 3
        assert [s.tolist() for s in dtrajs] == [[0, 1, 2, 0], [0], [0, 1, 2, 0, 1, 2]]
        assert collect_trajectories(frame.limit(0)) == [] == collect_dtrajs(frame.limit(0))
