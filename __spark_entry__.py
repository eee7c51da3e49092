"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline smoke at sf0.001.
``queries()`` — one callable per implemented operator surface
(SURVEY.md §2 + the LLM-data-pipeline ops); each takes (spark, sf_dir)
and returns a DataFrame, and is registered where it is defined by
``@query`` (which also declares its ``BENCH``/``SCALE``/``DISPATCH``
membership).
``oracle_sql()`` — DuckDB-ANSI equivalents for every SQL-expressible
query (hash-based ops and estimator pipelines are rows-only).

Exactness policy for the value-hash compare: every float column either
(a) passes raw parquet values through untouched, (b) is the result of a
deterministic IEEE-754 op sequence mirrored verbatim in the oracle SQL
(int/int division, products of identical doubles), or (c) is an
integer-scaled quantity (cents / 1e-4 / 1e-6 units summed as BIGINT —
exact in both engines, no float-summation drift). Aggregate sums of
doubles are never emitted raw.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from deeptime_spark.local_relation import local_df as _local_df
from deeptime_spark.session import read_table as _read
from deeptime_spark.streaming.replay import Replay

# ----------------------------------------------------------------- loaders

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _rmtree_quiet(*paths: str) -> None:
    """Best-effort temp-dir cleanup for the batch queries that write and
    re-read a table — repeated bench/verify runs in one long-lived
    session must not accumulate temp dirs. (The streaming queries'
    dirs belong to their ``Replay``.)"""
    import shutil

    for p in paths:
        if p:
            shutil.rmtree(p, ignore_errors=True)


def _ordered_chunks(df: DataFrame, *order: str) -> list[DataFrame]:
    """``df`` as four single-file frames of consecutive rows in
    ``order``: the source of the replays whose state depends on arrival
    order (``Replay.source`` keeps the list order)."""
    n_rows = df.count()
    chunked = df.withColumn(
        "_chunk",
        ((F.row_number().over(Window.orderBy(*order)) - 1) * 4 / F.lit(n_rows)).cast("int"),
    )
    return [chunked.where(F.col("_chunk") == i).drop("_chunk").coalesce(1) for i in range(4)]


def _state_expr():
    """Deterministic event_type -> dtraj state mapping (alphabetical)."""
    expr = F.lit(-1)
    for i, et in enumerate(_EVENT_TYPES):
        expr = F.when(F.col("event_type") == et, F.lit(i)).otherwise(expr)
    return expr


def _event_traj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> trajectory schema (traj_id, t, value, vc, state).

    t = dense frame index per user (row_number over event time); vc =
    value in integer cents (exact in fp64 -> exact in the oracle).

    The rename to traj_id happens BEFORE the window so the window's hash
    partitioning carries the traj_id attribute itself — downstream
    windows/aggregations on traj_id then reuse this exchange instead of
    re-shuffling (Catalyst cannot see through an alias applied after the
    partitioning is fixed).
    """
    ev = _read(spark, sf_dir, "events").select(
        F.col("user_id").alias("traj_id"),
        F.col("value"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
        _state_expr().alias("state"),
        F.col("ts"),
        F.col("event_id"),
    )
    # Pin the trajectory exchange at cluster width while the events
    # projection is small in bytes (r12; no-op at scale): the window's
    # ENSURE_REQUIREMENTS exchange is otherwise AQE-coalesced to 2-3
    # tasks at sf0.1 (2.4 MB of shuffle), which strands every downstream
    # CPU-dense per-trajectory stage (grouped Arrow solvers, covariance
    # kernels) on those few cores. A pinned repartition BELOW the window
    # is the only placement Catalyst keeps — the same repartition above
    # the window is elided as redundant with the window's partitioning.
    from deeptime_spark.operators.layout import pin_width_for_cpu_dense

    ev = pin_width_for_cpu_dense(ev, "traj_id")
    w = Window.partitionBy("traj_id").orderBy("ts", "event_id")
    return ev.select(
        "traj_id",
        (F.row_number().over(w) - 1).cast("long").alias("t"),
        "value",
        "vc",
        "state",
        "ts",
    )


_STATE_CASE_SQL = (
    "CASE event_type "
    + " ".join(f"WHEN '{et}' THEN {i}" for i, et in enumerate(_EVENT_TYPES))
    + " ELSE -1 END"
)

_TRAJ_CTE = f"""
traj AS (
  SELECT user_id AS traj_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS t,
         value,
         CAST(round(value * 100) AS BIGINT) AS vc,
         {_STATE_CASE_SQL} AS state,
         ts
  FROM events
)
"""

_TOKS_CTE = r"""
base AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
)
"""


def _sw_list(lang: str) -> str:
    from deeptime_spark.operators.text import STOPWORDS

    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


def _lang_scores_sql() -> tuple[str, str]:
    """(score select-list, argmax CASE) mirroring detect_language's
    tie-break: dict order wins ties, 'unknown' when all scores are 0."""
    from deeptime_spark.operators.text import STOPWORDS

    scores = ",\n    ".join(
        f"len(list_filter(toks, t -> list_contains({_sw_list(lang)}, t))) AS s_{lang}"
        for lang in STOPWORDS
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in STOPWORDS) + ")"
    case = (
        "CASE "
        + " ".join(f"WHEN {best} > 0 AND s_{lang} = {best} THEN '{lang}'" for lang in STOPWORDS)
        + " ELSE 'unknown' END"
    )
    return scores, case


# ----------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: events -> trajectory -> polynomial features -> TICA ->
    per-frame projection onto the two slowest collective coordinates.
    Exercises scan, window lag, the single-pass covariance aggregate,
    driver-side generalized eig, and the broadcast projection transform.
    """
    from deeptime_spark.decomposition.tica import TICA

    traj = _event_traj(spark, "/root/testdata/sf0.001")
    v = F.col("value") / 100.0
    feat = traj.select(
        "traj_id", "t", F.array(v, v * v, v * v * v).alias("x")
    )
    model = TICA(lagtime=2, dim=2).fit(feat).fetch_model()
    out = model.transform(feat, out_col="proj")
    return out.select(
        "traj_id",
        "t",
        F.col("proj")[0].alias("ic1"),
        F.col("proj")[1].alias("ic2"),
    )


# ----------------------------------------------------------------- queries
#
# Each query is declared once, where it is defined: ``@query`` registers
# ``_q_<name>`` as ``<name>``, and its flags add the name, in definition
# order, to the lists the harness tools time:
#   BENCH    — bench.py's headline set;
#   SCALE    — tools/scale_bench.py's weak-scaling ladder;
#   DISPATCH — the driver-dispatched queries tools/forced_distributed_bench.py
#              and the tier-1 forced-distributed sweep run on both paths.

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
BENCH: list[str] = []
SCALE: list[str] = []
DISPATCH: list[str] = []


def query(fn=None, *, bench: bool = False, scale: bool = False, dispatch: bool = False):
    """Register ``_q_<name>`` as query ``<name>``; returns it unchanged."""

    def register(fn):
        name = fn.__name__.removeprefix("_q_")
        if name == fn.__name__ or name in _QUERIES:
            raise ValueError(f"{fn.__name__}: a query is a _q_<name> function, registered once")
        _QUERIES[name] = fn
        for flag, names in ((bench, BENCH), (scale, SCALE), (dispatch, DISPATCH)):
            if flag:
                names.append(name)
        return fn

    return register if fn is None else register(fn)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every query by name: ``_WINDOW_ORDER`` first, because the driver's
    correctness pass records only the first ~50 keys, then the rest in
    definition order."""
    missing = [k for k in _WINDOW_ORDER if k not in _QUERIES]
    assert not missing, f"_WINDOW_ORDER names unknown queries: {missing}"
    head = {k: _QUERIES[k] for k in _WINDOW_ORDER}
    return head | {k: v for k, v in _QUERIES.items() if k not in head}


# Round-12 driver window (slots 0-49): the 2 never-driver-run round-12
# queries first (vamp_score_data, TransferOperatorModel propagation,
# blocking-key advisor),
# then the evidence-age rotation from tools/plan_window.py — all 35
# queries whose most recent driver green is r7 (the oldest cohort after
# the r11 rotation), then the 12 oldest r8 greens that fit. Keeps the
# feasible 5-round freshness cap: after this round no query's green
# evidence predates r8. Recomputed each round; exactly 50 entries —
# the driver records only the first ~50 queries() keys.
_WINDOW_ORDER = [
    "vamp_score_data_events",  # never driver-run (new r12)
    "koopman_propagate_events",  # never driver-run (new r12)
    "customer_blocking_advisor",  # never driver-run (new r12)
    "kmeans_embeddings",  # last green r07
    "hmm_viterbi_events",  # last green r07
    "embedding_whiten",  # last green r07
    "msm_pi_events",  # last green r07
    "msm_its_events",  # last green r07
    "msm_ck_events",  # last green r07
    "pcca_events",  # last green r07
    "sindy_events",  # last green r07
    "semantic_dedup",  # last green r07
    "doc_chunks",  # last green r07
    "doc_packing",  # last green r07
    "corpus_clean_pipeline",  # last green r07
    "doc_decontaminate",  # last green r07
    "doc_span_dedup",  # last green r07
    "doc_c4_filter",  # last green r07
    "doc_line_dedup",  # last green r07
    "domain_mixture",  # last green r07
    "doc_stratified_sample",  # last green r07
    "doc_pii_scrub",  # last green r07
    "corpus_prep_pipeline",  # last green r07
    "dedup_verified_pairs",  # last green r07
    "dedup_components",  # last green r07
    "doc_gopher_quality",  # last green r07
    "doc_gopher_repetition",  # last green r07
    "doc_winnowing",  # last green r07
    "doc_lm_score",  # last green r07
    "event_session_range_join",  # last green r07
    "event_range_frame",  # last green r07
    "event_cube",  # last green r07
    "event_value_percentiles",  # last green r07
    "purchase_and_signup_users",  # last green r07
    "streaming_dedup_replay",  # last green r07
    "streaming_transition_counts",  # last green r07
    "event_pagerank",  # last green r07
    "doc_edit_pairs",  # last green r07
    "doc_hll_rollup",  # last green r08
    "doc_hybrid_search",  # last green r08
    "streaming_heavy_hitters",  # last green r08
    "q2_min_supplier",  # last green r08
    "q4_priority_exists",  # last green r08
    "q7_volume_shipping",  # last green r08
    "q8_market_share",  # last green r08
    "q9_product_profit",  # last green r08
    "q12_late_shipments",  # last green r08
    "q13_order_distribution",  # last green r08
    "q14_promo_revenue",  # last green r08
    "q15_top_supplier",  # last green r08
]


@query(bench=True, scale=True)
def _q_doc_token_stats(spark, sf_dir):
    from deeptime_spark.operators import text as T

    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").cast("long").alias("n_tokens"),
        T.word_token_count("text").cast("long").alias("n_words"),
        T.char_count("text").cast("long").alias("n_chars_c"),
    )


@query(bench=True)
def _q_doc_quality(spark, sf_dir):
    from deeptime_spark.operators import text as T

    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.punct_ratio("text").alias("punct_ratio"),
        T.stopword_ratio("text").alias("stopword_ratio"),
        T.mean_word_length("text").alias("mean_word_length"),
        T.quality_score("text").alias("quality"),
    )


@query
def _q_doc_language(spark, sf_dir):
    from deeptime_spark.operators import text as T

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", T.detect_language("text").alias("lang_detected"))


@query(bench=True)
def _q_doc_language_summary(spark, sf_dir):
    from deeptime_spark.operators import text as T

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select(T.detect_language("text").alias("lang_detected"))
        .groupBy("lang_detected")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query
def _q_doc_hash_groups(spark, sf_dir):
    from deeptime_spark.operators.dedup import exact_duplicates

    docs = _read(spark, sf_dir, "documents")
    return exact_duplicates(docs, min_copies=1).select("text_hash", "n_copies", "canonical_id")


@query
def _q_dedup_docs_count(spark, sf_dir):
    from deeptime_spark.operators.dedup import drop_exact_duplicates

    docs = _read(spark, sf_dir, "documents")
    return drop_exact_duplicates(docs).agg(F.count(F.lit(1)).alias("n_unique"))


@query
def _q_doc_jaccard_adjacent(spark, sf_dir):
    from deeptime_spark.operators.dedup import ngram_jaccard

    docs = _read(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return pairs.select(
        "id_a", "id_b", ngram_jaccard(F.col("text_a"), F.col("text_b"), n=3).alias("jaccard")
    )


@query(bench=True)
def _q_doc_shingle_count(spark, sf_dir):
    from deeptime_spark.operators.text import shingles

    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.size(F.array_distinct(shingles("text", 5))).cast("long").alias("n_shingles")
    )


@query
def _q_embedding_norms(spark, sf_dir):
    from deeptime_spark.operators.similarity import norm

    emb = _read(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.round(norm(F.col("embedding").cast("array<double>")), 6).alias("l2_norm")
    )


@query(bench=True, scale=True)
def _q_knn_bruteforce(spark, sf_dir):
    from deeptime_spark.operators.similarity import brute_force_topk

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, k=10)
    return out.select("query_id", "vec_id", F.col("rank").cast("long").alias("rank"))


@query
def _q_embedding_label_stats(spark, sf_dir):
    from deeptime_spark.operators.similarity import norm

    emb = _read(spark, sf_dir, "embeddings")
    return (
        emb.select("label", norm(F.col("embedding").cast("array<double>")).alias("l2"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("l2"), 6).alias("avg_norm"))
    )


@query
def _q_label_centroid_norm(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "val")
    )
    m = ex.groupBy("label", "dim").agg(F.avg("val").alias("mv"))
    return m.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("mv") * F.col("mv"))), 6).alias("centroid_norm")
    )


@query(bench=True, scale=True)
def _q_event_transition_counts(spark, sf_dir):
    from deeptime_spark.markov.transition_counting import transition_counts_df

    traj = _event_traj(spark, sf_dir)
    return transition_counts_df(traj, lagtime=1).select(
        "s_from", "s_to", F.col("n").cast("long").alias("n")
    )


@query
def _q_event_state_histogram(spark, sf_dir):
    traj = _event_traj(spark, sf_dir)
    return traj.groupBy("state").agg(F.count(F.lit(1)).alias("n"))


@query(bench=True)
def _q_event_timeshifted(spark, sf_dir):
    from deeptime_spark.operators.lag import timeshifted

    traj = _event_traj(spark, sf_dir)
    out = timeshifted(traj, lagtime=2, stride=3, cols=("value",))
    return out.select("traj_id", "t", "value", "value_lagged")


@query(bench=True, scale=True)
def _q_event_moments(spark, sf_dir):
    from deeptime_spark.operators.lag import with_lagged

    traj = _event_traj(spark, sf_dir)
    lagged = with_lagged(traj, 1, cols=("vc",))
    vc, vcl = F.col("vc"), F.col("vc_lagged")
    return lagged.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(vc).alias("sx_c"),
        F.sum(vcl).alias("sy_c"),
        F.sum(vc * vc).alias("sxx_cc"),
        F.sum(vc * vcl).alias("sxy_cc"),
        F.sum(vcl * vcl).alias("syy_cc"),
    )


@query
def _q_event_derivative(spark, sf_dir):
    """SINDy's FD-derivative window pass over the event value series:
    2nd-order central in the interior, 2nd-order one-sided at edges."""
    from deeptime_spark.sindy import with_derivative

    traj = _event_traj(spark, sf_dir)
    feat = traj.select("traj_id", "t", F.array(F.col("value")).alias("x"))
    out = with_derivative(feat, dt=1.0)
    return out.select("traj_id", "t", F.col("x_dot")[0].alias("dvalue"))


@query(bench=True, scale=True)
def _q_event_sliding_avg(spark, sf_dir):
    from deeptime_spark.operators.lag import sliding_window

    traj = _event_traj(spark, sf_dir)
    win = sliding_window(traj, radius=2, col="vc", out_col="win")
    return win.select(
        "traj_id",
        "t",
        F.aggregate("win", F.lit(0).cast("long"), lambda acc, v: acc + v).alias("win_cents"),
        F.size("win").cast("long").alias("win_n"),
    )


@query(bench=True)
def _q_event_sessions(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts", 1).over(w))
    is_new = F.when(gap.isNull() | (gap > F.lit(1800 * 1_000_000)), 1).otherwise(0)
    return (
        ev.withColumn("_new", is_new)
        .groupBy("user_id")
        .agg(F.sum("_new").cast("long").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


@query
def _q_event_box(spark, sf_dir):
    from deeptime_spark.operators.stats import bin_column

    traj = _event_traj(spark, sf_dir)
    return (
        traj.select(bin_column(F.col("value"), 0.0, 500.0, 20).alias("box"))
        .groupBy("box")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(bench=True)
def _q_event_histogram2d(spark, sf_dir):
    from deeptime_spark.operators.stats import histogram2d_df

    ev = _read(spark, sf_dir, "events").withColumn("hour", F.hour("ts"))
    return histogram2d_df(
        ev, "value", "hour", bins=(10, 24), x_range=(0.0, 500.0), y_range=(0.0, 24.0)
    )


@query
def _q_event_blocksplit(spark, sf_dir):
    from deeptime_spark.operators.lag import blocksplit

    traj = _event_traj(spark, sf_dir)
    return (
        blocksplit(traj, blocksize=10)
        .groupBy("block_id")
        .agg(F.count(F.lit(1)).alias("n_frames"))
    )


@query
def _q_distinct_users_by_type(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"), F.count(F.lit(1)).alias("n_events")
    )


@query(bench=True, scale=True)
def _q_q1_pricing_summary(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("count_order"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("sum_qty_c"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_base_c"),
        F.sum(F.round(disc * 10000).cast("long")).alias("sum_disc_e4"),
        F.sum(F.round(charge * 1000000).cast("long")).alias("sum_charge_e6"),
    )


@query(bench=True)
def _q_q3_top_orders(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _read(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp")
    )
    li = _read(spark, sf_dir, "lineitem")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
    joined = li.join(
        F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
        li.l_orderkey == F.col("o_orderkey"),
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(F.sum(rev).alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), F.col("o_orderkey"))
        .limit(10)
    )


@query
def _q_top_customers(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("revenue_c"))
        .orderBy(F.desc("revenue_c"), F.col("c_custkey"))
        .limit(20)
    )


@query
def _q_order_priority_count(spark, sf_dir):
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    cond = (orders.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(bench=True)
def _q_nation_order_volume(spark, sf_dir):
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("revenue_c"),
    )


@query(bench=True)
def _q_brand_volume(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("sum_qty_c"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("revenue_c"),
        )
    )


# ---- hash-based / estimator pipelines (rows-only checks: no ANSI oracle)


@query
def _q_event_order_asof(spark, sf_dir):
    """Backward as-of join: each event aligned with the user's latest
    order at-or-before the event time (union + last-over-window — one
    shuffle, no range probing). Right side pre-deduplicated per
    (user, date) so the 'latest' pick is well-defined."""
    from deeptime_spark.operators.lag import asof_join

    ev = _read(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    orders = (
        _read(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("ts"))
        .agg(F.max(F.round(F.col("o_totalprice") * 100).cast("long")).alias("order_c"))
    )
    out = asof_join(ev, orders, on="ts", by="user_id", right_cols=["order_c"])
    return out.select("user_id", "event_id", F.col("order_c_asof").alias("last_order_c"))


@query
def _q_event_rollup(spark, sf_dir):
    """ROLLUP aggregation: (state, day-of-week) hierarchy with subtotal
    and grand-total rows."""
    traj = _event_traj(spark, sf_dir)
    return (
        traj.withColumn("dow", F.dayofweek("ts"))
        .rollup("state", "dow")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vc").alias("sum_vc"))
    )


@query
def _q_purchase_not_error_users(spark, sf_dir):
    """Set operation: (user, week) pairs with a purchase but no error
    that week (EXCEPT)."""
    ev = _read(spark, sf_dir, "events").withColumn(
        "week", F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd")
    )
    purch = ev.where(F.col("event_type") == "purchase").select("user_id", "week").distinct()
    err = ev.where(F.col("event_type") == "error").select("user_id", "week").distinct()
    return purch.exceptAll(err).distinct()


@query
def _q_purchase_and_signup_users(spark, sf_dir):
    """Set operation: (user, week) pairs with BOTH a purchase and a
    signup that week (INTERSECT — completes the set-op family with
    event_rollup/CUBE and the EXCEPT query)."""
    ev = _read(spark, sf_dir, "events").withColumn(
        "week", F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd")
    )
    purch = ev.where(F.col("event_type") == "purchase").select("user_id", "week").distinct()
    sign = ev.where(F.col("event_type") == "signup").select("user_id", "week").distinct()
    return purch.intersect(sign)


@query(bench=True)
def _q_q5_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 6-table join, dims broadcast, revenue in exact
    integer cents x discount-percent units."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    rev = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .where(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_items"), F.sum(rev).alias("revenue_c2")
    )


@query(bench=True, scale=True)
def _q_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure scan + pushed-down filters + one agg."""
    li = _read(spark, sf_dir, "lineitem")
    rev = F.round(F.col("l_extendedprice") * 100).cast("long") * F.round(
        F.col("l_discount") * 100
    ).cast("long")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.count(F.lit(1)).alias("n_items"), F.sum(rev).alias("revenue_c2"))
    )


@query(bench=True)
def _q_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue by customer, top 20."""
    li = _read(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    rev = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.count(F.lit(1)).alias("n_items"), F.sum(rev).alias("revenue_c2"))
        .orderBy(F.desc("revenue_c2"), F.col("c_custkey"))
        .limit(20)
    )


@query(bench=True)
def _q_event_confidence_interval(spark, sf_dir):
    """Empirical 95% CI of the (cents-scaled) event value per event type:
    exact distributed percentiles (operators/stats.py)."""
    from deeptime_spark.operators.stats import confidence_interval_df

    traj = _event_traj(spark, sf_dir).withColumn("event_type", F.col("state"))
    out = confidence_interval_df(traj, "vc", conf=0.95, group_cols=("event_type",))
    return out.select(
        F.col("event_type").cast("long").alias("state"),
        F.round("ci_lo", 6).alias("ci_lo"),
        F.round("ci_hi", 6).alias("ci_hi"),
        F.round("ci_mean", 6).alias("ci_mean"),
    )


def _event_msm(spark, sf_dir, lagtime=1):
    from deeptime_spark.markov.msm import MaximumLikelihoodMSM

    traj = _event_traj(spark, sf_dir).select("traj_id", "t", "state")
    return (
        MaximumLikelihoodMSM(reversible=True, lagtime=lagtime).fit(traj).fetch_model()
    )


@query
def _q_msm_pi_events(spark, sf_dir):
    """Reversible MSM on the event dtraj: stationary distribution + MFPT
    to state 0 per state (distributed counting -> driver spectral math)."""
    msm = _event_msm(spark, sf_dir)
    from deeptime_spark.markov.analysis import mfpt

    P = msm.transition_matrix
    pi = msm.stationary_distribution
    m = mfpt(P, target=0)
    rows = [(int(i), float(pi[i]), float(m[i])) for i in range(len(pi))]
    return _local_df(spark, rows, "state long, pi double, mfpt0 double")


# scale: per-trajectory partial jobs per epoch (as TAE/TVAE/KVADNet):
# work linear in rows, reduce linear in trajectories
@query(bench=True, scale=True, dispatch=True)
def _q_vampnet_events(spark, sf_dir):
    """Torch-free VAMPNet (decomposition/deep.py:VAMPNet; reference
    decomposition/deep/_vampnet.py:330 — the deep estimator previously
    scoped out): a numpy MLP lobe trained full-batch to maximize the
    VAMP-2 score of its features over the event trajectories. Each epoch
    is two distributed jobs emitting per-trajectory sufficient-statistic
    / gradient partials, reduced in sorted-trajectory order (the
    Baum-Welch E-step pattern) — bit-identical for any partition layout,
    so the oracle replays the whole training driver-side
    (oracle_ref.py:oracle_vampnet). Output: the per-epoch VAMP-2 score
    curve."""
    from deeptime_spark.decomposition.deep import VAMPNet

    traj = _event_traj(spark, sf_dir).select(
        "traj_id", "t", (F.col("value") / F.lit(100.0)).alias("x0")
    )
    m = (
        VAMPNet(lagtime=1, layers=[1, 16, 4], n_epochs=6, lr=0.05, seed=42)
        .fit(traj, x_cols=["x0"])
        .fetch_model()
    )
    rows = [(int(e), float(s)) for e, s in enumerate(m.scores)]
    return _local_df(spark, rows, "epoch long, vamp2_score double")


@query(bench=True, scale=True, dispatch=True)
def _q_tae_events(spark, sf_dir):
    """Torch-free time-lagged autoencoder (decomposition/deep.py:TAE;
    reference decomposition/deep/_tae.py:78): numpy MLP encoder/decoder
    trained full-batch to reconstruct the lag-1 frame, one distributed
    per-trajectory-partials job per epoch, sorted-order reduce — same
    determinism contract as vampnet_events. Output: the per-epoch MSE
    curve (oracle_ref.py:oracle_tae)."""
    from deeptime_spark.decomposition.deep import TAE

    traj = _event_traj(spark, sf_dir).select(
        "traj_id", "t", (F.col("value") / F.lit(100.0)).alias("x0")
    )
    m = (
        TAE(lagtime=1, layers=[1, 8, 2, 8, 1], bottleneck_layer=2,
            n_epochs=8, lr=0.02, seed=42)
        .fit(traj, x_cols=["x0"])
        .fetch_model()
    )
    rows = [(int(e), float(v)) for e, v in enumerate(m.losses)]
    return _local_df(spark, rows, "epoch long, mse double")


@query(bench=True, scale=True, dispatch=True)
def _q_tvae_events(spark, sf_dir):
    """Torch-free time-lagged VARIATIONAL autoencoder
    (decomposition/deep.py:TVAE; reference decomposition/deep/_tae.py:266):
    the reparametrization noise is counter-based — eps seeded by
    (seed, epoch, traj_id) — so the stochastic estimator trains
    deterministically, partition-invariantly, and under the full oracle
    gate like its non-variational sibling. Output: per-epoch
    MSE + beta*KLD/d loss curve (oracle_ref.py:oracle_tvae)."""
    from deeptime_spark.decomposition.deep import TVAE

    traj = _event_traj(spark, sf_dir).select(
        "traj_id", "t", (F.col("value") / F.lit(100.0)).alias("x0")
    )
    m = (
        TVAE(lagtime=1, hidden=8, bottleneck=2, n_epochs=8, beta=0.1,
             lr=0.02, seed=42)
        .fit(traj, x_cols=["x0"])
        .fetch_model()
    )
    rows = [(int(e), float(v)) for e, v in enumerate(m.losses)]
    return _local_df(spark, rows, "epoch long, loss double")


@query(bench=True, scale=True)
def _q_kvadnet_events(spark, sf_dir):
    """Deep KVAD (decomposition/deep.py:KVADNet; reference
    decomposition/deep/_kvadnet.py — the last deep-module capability):
    numpy MLP lobe trained to maximize the kernel-embedded variational
    score against the Gaussian Gram of the lagged observable. The N x N
    Gram makes exact deep-KVAD training quadratic, so training runs on a
    bounded CONTENT-ADDRESSED sample (smallest md5(traj_id || '_' || t),
    TakeOrderedAndProject — the scale-honest Nystrom-style design; the
    trained lobe then featurizes the corpus distributed). Seeded
    deterministic numpy training, so the oracle replays it exactly
    (oracle_ref.py:oracle_kvadnet). Output: per-epoch score curve."""
    from deeptime_spark.decomposition.deep import KVADNet

    traj = _event_traj(spark, sf_dir).select(
        "traj_id", "t", F.array(F.col("value") / F.lit(100.0)).alias("x")
    )
    m = (
        KVADNet(lagtime=1, layers=[1, 16, 2], sigma=1.0, n_epochs=10,
                lr=0.02, seed=42, max_samples=1500)
        .fit(traj)
        .fetch_model()
    )
    rows = [(int(e), float(v)) for e, v in enumerate(m.scores)]
    return _local_df(spark, rows, "epoch long, kvad_score double")


@query(bench=True, scale=True)
def _q_rate_matrix_events(spark, sf_dir):
    """Continuous-time generator estimation (markov/rate_matrix.py:46-251;
    reference markov/tools/estimation api.py rate_matrix cases of
    tests/markov/tools/estimation/test_api.py): distributed sliding
    counting -> driver-side 'pseudo' (first-order), 'KL'
    (Kalbfleisch-Lawless 1985 likelihood, projected-BB optimizer), and
    'CVE' (Crommelin-Vanden-Eijnden spectral matching) estimators on the
    event-dtraj count matrix. 'truncated_log' is omitted by design: the
    lag-1 event chain mixes too fast to be embeddable, so logm(T) raises.
    Oracle re-derives the counts in DuckDB and runs the identical numpy
    estimators (oracle_ref.py:oracle_rate_matrix)."""
    import numpy as np

    from deeptime_spark.markov.rate_matrix import estimate_rate_matrix

    msm = _event_msm(spark, sf_dir)
    C = np.asarray(msm.count_model.count_matrix, dtype=np.float64)
    rows = []
    for method in ("pseudo", "KL", "CVE"):
        K = estimate_rate_matrix(C, method=method)
        for i in range(K.shape[0]):
            for j in range(K.shape[1]):
                rows.append((method, int(i), int(j), float(K[i, j])))
    return _local_df(spark, rows, "method string, i long, j long, k_rate double")


@query(bench=True, scale=True)
def _q_oom_events(spark, sf_dir):
    """OOM-reweighted (Koopman second-order) MSM (markov/oom.py:103;
    reference tests/markov/msm/test_koopman_reweighted_msm.py): the
    one-step count matrix AND the two-step count tensor are distributed
    window/groupBy jobs; the collected (n² + n³) counts feed the shared
    driver routine oom_estimate_from_counts (bootstrap rank decision,
    OOM components, equilibrium correction). Oracle re-derives both
    count tensors in numpy from the ordered dtraj and calls the same
    routine (oracle_ref.py:oracle_oom)."""
    import numpy as np

    from deeptime_spark.markov.oom import OOMReweightedMSM

    traj = _event_traj(spark, sf_dir).select("traj_id", "t", "state")
    model = OOMReweightedMSM(lagtime=1, nbs=100, seed=3).fit(traj).fetch_model()
    T = model.transition_matrix
    symbols = np.asarray(model.count_model.state_symbols)
    rows = [
        (int(symbols[i]), int(symbols[j]), float(T[i, j]))
        for i in range(T.shape[0])
        for j in range(T.shape[0])
    ]
    return _local_df(spark, rows, "s_from long, s_to long, t_prob double")


@query(bench=True, scale=True)
def _q_amm_events(spark, sf_dir):
    """Augmented MSM (markov/amm.py:45, Olsson et al. PNAS'17; reference
    tests/markov/msm/test_augmented_msm.py): bias the reversible MSM
    toward an experimental measurement — observable = state id, target =
    unbiased expectation + 0.25, weight 20. Counting is the distributed
    job; the Lagrange fixed-point optimizer is driver-side. Oracle
    replays both (oracle_ref.py:oracle_amm)."""
    import numpy as np

    from deeptime_spark.markov.amm import AugmentedMSMEstimator

    msm = _event_msm(spark, sf_dir)
    sub = msm.count_model
    pi = msm.stationary_distribution
    symbols = np.asarray(sub.state_symbols)
    E = symbols.astype(np.float64)[:, None]
    m_unb = float(pi @ E[:, 0])
    amm = AugmentedMSMEstimator(E, [m_unb + 0.25], [20.0]).fit(sub).fetch_model()
    pa = amm.stationary_distribution
    mh = float(amm.m_hat[0])
    rows = [(int(symbols[i]), float(pa[i]), mh, m_unb) for i in range(len(symbols))]
    return _local_df(spark, 
        rows, "state long, pi_amm double, m_hat double, m_unbiased double"
    )


@query(bench=True, scale=True)
def _q_sensitivity_events(spark, sf_dir):
    """MSM observable sensitivity matrices (markov/sensitivity.py:27-124;
    reference tests/markov/tools/analysis/impl/dense/sensitivity_test.py):
    first-order perturbation of the slowest eigenvalue, the MFPT-to-0 of
    state 1, and pi[0] w.r.t. every transition-matrix entry, on the
    event-dtraj reversible MLE. Distributed counting -> driver spectral
    math; oracle replays both (oracle_ref.py:oracle_sensitivity)."""
    from deeptime_spark.markov import sensitivity as sens

    P = _event_msm(spark, sf_dir).transition_matrix
    mats = [
        ("eigenvalue_1", sens.eigenvalue_sensitivity(P, 1)),
        ("mfpt0_state1", sens.mfpt_sensitivity(P, 0, 1)),
        ("pi_state0", sens.stationary_distribution_sensitivity(P, 0)),
    ]
    rows = [
        (kind, int(i), int(j), float(S[i, j]))
        for kind, S in mats
        for i in range(S.shape[0])
        for j in range(S.shape[1])
    ]
    return _local_df(spark, rows, "kind string, i long, j long, dval double")


@query
def _q_msm_its_events(spark, sf_dir):
    """Implied-timescales curve: one counting pass over all lags ->
    driver eigenvalues (validation.py)."""
    from deeptime_spark.validation import implied_timescales_from_dtrajs

    traj = _event_traj(spark, sf_dir).select("traj_id", "t", "state")
    its = implied_timescales_from_dtrajs(traj, lagtimes=[1, 2, 3], n_its=3)
    rows = [
        (int(tau), int(k), float(its.timescales_for_process(k)[i]))
        for i, tau in enumerate(its.lagtimes)
        for k in range(its.max_n_processes)
    ]
    return _local_df(spark, rows, "lagtime long, process long, its double")


@query
def _q_msm_ck_events(spark, sf_dir):
    """Chapman-Kolmogorov test, 2 metastable sets, lags {1,2,3}."""
    from deeptime_spark.validation import ck_test, fit_msms_at_lags

    traj = _event_traj(spark, sf_dir).select("traj_id", "t", "state")
    models = fit_msms_at_lags(traj, lagtimes=[1, 2, 3])
    ck = ck_test(models, n_metastable_sets=2)
    rows = [
        (int(tau), int(i), int(j), float(ck.predictions[li][i, j]), float(ck.estimates[li][i, j]))
        for li, tau in enumerate(ck.lagtimes)
        for i in range(2)
        for j in range(2)
    ]
    return _local_df(spark, 
        rows, "lagtime long, set_i long, set_j long, predicted double, estimated double"
    )


@query
def _q_msm_longtail_events(spark, sf_dir):
    """MSM analysis long tail on the event MSM: hitting probability of
    state 4, correlation-fingerprint amplitudes for the value observable,
    and per-state expected counts after 10 steps from uniform start."""
    import numpy as np

    from deeptime_spark.markov.analysis import (
        expected_counts,
        fingerprint_correlation,
        hitting_probability,
    )

    msm = _event_msm(spark, sf_dir)
    P = msm.transition_matrix
    n = P.shape[0]
    h = hitting_probability(P, [4])
    obs = np.arange(n, dtype=np.float64)
    ts, amp = fingerprint_correlation(P, obs)
    ec = expected_counts(P, np.full(n, 1.0 / n), 10).sum(axis=1)
    rows = [
        (int(i), float(h[i]), float(amp[i]), float(ec[i])) for i in range(n)
    ]
    return _local_df(spark, 
        rows, "state long, hitting_p4 double, fp_amplitude double, expected_out_counts double"
    )


@query
def _q_pcca_events(spark, sf_dir):
    """PCCA+ memberships of the lag-1 event MSM (2 metastable sets)."""
    import numpy as np

    msm = _event_msm(spark, sf_dir)
    pcca = msm.pcca(2)
    m = np.asarray(pcca.memberships)
    rows = [(int(i), float(m[i, 0]), float(m[i, 1])) for i in range(m.shape[0])]
    return _local_df(spark, rows, "state long, m0 double, m1 double")


@query
def _q_bucketed_traj_counts(spark, sf_dir):
    """§2.1 sinks under the gate: the trajectory frame is written through
    the bucketed external-table sink (bucketBy(traj_id) + sortBy — the
    pay-the-shuffle-once layout, sources/readers.py), read back, and
    transition-counted. The bucketed scan satisfies the per-trajectory
    clustering so the lag window plans with ZERO Exchange (pinned in
    tests/test_sources.py); the counts equal counting the original frame
    (same oracle SQL as event_transition_counts)."""
    import shutil
    import tempfile
    import uuid

    from deeptime_spark.markov.transition_counting import transition_counts_df

    traj = _event_traj(spark, sf_dir).select("traj_id", "t", "state")
    name = "bq_" + uuid.uuid4().hex[:8]
    path = tempfile.mkdtemp(prefix="bucketed_traj_")
    (
        traj.write.mode("overwrite")
        .bucketBy(8, "traj_id")
        .sortBy("traj_id", "t")
        .option("path", path)
        .format("parquet")
        .saveAsTable(name)
    )
    try:
        back = spark.table(name)
        rows = (
            transition_counts_df(back, lagtime=1)
            .select("s_from", "s_to", F.col("n").cast("long").alias("n"))
            .collect()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(path, ignore_errors=True)
    return _local_df(spark, 
        [(int(r["s_from"]), int(r["s_to"]), int(r["n"])) for r in rows],
        "s_from long, s_to long, n long",
    )


@query(scale=True)
def _q_doc_quality_classifier(spark, sf_dir):
    """Model-based quality filter (the fastText axis of CCNet/GPT-3
    pipelines): multinomial Naive Bayes self-trained on the Gopher rule
    labels — one per-class token-count aggregation, driver log-prob
    finalize from exact integers, Arrow scoring in token order
    (operators/text.py:quality_classifier_scores_df). Oracle replays
    labels via the DuckDB Gopher rules and the same finalize
    (oracle_ref.py:oracle_quality_classifier)."""
    from deeptime_spark.operators.text import quality_classifier_scores_df

    docs = _read(spark, sf_dir, "documents")
    out = quality_classifier_scores_df(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("log_odds", 6).alias("log_odds"),
        F.col("pred_good").cast("long").alias("pred_good"),
    )


@query
def _q_generator_msm_roundtrip(spark, sf_dir):
    """§2.1 generators under the gate: a 48-trajectory BirthDeathChain
    ensemble generated ON THE EXECUTORS (seeded per-trajectory
    simulate_msm in one mapInPandas — the SURVEY §2.1 ensemble mapping),
    then counted and reversible-MLE'd back. Deterministic end to end
    (PCG64 per-trajectory seeds), so the oracle replays generation +
    counting + finalize exactly (oracle_ref.py:oracle_generator_msm).
    Output: per-state visit counts and stationary distribution."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from deeptime_spark.data.generators import BirthDeathChain
    from deeptime_spark.markov.msm import MaximumLikelihoodMSM

    n, n_traj, n_steps = 9, 48, 400
    q = np.r_[0.0, [0.25] * (n - 1)]
    p = np.r_[[0.25] * (n - 1), 0.0]
    T = BirthDeathChain(q, p).transition_matrix
    bc = spark.sparkContext.broadcast(T)
    schema = StructType(
        [
            StructField("traj_id", LongType()),
            StructField("t", LongType()),
            StructField("state", IntegerType()),
        ]
    )

    def gen(pdfs):
        from deeptime_spark.data.generators import simulate_msm

        Tm = bc.value
        for pdf in pdfs:
            for tid in pdf["id"]:
                tid = int(tid)
                d = simulate_msm(Tm, n_steps, start=tid % Tm.shape[0], seed=1000 + tid)
                yield pd.DataFrame(
                    {"traj_id": tid, "t": np.arange(n_steps), "state": d}
                )

    traj = spark.range(n_traj).repartition(8).mapInPandas(gen, schema=schema)
    msm = (
        MaximumLikelihoodMSM(reversible=True, lagtime=1)
        .fit(traj.select("traj_id", "t", "state"))
        .fetch_model()
    )
    hist = {
        int(r["state"]): int(r["n"])
        for r in traj.groupBy("state").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    pi = msm.stationary_distribution
    # map submodel pi back to full generator state ids (fully connected
    # here, but keep the general contract mirrored with the oracle)
    symbols = [int(s) for s in np.asarray(msm.count_model.state_symbols)]
    full_pi = {s: float(pi[i]) for i, s in enumerate(symbols)}
    rows = [
        (s, hist.get(s, 0), round(full_pi.get(s, 0.0), 6)) for s in range(n)
    ]
    return _local_df(spark, rows, "state long, n_visits long, pi double")


@query
def _q_doc_sql_surface(spark, sf_dir):
    """The plain-SQL surface under the gate: per-document token count and
    SimHash computed through the dt_* SQL temporary functions
    (deeptime_spark/sql_functions.py) — the same expressions the Column
    operators compile to, reached from spark.sql alone. Oracle: the
    engine-independent XXH64 replica (oracle_ref.py:oracle_sql_surface)."""
    from deeptime_spark.sql_functions import register_sql_functions

    register_sql_functions(spark)
    _read(spark, sf_dir, "documents").createOrReplaceTempView("_sqlsurface_docs")
    out = spark.sql(
        """SELECT doc_id, dt_token_count(text) AS n_tokens,
                  dt_simhash64(text) AS simhash
           FROM _sqlsurface_docs"""
    )
    return out.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "simhash"
    )


@query(scale=True)
def _q_bpe_tokens(spark, sf_dir):
    """BPE tokenizer (Sennrich ACL'16) trained and applied on the corpus:
    ONE word-count aggregation (the only corpus-scale pass), driver merge
    loop over the distinct-word dictionary, broadcast-ranks Arrow encode.
    Returns per-document word and BPE token counts — exact integers,
    replayed end-to-end by the oracle (oracle_ref.py:oracle_bpe)."""
    from deeptime_spark.operators.bpe import bpe_token_counts_df, train_bpe

    docs = _read(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=120, min_count=2)
    return bpe_token_counts_df(docs, merges).select(
        "doc_id", "n_words", "n_bpe_tokens"
    )


@query(bench=True, scale=True)
def _q_token_pack_sequences(spark, sf_dir):
    """Tokenize-and-pack (operators/bpe.py:pack_token_sequences): BPE
    merges trained on the corpus, every document encoded, and the
    per-source token streams packed into fixed 64-symbol training
    sequences with documents straddling boundaries — the Megatron-style
    data-prep step between a cleaned corpus and a training run. Emits
    per-sequence audit rows with the md5 of the space-joined symbols, so
    the value hash pins every token of every sequence; the oracle
    replays tokenization, training, encoding, and packing end to end
    (oracle_ref.py:oracle_token_pack)."""
    from deeptime_spark.operators.bpe import pack_token_sequences, train_bpe

    docs = _read(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=120, min_count=2)
    return pack_token_sequences(docs, merges, seq_len=64).select(
        "shard",
        F.col("seq_idx").cast("long").alias("seq_idx"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("first_doc_id").cast("long").alias("first_doc_id"),
        F.md5(F.concat_ws(" ", "toks")).alias("tok_md5"),
    )


@query(bench=True, scale=True)
def _q_doc_hll_shingles(spark, sf_dir):
    """Deterministic HyperLogLog distinct counting
    (operators/sketches.py): per-language approximate distinct 5-shingle
    count next to the exact count. The distributed part is one codegen
    xxhash64 pass + per-register min + an exact DECIMAL register sum
    (order-independent), so the driver finish sees one row per language;
    the oracle replays the hash, register state, and finish arithmetic
    bit-for-bit (oracle_ref.py:oracle_doc_hll_shingles). Unlike
    approx_count_distinct's opaque HLL++ state this sketch is
    layout-independent and value-pinnable — and mergeable across shards
    by max(rho)."""
    from deeptime_spark.operators.sketches import hll_count_distinct
    from deeptime_spark.operators.text import shingles

    docs = _read(spark, sf_dir, "documents")
    vals = docs.select("lang", F.explode(shingles(F.col("text"), 5)).alias("v"))
    est = hll_count_distinct(vals, "v", ["lang"], p=12)
    exact = {
        r["lang"]: r["n"]
        for r in vals.groupBy("lang")
        .agg(F.countDistinct("v").alias("n"))
        .collect()
    }
    rows = [
        (d["lang"], int(d["n_registers"]), round(float(d["est_distinct"]), 6), int(exact[d["lang"]]))
        for d in est
    ]
    return _local_df(spark, 
        rows, "lang string, n_registers long, est_distinct double, exact_distinct long"
    )


@query(bench=True, scale=True)
def _q_doc_hll_rollup(spark, sf_dir):
    """Mergeable-sketch rollup — the canonical 100 TB pre-aggregation
    pattern: per-(lang, day) HLL register relations are WRITTEN as a
    day-partitioned parquet sketch table (bounded: <= n_groups * 2^p
    rows, independent of corpus size), read back, and merged across
    days by the HLL monoid (operators/sketches.py:hll_merge, max(rho)
    per register) into per-lang distinct-shingle estimates — no rescan
    of the documents. Because max(rho) over days equals the rho of the
    global min sub-hash, the rolled-up estimate is bit-identical to the
    one-pass sketch, and the oracle replays it with the same
    register/finish arithmetic (oracle_ref.py:oracle_doc_hll_rollup).
    At scale this is the daily-sketch-table -> weekly-rollup contract:
    each day folds its own partition, history is never rescanned."""
    import tempfile

    from deeptime_spark.operators.sketches import (
        hll_estimate_rows,
        hll_merge,
        hll_registers,
    )
    from deeptime_spark.operators.text import shingles

    docs = _read(spark, sf_dir, "documents")
    vals = docs.select(
        "lang",
        (F.col("doc_id") % 7).alias("day"),
        F.explode(shingles(F.col("text"), 5)).alias("v"),
    )
    daily = hll_registers(vals, "v", ["lang", "day"], p=12)
    idx_dir = tempfile.mkdtemp(prefix="hll_daily_")
    try:
        daily.write.mode("overwrite").partitionBy("day").parquet(idx_dir)
        stored = spark.read.parquet(idx_dir)
        ndays = {
            r["lang"]: r["n"]
            for r in stored.groupBy("lang")
            .agg(F.countDistinct("day").alias("n"))
            .collect()
        }
        merged = hll_merge([stored.drop("day")], ["lang"])
        est = hll_estimate_rows(merged, ["lang"], p=12)
    finally:
        _rmtree_quiet(idx_dir)
    rows = [
        (
            d["lang"],
            int(ndays[d["lang"]]),
            int(d["n_registers"]),
            round(float(d["est_distinct"]), 6),
        )
        for d in est
    ]
    return _local_df(spark, 
        rows, "lang string, n_days long, n_registers long, est_distinct double"
    )


@query(bench=True, scale=True)
def _q_doc_bloom_decontaminate(spark, sf_dir):
    """Fixed-memory Bloom-filter decontamination
    (operators/sketches.py:bloom_decontaminate): word 8-grams of the
    probe split (doc_id % 20 == 0) folded into a 2^16-bit k=4 filter —
    represented as the broadcastable set-bit-position relation, bounded
    by m_bits regardless of probe-corpus size — probed with a codegen
    explode + broadcast semi-join + count==k check. No false negatives
    by construction; the oracle replays the double-hashed positions and
    membership per gram (oracle_ref.py:oracle_doc_bloom_decontaminate)."""
    from deeptime_spark.operators.sketches import bloom_decontaminate

    docs = _read(spark, sf_dir, "documents")
    probes = docs.where(F.col("doc_id") % 20 == 0)
    return bloom_decontaminate(docs, probes, n=8, m_bits=1 << 16, k=4).select(
        "doc_id", "n_grams", "n_bloom_hits", "contaminated"
    )


@query(bench=True, scale=True)
def _q_doc_cms_word_counts(spark, sf_dir):
    """Count-min frequency sketch (operators/sketches.py:cms_build):
    every word occurrence in the corpus folded into a 4x4096-cell sketch
    (bounded state, exact integer cells, mergeable by cell-wise sum),
    then the exact top-20 words point-queried against it — cms_est >=
    exact_n always, equality unless a cell collides. The oracle replays
    tokenization, the double-hashed cells, and the min-over-rows
    estimate (oracle_ref.py:oracle_doc_cms_word_counts)."""
    from deeptime_spark.operators.sketches import cms_build, cms_estimate

    docs = _read(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+", " ")
    toks = docs.select(F.explode(F.split(norm, " ")).alias("w")).where(F.col("w") != "")
    sketch = cms_build(toks, "w", width=4096, depth=4)
    top = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("w"))
        .limit(20)
    )
    est = cms_estimate(top, sketch, "w", width=4096, depth=4)
    return top.join(est, "w").select(
        F.col("w").alias("word"), "exact_n", F.col("cms_est").cast("long").alias("cms_est")
    )


@query(bench=True, scale=True)
def _q_doc_bm25_search(spark, sf_dir):
    """BM25 full-text top-15 (operators/retrieval.py:bm25_search): the
    tf relation is filtered to the 5 query terms before any aggregation,
    pivoted to one column per term, and scored in one codegen expression
    whose only transcendental (the idf log) is a driver-computed double
    literal — so every distributed op is +,*,/ over exact inputs and the
    oracle's Python replay is bit-exact
    (oracle_ref.py:oracle_doc_bm25_search). Top-k via TakeOrdered with a
    total (score desc, doc_id asc) order."""
    from deeptime_spark.operators.retrieval import bm25_search

    docs = _read(spark, sf_dir, "documents")
    res = bm25_search(docs, "hash join fast scan table", k=15)
    return res.select(
        "doc_id", F.round(F.col("score"), 6).alias("score"), "n_matched"
    )


@query(bench=True, scale=True)
def _q_doc_hybrid_search(spark, sf_dir):
    """Hybrid sparse+dense retrieval fused by reciprocal rank
    (operators/retrieval.py:hybrid_search — Cormack et al. SIGIR'09
    RRF): BM25 top-50 over documents + exact cosine top-50 over the
    embedding column (query = vec_id 0's vector), fused as
    1/(60+rank) sums in fixed source order. Both candidate lists are
    TakeOrdered plans with total (score desc, id) orders, so the
    integer ranks — all that fusion consumes — are engine-exact.
    Oracle replays both rankers and the fixed-order fusion
    (oracle_ref.py:oracle_doc_hybrid_search)."""
    from deeptime_spark.operators.retrieval import hybrid_search

    docs = _read(spark, sf_dir, "documents")
    emb = _read(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    out = hybrid_search(
        docs, emb, "hash join fast scan table", qvec, k=15, k_each=50
    )
    return out.select(
        "doc_id",
        F.round("rrf_score", 6).alias("rrf_score"),
        F.col("rank_bm25").cast("long").alias("rank_bm25"),
        F.col("rank_dense").cast("long").alias("rank_dense"),
    )


@query(bench=True, scale=True)
def _q_doc_sparse_cosine(spark, sf_dir):
    """All-pairs sparse cosine near-duplicates
    (operators/retrieval.py:sparse_cosine_pairs): rare-word-trigram
    inverted index (df <= 10; 11x candidate pruning vs all-pairs at
    sf0.01) -> capped join-free bucket pair expansion -> EXACT
    verification on integer tf vectors, so the dot and squared norms
    are exact integers and the cosine is bit-reproducible. The oracle
    replays index, candidates, and cosine arithmetic
    (oracle_ref.py:oracle_doc_sparse_cosine)."""
    from deeptime_spark.operators.retrieval import sparse_cosine_pairs

    docs = _read(spark, sf_dir, "documents")
    return sparse_cosine_pairs(
        docs, threshold=0.9, ngram_n=3, max_df=10, max_bucket=64
    ).select("id_a", "id_b", F.round(F.col("cosine"), 6).alias("cosine"))


@query(bench=True, scale=True)
def _q_corpus_profile(spark, sf_dir):
    """Data-card profiling (operators/profile.py:profile_table): one
    WIDE aggregate pass over the documents table emits per-column row /
    null / exact-distinct counts, min/max, and integer-scaled average
    rendered length — the audit a 100 TB ingestion publishes beside its
    manifest. Pure-SQL DuckDB oracle (one UNION ALL branch per column),
    no replica needed."""
    from deeptime_spark.operators.profile import profile_table

    docs = _read(spark, sf_dir, "documents")
    return profile_table(docs, ["doc_id", "text", "lang", "source", "n_chars"])


@query(bench=True, scale=True)
def _q_corpus_snapshot_diff(spark, sf_dir):
    """Snapshot audit diff (operators/profile.py:snapshot_diff): a
    deterministic second snapshot is derived from the documents table
    (doc_id%17==0 removed, doc_id%13==0 edited, doc_id%19==0 re-added
    under offset ids), then classified added/removed/changed/unchanged
    via the digest-only full-outer join — the shuffle carries
    (id, 32-byte md5), never document payloads. Pure-SQL DuckDB oracle
    replays the simulation and the CASE."""
    from deeptime_spark.operators.profile import snapshot_diff

    docs = _read(spark, sf_dir, "documents")
    new = (
        docs.where(F.col("doc_id") % 17 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            docs.where(F.col("doc_id") % 19 == 0).withColumn(
                "doc_id", F.col("doc_id") + F.lit(1_000_000)
            )
        )
    )
    diff = snapshot_diff(docs, new, "doc_id", ["text", "lang", "source", "n_chars"])
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@query(scale=True)
def _q_doc_leakage_split(spark, sf_dir):
    """Leakage-safe train/val/test split
    (operators/mixing.py:leakage_safe_split): near-dup clusters from the
    verified pair graph, every member assigned by its cluster
    representative's hash so no cluster can span splits. Emits per-split
    doc/cluster counts plus the cross-split leak count — pinned 0 not by
    assumption but by a real countDistinct-per-rep check. Oracle replays
    union-find, rep hashing, and the bucket thresholds
    (oracle_ref.py:oracle_doc_leakage_split)."""
    from deeptime_spark.operators.dedup import (
        minhash_lsh_candidates,
        verify_candidates_jaccard,
    )
    from deeptime_spark.operators.mixing import leakage_safe_split

    docs = _read(spark, sf_dir, "documents")
    cands = minhash_lsh_candidates(
        docs, n_hashes=32, bands=8, with_est=False
    ).persist()
    cands.count()
    pairs = verify_candidates_jaccard(cands, docs, threshold=0.2)
    assigned = leakage_safe_split(
        docs, pairs.select("id_a", "id_b"), train_pct=90, val_pct=5, seed=7
    ).persist()
    leaks = (
        assigned.groupBy("cluster_rep")
        .agg(F.countDistinct("split").alias("_ns"))
        .where(F.col("_ns") > 1)
        .count()
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_rep").alias("n_clusters"),
        F.lit(leaks).cast("long").alias("leaked_clusters"),
    )


@query(bench=True, scale=True)
def _q_event_kmv_quantiles(spark, sf_dir):
    """Deterministic bottom-k reservoir + quantile sketch
    (operators/sketches.py:bottomk_sample/bottomk_quantiles): the 256
    rows with the smallest xxhash64(event_id) per event_type form a
    content-addressed uniform sample (Spark's WindowGroupLimit pushes
    the per-partition partial top-k BEFORE the shuffle — plan-pinned);
    nearest-rank quantiles of the sampled values are exact copies of
    input doubles, so the oracle replays sample membership and quantile
    selection bit-for-bit (oracle_ref.py:oracle_event_kmv_quantiles)."""
    from deeptime_spark.operators.sketches import bottomk_quantiles

    events = _read(spark, sf_dir, "events")
    rows = bottomk_quantiles(
        events, "event_id", "value", ["event_type"], k=256,
        quantiles=(0.25, 0.5, 0.75, 0.9),
    )
    out = [
        (d["event_type"], int(d["n_sample"]), float(d["q25"]), float(d["q50"]),
         float(d["q75"]), float(d["q90"]))
        for d in rows
    ]
    return _local_df(spark, 
        out,
        "event_type string, n_sample long, q25 double, q50 double, "
        "q75 double, q90 double",
    )


@query(bench=True, scale=True)
def _q_doc_incremental_dedup(spark, sf_dir):
    """Incremental dedup against a PERSISTED signature index
    (operators/dedup.py:write_signature_index/probe_signature_index):
    the corpus' old split (doc_id%3 != 0) is signed once and written as
    a band_idx-partitioned parquet index; the new delta (doc_id%3 == 0)
    is signed and band-joined against the stored relation — the
    production daily-delta pattern that never re-signs the corpus. The
    emitted est_jaccard is an exact integer ratio; the oracle replays
    signatures, banding, bucket joins, and agreement
    (oracle_ref.py:oracle_doc_incremental_dedup)."""
    import tempfile

    from deeptime_spark.operators.dedup import (
        probe_signature_index,
        write_signature_index,
    )

    docs = _read(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 3 != 0)
    new = docs.where(F.col("doc_id") % 3 == 0)
    tmp = tempfile.mkdtemp(prefix="sig_idx_")
    idx = tmp + "/index"
    try:
        write_signature_index(old, idx, n_hashes=32, bands=8)
        res = probe_signature_index(spark, new, idx, threshold=0.5, n_hashes=32, bands=8).select(
            "new_id", "old_id", F.round(F.col("est_jaccard"), 6).alias("est_jaccard")
        )
        schema = res.schema
        rows = res.collect()
    finally:
        _rmtree_quiet(tmp)
    return _local_df(spark, rows, schema)


@query
def _q_streaming_incremental_dedup(spark, sf_dir):
    """Streaming face of the incremental-dedup index
    (streaming/accumulate.py:streaming_probe_signature_index): the old
    split's signature index is written once; the new split arrives as 4
    micro-batches and each is signed + probed inside foreachBatch, with
    matches appended to parquet. Probing is per-document independent,
    so the union of per-batch results MUST equal the one-shot batch
    probe — the oracle is the batch replica verbatim
    (oracle_doc_incremental_dedup)."""
    from deeptime_spark.operators.dedup import write_signature_index
    from deeptime_spark.streaming.accumulate import streaming_probe_signature_index

    docs = _read(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 3 != 0)
    new = docs.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    with Replay(spark) as r:
        idx, out = r.dir("sig_index_"), r.dir("sig_out_")
        write_signature_index(old, idx, n_hashes=32, bands=8)
        r.wait(
            streaming_probe_signature_index(
                spark, r.source([new.repartition(4)]), idx, out,
                threshold=0.5, n_hashes=32, bands=8, checkpoint=r.dir("sig_ckpt_"),
            )
        )
        res = spark.read.parquet(out).select(
            "new_id", "old_id", F.round(F.col("est_jaccard"), 6).alias("est_jaccard")
        )
        schema = res.schema
        rows = res.collect()
    return _local_df(spark, rows, schema)


@query(bench=True, scale=True)
def _q_doc_novelty(spark, sf_dir):
    """Contribution/novelty scoring (operators/text.py:novelty_scores):
    per-doc fraction of distinct word trigrams first seen in THIS doc
    (lowest-id owner), integer-scaled to ppm with integer DIV so the
    result is exact. One explode + one min-agg + one join back — the
    first-owner table is O(gram vocab). PURE-SQL DuckDB oracle (list
    comprehension replay of the gram extraction)."""
    from deeptime_spark.operators.text import novelty_scores

    docs = _read(spark, sf_dir, "documents")
    return novelty_scores(docs, n=3)


@query(bench=True, scale=True)
def _q_event_funnel(spark, sf_dir):
    """Ordered funnel (operators/stats.py:funnel_stages): deepest
    view -> click -> purchase stage per user under strict temporal
    progression with a 1-day conversion window, summarized as users per
    stage. One conditional min(ts) aggregate per step over shrinking
    user sets — no windows over the event stream, no per-user sorting.
    PURE-SQL DuckDB oracle (same CTE chain)."""
    from deeptime_spark.operators.stats import funnel_stages

    events = _read(spark, sf_dir, "events")
    st = funnel_stages(
        events, ["view", "click", "purchase"], max_gap_seconds=86400
    )
    return st.groupBy("stage").agg(F.count(F.lit(1)).alias("n_users"))


@query(bench=True, scale=True)
def _q_event_retention(spark, sf_dir):
    """Cohort retention (operators/stats.py:retention_cohorts): users
    cohorted by first active day; per (cohort_day, offset in {0,1,7}),
    the count active exactly that many days later. One user-day dedup
    aggregate, one min-day cohort aggregate, one join, one count —
    O(user-days) after the first dedup, no event self-joins. PURE-SQL
    DuckDB oracle."""
    from deeptime_spark.operators.stats import retention_cohorts

    events = _read(spark, sf_dir, "events")
    return retention_cohorts(events, offsets=[0, 1, 7])


@query
def _q_event_top_spenders(spark, sf_dir):
    """Grouped top-k: the 3 highest-value users per event type by
    integer-cent totals, ranked with a total (cents desc, user asc)
    order. The per-group limit compiles to WindowGroupLimit (partial
    top-k before the shuffle); sums are exact BIGINT cents. PURE-SQL
    DuckDB oracle."""
    events = _read(spark, sf_dir, "events")
    totals = events.groupBy("event_type", "user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("cents").desc(), F.col("user_id")
    )
    return (
        totals.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("event_type", F.col("rank").cast("long").alias("rank"), "user_id", "cents")
    )


@query(bench=True, scale=True)
def _q_doc_prefix_dup(spark, sf_dir):
    """Prefix-duplicate groups (operators/dedup.py:prefix_duplicates):
    documents sharing a normalized 32-char prefix — the template/
    boilerplate/truncation family exact dedup misses. The corpus is
    documents plus deterministic continuation variants (doc_id % 7,
    +2M ids, appended tail) so prefix families exist at every sf; one
    hash shuffle on md5(prefix), no global sort. PURE-SQL oracle."""
    from deeptime_spark.operators.dedup import prefix_duplicates

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" :: appended continuation tail")).alias(
            "text"
        ),
    )
    corpus = docs.unionByName(variants)
    groups = prefix_duplicates(
        corpus, prefix_chars=32, min_copies=2, max_group_ids=8
    )
    return groups.select(
        "prefix_hash",
        F.col("n_copies").cast("long").alias("n_copies"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
        F.array_join(
            F.transform(F.col("doc_ids"), lambda x: x.cast("string")), ","
        ).alias("member_ids"),
    )


@query(bench=True, scale=True)
def _q_doc_containment_pairs(spark, sf_dir):
    """Asymmetric containment dedup (operators/dedup.py:
    verify_candidates_containment over winnowing_candidates): excerpts
    (first 200 chars of every doc_id % 11 doc, +3M ids) are planted into
    the corpus and recovered as contained-but-not-similar pairs —
    substring fingerprints generate the candidates (resemblance-biased
    MinHash bands would miss them), exact trigram containment verifies.
    Oracle replays fingerprints, capped buckets, and the containment
    arithmetic value-for-value (oracle_ref.py:oracle_doc_containment)."""
    from deeptime_spark.operators.dedup import (
        verify_candidates_containment,
        winnowing_candidates,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = docs.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + F.lit(3_000_000)).alias("doc_id"),
        F.substring(F.col("text"), 1, 200).alias("text"),
    )
    corpus = docs.unionByName(excerpts)
    # materialize the candidate set ONCE (same rationale as
    # dedup_verified_pairs): the verifier consumes it in two joins plus
    # the gram-restriction semi-join — unpersisted, the fingerprint
    # kernel re-executes per consumer. Fingerprint granularity k=16/w=64
    # (79-char shared-substring guarantee) keeps candidates at the
    # containment scale: the default k=8/w=16 fires on every shared
    # 23-char phrase of this templated corpus (3.2M candidate pairs,
    # 68 s); the coarse setting recovers every planted excerpt with
    # ~1.7k candidates
    cands = winnowing_candidates(corpus, k=16, w=64, min_shared=2).persist()
    cands.count()
    verified = verify_candidates_containment(cands, corpus, threshold=0.6)
    return verified.select(
        "id_a",
        "id_b",
        F.col("n_shared").cast("long").alias("n_shared"),
        F.round("containment_a", 6).alias("containment_a"),
        F.round("containment_b", 6).alias("containment_b"),
    )


@query(bench=True, scale=True)
def _q_event_anomaly_mad(spark, sf_dir):
    """Robust per-type outlier profile (operators/stats.py:
    mad_anomalies): median/MAD rule with the 1.4826 consistency
    constant over integer event cents — two exact-percentile hash aggs
    + broadcast joins back, engine-reproducible because the median
    interpolation weights are binary-exact on integers. PURE-SQL DuckDB
    oracle (quantile_cont matches Spark's exact percentile)."""
    from deeptime_spark.operators.stats import mad_anomalies

    ev = _read(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("vc")
    )
    out = mad_anomalies(ev, "vc", ("event_type",), z_threshold=3.5)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_anomaly").cast("long")).alias("n_anomalies"),
        F.round(F.min("med"), 6).alias("med"),
        F.round(F.min("mad"), 6).alias("mad"),
        F.round(F.max("rob_z"), 6).alias("max_rob_z"),
    )


@query(bench=True, scale=True)
def _q_doc_compression_ratio(spark, sf_dir):
    """Per-source compression-ratio quality profile (operators/text.py:
    compression_ratio_df): zlib-deflate ratio in ppm per document —
    the cheap boilerplate/repetition signal — aggregated to integer
    source-level stats (counts, byte totals, min/max/floored-mean
    ratio). Integer-exact end to end; the oracle replica runs the
    identical CPython zlib (oracle_ref.py:oracle_doc_compression)."""
    from deeptime_spark.operators.text import compression_ratio_df

    docs = _read(spark, sf_dir, "documents")
    # the UDF carries only (id, text); the source label joins back on id
    ratios = compression_ratio_df(
        docs.select("doc_id", "text"), text_col="text", id_col="doc_id"
    )
    src = docs.select("doc_id", "source")
    joined = ratios.join(F.broadcast(src), ratios.id == src.doc_id)
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("n_compressed").alias("total_compressed"),
        F.min("ratio_ppm").alias("min_ratio_ppm"),
        F.max("ratio_ppm").alias("max_ratio_ppm"),
        F.expr("sum(ratio_ppm) DIV count(1)").alias("mean_ratio_ppm"),
    )


@query
def _q_streaming_cusum(spark, sf_dir):
    """Online CUSUM as a custom stateful streaming operator
    (streaming/accumulate.py:streaming_cusum, applyInPandasWithState):
    the event stream is replayed as FOUR TIME-ORDERED file chunks
    (explicit mtimes + latestFirst=false + maxFilesPerTrigger=1, so
    per-key rows cross micro-batches in order), per-type state carries
    (sp, sn, maxima, counts) across batches, and the fixed centers are
    the batch query's floored per-type means. End-of-stream state ==
    the one-shot batch CUSUM, so this shares event_cusum's PURE-SQL
    oracle (update-mode emissions are monotone, so MAX-folding the
    memory sink recovers the final state)."""
    from deeptime_spark.streaming.accumulate import streaming_cusum

    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    centers = {
        r["event_type"]: int(r["c"])
        for r in ev.groupBy("event_type")
        .agg(F.floor(F.sum("cents") / F.count(F.lit(1))).alias("c"))
        .collect()
    }
    with Replay(spark) as r:
        out = streaming_cusum(
            r.source(_ordered_chunks(ev, "ts", "event_id")),
            centers, drift=100, threshold=10_000,
        )
        rows = (
            r.to_memory(out, "update")
            .groupBy("event_type")
            .agg(
                F.max("n").alias("n"),
                F.max("max_cusum_pos").alias("max_cusum_pos"),
                F.max("max_cusum_neg").alias("max_cusum_neg"),
                F.max("n_alarms").alias("n_alarms"),
            )
            .collect()
        )
    return _local_df(spark, 
        [
            (
                r["event_type"],
                int(r["n"]),
                int(r["max_cusum_pos"]),
                int(r["max_cusum_neg"]),
                int(r["n_alarms"]),
            )
            for r in rows
        ],
        "event_type string, n long, max_cusum_pos long, max_cusum_neg long, n_alarms long",
    )


@query(bench=True, scale=True)
def _q_media_ahash_pairs(spark, sf_dir):
    """Perceptual image dedup over REAL binary payloads: every third
    document fabricates a deterministic 16x16 P6 PPM (seed = doc_id),
    every fifteenth also plants a variant (+7M id) whose SAMPLED (0,0)
    pixel is shifted — a genuine small perceptual edit, hamming 1-3.
    ahash_images (multimodal.py) computes the integer-exact average
    hash through Arrow mapInPandas; pairs come from the generic
    pigeonhole Hamming band join (dedup.py:hamming_near_pairs, radius
    4 -> 5 bands of 12-13 bits, so band buckets stay sparse as the
    corpus grows — radius 8 would leave 7-bit bands that saturate
    quadratically). Oracle replays decode+hash+brute pairs in numpy
    (oracle_ref.py:oracle_media_ahash_pairs)."""
    from pyspark.sql.types import BinaryType

    from deeptime_spark.operators.dedup import hamming_near_pairs
    from deeptime_spark.operators.multimodal import (
        ahash_images,
        synth_ppm,
        synth_ppm_variant,
    )

    @F.pandas_udf(BinaryType())
    def ppm_of(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_ppm(16, 16, seed=int(i)))

    @F.pandas_udf(BinaryType())
    def ppm_variant(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_ppm_variant(16, 16, seed=int(i)))

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    base = docs.where(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("media_id"), ppm_of("doc_id").alias("payload")
    )
    variants = docs.where(F.col("doc_id") % 15 == 0).select(
        (F.col("doc_id") + F.lit(7_000_000)).alias("media_id"),
        ppm_variant("doc_id").alias("payload"),
    )
    media = base.unionByName(variants)
    sigs = ahash_images(media).where("ok").select("media_id", "ahash")
    pairs = hamming_near_pairs(
        sigs, id_col="media_id", sig_col="ahash", max_hamming=4
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


@query(bench=True, scale=True)
def _q_event_zorder(spark, sf_dir):
    """Z-order (Morton) clustering key for multi-column scan pruning
    (operators/layout.py:zorder_repartition — the public Delta Lake
    OPTIMIZE ZORDER semantics re-expressed as shift/or codegen):
    power-of-two bucketization of (user_id, cents) by driver-collected
    min/max, bit interleave, range repartition + in-partition sort.
    The query verifies the key arithmetic end-to-end: per coarse
    z-prefix (top 8 of 32 key bits), row count and both dimensions'
    min/max — the footer stats a pruned scan would consult. All
    integer shifts — PURE-SQL oracle."""
    from deeptime_spark.operators.layout import zorder_repartition

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    keyed = zorder_repartition(ev, ["user_id", "cents"], bits=16)
    return keyed.groupBy(
        F.shiftright("_zkey", 24).alias("zbucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


@query(bench=True, scale=True)
def _q_event_cusum(spark, sf_dir):
    """Two-sided CUSUM change detection per event type (operators/
    stats.py:cusum_changepoints, Page 1954): the max(0,·) reset
    recursion rewritten as prefix-sum minus running extremum — two
    window functions over one (type, ts, event_id) sort, exact integer
    cents end-to-end, summarized per type. PURE-SQL oracle replays the
    identical window algebra."""
    from deeptime_spark.operators.stats import cusum_changepoints

    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = cusum_changepoints(
        ev,
        "cents",
        order_cols=("ts", "event_id"),
        group_cols=("event_type",),
        drift=100,
        threshold=10_000,
    )
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("cusum_pos").alias("max_cusum_pos"),
        F.max("cusum_neg").alias("max_cusum_neg"),
        F.sum(F.col("is_alarm").cast("long")).alias("n_alarms"),
    )


@query(bench=True, scale=True)
def _q_event_pagerank(spark, sf_dir):
    """Distributed PageRank (operators/graph.py:pagerank) on a 211-node
    link multigraph synthesized deterministically from event_id — skewed
    in-degrees, self-loops dropped, duplicate edges as multiplicity. 10
    fixed power iterations, damping 0.85: below the broadcast threshold
    the normalized edge relation is scanned from cache and the O(|V|)
    rank/contribution frames ride broadcast joins, so one iteration is
    ONE job with no driver round-trip; ranks are localCheckpointed per
    round (lineage truncation). Oracle is a dense numpy replica of the
    same arithmetic
    (oracle_ref.py:oracle_event_pagerank)."""
    from deeptime_spark.operators.graph import pagerank

    ev = _read(spark, sf_dir, "events").select("event_id")
    edges = ev.select(
        (F.col("event_id") % 211).alias("src"),
        ((F.col("event_id") * 31 + F.expr("event_id div 211")) % 211).alias(
            "dst"
        ),
    ).where(F.col("src") != F.col("dst"))
    pr = pagerank(edges, n_iter=10, damping=0.85)
    return pr.select(
        F.col("node").cast("long").alias("node"),
        F.round("rank", 6).alias("rank"),
    )


@query(bench=True, scale=True)
def _q_doc_pmi_collocations(spark, sf_dir):
    """Top-50 word-bigram collocations by PMI over the documents corpus
    (operators/text.py:pmi_collocations — Church & Hanks 1990):
    unigrams and bigrams share one scan+shuffle, min_count bounds the
    bigram relation before the unigram joins, TakeOrdered cut. The
    compared column is the PMI *ratio* (a fixed tree of IEEE ops over
    exact BIGINT counts — bit-exact across engines, unlike ln). PURE-SQL
    oracle."""
    from deeptime_spark.operators.text import pmi_collocations

    docs = _read(spark, sf_dir, "documents").select("text")
    out = pmi_collocations(docs, min_count=5, top_k=50)
    return out.select(
        "w1",
        "w2",
        F.col("c12").cast("long").alias("c12"),
        F.col("c1").cast("long").alias("c1"),
        F.col("c2").cast("long").alias("c2"),
        F.round("pmi_ratio", 6).alias("pmi_ratio"),
    )


@query(bench=True, scale=True)
def _q_event_hits(spark, sf_dir):
    """HITS hubs/authorities (operators/graph.py:hits) on the same
    deterministic 211-node event multigraph as event_pagerank — 5
    L1-normalized half-step pairs. Per iteration the O(|V|) score frame
    broadcasts into the cached edge relation and each half-step is one
    job. Oracle is a dense numpy replica
    (oracle_ref.py:oracle_event_hits)."""
    from deeptime_spark.operators.graph import hits

    ev = _read(spark, sf_dir, "events").select("event_id")
    edges = ev.select(
        (F.col("event_id") % 211).alias("src"),
        ((F.col("event_id") * 31 + F.expr("event_id div 211")) % 211).alias(
            "dst"
        ),
    ).where(F.col("src") != F.col("dst"))
    hs = hits(edges, n_iter=5)
    return hs.select(
        F.col("node").cast("long").alias("node"),
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


@query(bench=True, scale=True, dispatch=True)
def _q_event_triangles(spark, sf_dir):
    """Per-node triangle counts (operators/graph.py:triangle_counts,
    Schank-Wagner ordered wedge join) on a 997-nodes-per-block event
    multigraph: canonical undirected distinct edges, each triangle
    a<b<c found once by closing (a,b),(b,c) against (a,c) — pure
    equi-joins + integer counts. Each 10M-id block maps to its own node
    range, so replicated data grows the GRAPH rather than densifying a
    fixed one (the realistic weak-scaling regime — a fixed node space
    would turn 8x edges into ~64x wedges). PURE-SQL oracle mirrors the
    join algebra."""
    from deeptime_spark.operators.graph import triangle_counts

    ev = _read(spark, sf_dir, "events").select("event_id")
    block = F.expr("event_id div 10000000") * 997
    edges = ev.select(
        (F.col("event_id") % 997 + block).alias("src"),
        (
            (F.col("event_id") * 31 + F.expr("event_id div 997")) % 997 + block
        ).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    return triangle_counts(edges).select(
        F.col("node").cast("long").alias("node"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
    )


@query(bench=True, scale=True, dispatch=True)
def _q_event_kcore(spark, sf_dir):
    """k-core extraction (operators/graph.py:k_core, Seidman 1983
    peeling to the unique fixed point) on the 211-node event multigraph
    at k=8: two semi-joins + one degree aggregation per round, survivor
    frame localCheckpointed, one convergence scalar per round. Oracle
    is the exact python peeling replica
    (oracle_ref.py:oracle_event_kcore)."""
    from deeptime_spark.operators.graph import k_core

    ev = _read(spark, sf_dir, "events").select("event_id")
    edges = ev.select(
        (F.col("event_id") % 211).alias("src"),
        ((F.col("event_id") * 31 + F.expr("event_id div 211")) % 211).alias(
            "dst"
        ),
    ).where(F.col("src") != F.col("dst"))
    return k_core(edges, k=8).select(
        F.col("node").cast("long").alias("node"),
        F.col("degree").cast("long").alias("degree"),
    )


@query(bench=True, scale=True, dispatch=True)
def _q_event_communities(spark, sf_dir):
    """Community detection by deterministic synchronous label
    propagation (operators/graph.py:label_propagation — Raghavan 2007
    with min-label tie-break) on the same per-block 997-node event
    graph as event_triangles, 5 fixed iterations. All-integer label
    votes, so the numpy replica oracle is exact
    (oracle_ref.py:oracle_event_communities)."""
    from deeptime_spark.operators.graph import label_propagation

    ev = _read(spark, sf_dir, "events").select("event_id")
    block = F.expr("event_id div 10000000") * 997
    edges = ev.select(
        (F.col("event_id") % 997 + block).alias("src"),
        (
            (F.col("event_id") * 31 + F.expr("event_id div 997")) % 997 + block
        ).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    return label_propagation(edges, n_iter=5).select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("label"),
    )


# scale: replica offsets multiply the planted near-match families linearly
@query(bench=True, scale=True)
def _q_doc_edit_pairs(spark, sf_dir):
    """Edit-distance similarity self-join (operators/editsim.py:
    edit_distance_pairs, PassJoin segment blocking + threshold-banded
    Levenshtein verify) over 20-char document titles plus planted
    single-edit variants (a deletion family at doc_id % 13, +4M ids; a
    substitution family at doc_id % 17, +5M ids). Identical strings
    collapse to their min id before pairing, so every output pair is a
    genuine 1-2 edit near-match. PURE-SQL oracle: DuckDB levenshtein
    over the distinct-title self-join with the length-difference
    filter."""
    from deeptime_spark.operators.editsim import edit_distance_pairs

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    title = F.substring(F.lower(F.trim(F.col("text"))), 1, 20)
    base = docs.select("doc_id", title.alias("title"))
    dele = base.where(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + F.lit(4_000_000)).alias("doc_id"),
        F.concat(
            F.substring("title", 1, 7), F.substring("title", 9, 20)
        ).alias("title"),
    )
    sub = base.where(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + F.lit(5_000_000)).alias("doc_id"),
        F.concat(
            F.substring("title", 1, 4), F.lit("z"), F.substring("title", 6, 20)
        ).alias("title"),
    )
    corpus = base.unionByName(dele).unionByName(sub)
    pairs = edit_distance_pairs(
        corpus, max_distance=2, text_col="title", id_col="doc_id"
    )
    return pairs.select(
        "id_a", "id_b", F.col("distance").cast("long").alias("distance")
    )


@query
def _q_sindy_events(spark, sf_dir):
    """SINDy on the event value series (SURVEY §2.10): per-trajectory
    window FD derivative -> polynomial library -> ONE gramian aggregate
    -> driver least squares (STLSQ with threshold 0 = the pure
    regression, boundary-flip-free for the oracle compare). Returns the
    discovered equation coefficients for features [1, x, x^2]."""
    from deeptime_spark.sindy import SINDy, STLSQ

    traj = _event_traj(spark, sf_dir)
    feat = traj.select("traj_id", "t", F.array(F.col("value") / 100.0).alias("x"))
    model = (
        SINDy(optimizer=STLSQ(threshold=0.0, alpha=0.0))
        .fit(feat, dt=1.0)
        .fetch_model()
    )
    rows = [
        (int(i), str(name), round(float(model.coefficients[0, i]), 6))
        for i, name in enumerate(model.feature_names)
    ]
    return _local_df(spark, rows, "idx long, feature string, coef double")


@query(scale=True, dispatch=True)
def _q_tram_events(spark, sf_dir):
    """TRAM over two synthetic thermodynamic ensembles built from the
    event dtraj (ensemble = traj parity, bias = scaled value): Spark
    counting per ensemble, driver self-consistent iteration. Returns the
    biased conformation energies f_i^k."""
    from deeptime_spark.markov.tram import TRAM

    traj = _event_traj(spark, sf_dir)
    df = traj.select(
        "traj_id",
        "t",
        "state",
        (F.col("traj_id") % 2).cast("int").alias("therm_state"),
        F.array(F.lit(0.0), F.col("value") / 5000.0).alias("bias"),
    )
    model = TRAM(lagtime=1, maxiter=200).fit(df).fetch_model()
    fki = model.biased_conf_energies
    rows = [
        (int(k), int(i), float(fki[k, i]))
        for k in range(fki.shape[0])
        for i in range(fki.shape[1])
    ]
    return _local_df(spark, rows, "therm_state long, state long, f double")


@query
def _q_bayes_msm_events(spark, sf_dir):
    """BayesianMSM posterior over the event dtraj: per-entry posterior
    mean + 95% CI of the transition matrix (exact reversible Gibbs)."""
    from deeptime_spark.markov.msm import BayesianMSM
    from deeptime_spark.markov.transition_counting import TransitionCountEstimator

    traj = _event_traj(spark, sf_dir).select("traj_id", "t", "state")
    counts = TransitionCountEstimator(lagtime=1, count_mode="sliding").fit(traj).fetch_model()
    post = BayesianMSM(n_samples=20, seed=42).fit(counts).fetch_model()
    stats = post.gather_stats("transition_matrix")
    mean, lo, hi = stats["mean"], stats["L"], stats["R"]
    n = mean.shape[0]
    rows = [
        (int(i), int(j), float(mean[i, j]), float(lo[i, j]), float(hi[i, j]))
        for i in range(n)
        for j in range(n)
    ]
    return _local_df(spark, 
        rows, "s_from long, s_to long, p_mean double, p_lo double, p_hi double"
    )


@query
def _q_tpt_events(spark, sf_dir):
    """Transition-path theory 0 -> 4 on the event MSM: committors and
    net flux per edge."""
    msm = _event_msm(spark, sf_dir)
    flux = msm.reactive_flux([0], [4])
    n = len(flux.forward_committor)
    rows = [
        (
            int(i),
            int(j),
            float(flux.forward_committor[i]),
            float(flux.backward_committor[i]),
            float(flux.net_flux[i, j]),
        )
        for i in range(n)
        for j in range(n)
    ]
    return _local_df(spark, 
        rows, "s_from long, s_to long, qplus double, qminus double, net_flux double"
    )


@query
def _q_vamp_events(spark, sf_dir):
    """VAMP singular values of the event-value feature trajectory."""
    from deeptime_spark.decomposition.vamp import VAMP

    traj = _event_traj(spark, sf_dir)
    v = F.col("value") / 100.0
    feat = traj.select("traj_id", "t", F.array(v, v * v, v * v * v).alias("x"))
    model = VAMP(lagtime=2).fit(feat).fetch_model()
    sv = model.singular_values
    return _local_df(spark, 
        [(int(i), round(float(sv[i]), 6)) for i in range(len(sv))], "idx long, sv double"
    )


@query(scale=True)
def _q_vamp_score_events(spark, sf_dir):
    """VAMP-1/2/E scores of the fitted event-feature model — driver
    evidence for the scoring surface (reference decomposition/_score.py
    semantics: VAMP-r = 1 + sum(sigma^r); VAMP-E from the model's own
    covariances). The distributed stage is the covariance aggregation;
    each score is a deterministic function of it."""
    from deeptime_spark.decomposition.vamp import VAMP

    traj = _event_traj(spark, sf_dir)
    v = F.col("value") / 100.0
    feat = traj.select("traj_id", "t", F.array(v, v * v, v * v * v).alias("x"))
    model = VAMP(lagtime=2).fit(feat).fetch_model()
    rows = [
        ("vamp1", round(float(model.score(1)), 6)),
        ("vamp2", round(float(model.score(2)), 6)),
        ("vampe", round(float(model.score("E")), 6)),
    ]
    return _local_df(spark, rows, "score_kind string, score double")


@query(bench=True, scale=True)
def _q_vamp_score_data_events(spark, sf_dir):
    """vamp_score_data convenience surface (decomposition/vamp.py:142,
    reference decomposition/_score.py:119-155 and
    tests/decomposition/test_vamp.py score-from-data cases): fit + score
    in ONE call, dim-truncated to 2 singular functions — distinct from
    vamp_score_events' full-rank model. Each call is one distributed
    covariance pass; the score is a deterministic driver-side function
    of it. Oracle re-derives the covariances from the DuckDB trajectory
    and runs the identical truncated fit + score."""
    from deeptime_spark.decomposition.vamp import vamp_score_data

    traj = _event_traj(spark, sf_dir)
    v = F.col("value") / 100.0
    feat = traj.select("traj_id", "t", F.array(v, v * v, v * v * v).alias("x"))
    rows = [
        ("vamp1_dim2", round(float(vamp_score_data(feat, 2, dim=2, r=1.0)), 6)),
        ("vamp2_dim2", round(float(vamp_score_data(feat, 2, dim=2, r=2.0)), 6)),
        ("vampe_dim2", round(float(vamp_score_data(feat, 2, dim=2, r="E")), 6)),
    ]
    return _local_df(spark, rows, "score_kind string, score double")


@query(bench=True, scale=True)
def _q_koopman_propagate_events(spark, sf_dir):
    """TransferOperatorModel observable-propagation surface
    (decomposition/koopman.py:67-104, reference _koopman.py:14-129):
    per-row projections in BOTH directions — f = U^T (x - mean_0)
    (instantaneous singular functions, transform default) and
    g = V^T (x - mean_t) (timelagged, transform(propagate=True)) —
    plus the forward-propagated expectation K^T f (K diagonal for the
    covariance-derived model, so fwd_k = sigma_k * f_k; forward()'s
    numpy parity with this column is pinned in tests/test_r12_ops.py).
    Projections are whole-stage-codegen column expressions; the oracle
    re-applies the literal coefficient matrices to SQL-re-derived
    features. Coefficients are parity-quantized to 9 decimals on both
    sides: the distributed covariance sums differ from the oracle's
    numpy replay in the last ulps (~1e-14), which the SVD carries into
    U/V; snapping both estimates to 1e-9 (far above that noise, far
    below the 1e-6 output rounding) makes the per-row expressions
    bit-identical across engines instead of boundary-lucky."""
    import numpy as np

    from deeptime_spark.decomposition.koopman import TransferOperatorModel
    from deeptime_spark.decomposition.vamp import VAMP

    traj = _event_traj(spark, sf_dir)
    v = F.col("value") / 100.0
    feat = traj.select("traj_id", "t", F.array(v, v * v, v * v * v).alias("x"))
    model = VAMP(lagtime=2, dim=2).fit(feat).fetch_model()
    sv = np.round(model.singular_values, 9)
    qm = TransferOperatorModel(
        np.diag(sv),
        np.round(model.U, 9),
        np.round(model.V, 9),
        mean_0=model.mean_0,
        mean_t=model.mean_t,
    )
    f = qm.transform(feat, out_col="f")
    both = qm.transform(f, propagate=True, out_col="g")
    return both.select(
        "traj_id",
        "t",
        F.round(F.col("f")[0], 6).alias("f1"),
        F.round(F.col("f")[1], 6).alias("f2"),
        F.round(F.col("g")[0], 6).alias("g1"),
        F.round(F.col("g")[1], 6).alias("g2"),
        F.round(F.lit(float(sv[0])) * F.col("f")[0], 6).alias("fwd1"),
        F.round(F.lit(float(sv[1])) * F.col("f")[1], 6).alias("fwd2"),
    )


@query
def _q_dmd_events(spark, sf_dir):
    """DMD eigenvalues of the event-value feature trajectory."""
    import numpy as np

    from deeptime_spark.decomposition.dmd import DMD

    traj = _event_traj(spark, sf_dir)
    v = F.col("value") / 100.0
    feat = traj.select("traj_id", "t", F.array(v, v * v).alias("x"))
    model = DMD(lagtime=1).fit(feat).fetch_model()
    ev = np.sort_complex(model.eigenvalues)
    return _local_df(spark, 
        [(int(i), round(float(ev[i].real), 6), round(float(ev[i].imag), 6)) for i in range(len(ev))],
        "idx long, ev_re double, ev_im double",
    )


@query
def _q_kedmd_events(spark, sf_dir):
    """Kernel EDMD eigenvalues (Gaussian kernel, sampled landmark Gram)
    on the event-value feature trajectory."""
    import numpy as np

    from deeptime_spark.decomposition.kernel_methods import KernelEDMD
    from deeptime_spark.kernels import GaussianKernel

    traj = _event_traj(spark, sf_dir)
    v = F.col("value") / 100.0
    feat = traj.select("traj_id", "t", F.array(v, v * v).alias("x"))
    model = KernelEDMD(GaussianKernel(1.0), epsilon=1e-6, n_eigs=3, max_samples=500).fit(
        feat, lagtime=2
    ).fetch_model()
    ev = np.sort_complex(model.eigenvalues)
    return _local_df(spark, 
        [(int(i), round(float(ev[i].real), 6), round(float(ev[i].imag), 6)) for i in range(len(ev))],
        "idx long, ev_re double, ev_im double",
    )


@query(bench=True, scale=True)
def _q_edmd_events(spark, sf_dir):
    """Extended DMD with a monomial dictionary (decomposition/dmd.py:86,
    reference _dmd.py:251-334 + tests/decomposition/test_dmd.py EDMD
    cases): Phi = monomials of v up to degree 3 (basis.Monomials — pure
    column expressions), K = pinv(Phi'Phi) Phi'Phi_lagged from ONE
    distributed covariance pass, eigendecomposition driver-side. Oracle
    re-derives the dictionary covariances from the DuckDB trajectory
    and runs the identical pinv+eig (oracle_ref.py:oracle_edmd)."""
    import numpy as np

    from deeptime_spark.basis import Monomials
    from deeptime_spark.decomposition.dmd import EDMD

    traj = _event_traj(spark, sf_dir)
    v = F.col("value") / 100.0
    feat = traj.select("traj_id", "t", F.array(v).alias("x"))
    model = (
        EDMD(basis=Monomials(p=3, d=1, include_bias=False), lagtime=1)
        .fit(feat)
        .fetch_model()
    )
    ev = np.sort_complex(model.eigenvalues)
    return _local_df(spark, 
        [
            (int(i), round(float(ev[i].real), 6), round(float(ev[i].imag), 6))
            for i in range(len(ev))
        ],
        "idx long, ev_re double, ev_im double",
    )


@query(bench=True, scale=True)
def _q_kcca_events(spark, sf_dir):
    """Kernel CCA (decomposition/kernel_methods.py:133, reference
    _cca.py:51-127 + tests/decomposition/test_cca.py): Gaussian-kernel
    canonical correlations between the event feature trajectory and its
    lag-2 future, on the content-addressed landmark sample (smallest
    md5(traj_id_t) — partition-layout-independent, any engine replays
    the selection). Gram centering + the regularized product eigenproblem
    are driver-side on the bounded sample. Oracle rebuilds the sample
    from the DuckDB trajectory and replays the identical solve
    (oracle_ref.py:oracle_kcca)."""
    import numpy as np

    from deeptime_spark.decomposition.kernel_methods import KernelCCA
    from deeptime_spark.kernels import GaussianKernel

    traj = _event_traj(spark, sf_dir)
    v = F.col("value") / 100.0
    feat = traj.select("traj_id", "t", F.array(v, v * v).alias("x"))
    model = (
        KernelCCA(GaussianKernel(1.0), n_eigs=3, max_samples=400)
        .fit(feat, lagtime=2)
        .fetch_model()
    )
    ev = np.sort_complex(np.asarray(model.eigenvalues))
    return _local_df(spark, 
        [
            (int(i), round(float(ev[i].real), 6), round(float(ev[i].imag), 6))
            for i in range(len(ev))
        ],
        "idx long, ev_re double, ev_im double",
    )


@query(bench=True, scale=True)
def _q_kvad_events(spark, sf_dir):
    """KVAD — kernel embedding variational approach for dynamics
    (decomposition/kernel_methods.py:176, reference _kvad.py:60-170,
    Tian & Wu 2020; tests/decomposition/test_kvad.py): whitened
    instantaneous features against the Gaussian-kernel embedding of the
    lag-2 future on the same content-addressed sample as KCCA; singular
    values of the embedded objective + the KVAD score. Oracle replays
    sample selection, whitening, and the truncated SVD
    (oracle_ref.py:oracle_kvad)."""
    from deeptime_spark.decomposition.kernel_methods import KVAD
    from deeptime_spark.kernels import GaussianKernel

    traj = _event_traj(spark, sf_dir)
    v = F.col("value") / 100.0
    feat = traj.select("traj_id", "t", F.array(v, v * v).alias("x"))
    model = (
        KVAD(GaussianKernel(1.0), lagtime=2, dim=2, max_samples=400)
        .fit(feat)
        .fetch_model()
    )
    rows = [
        (f"sv{i}", round(float(sv), 6))
        for i, sv in enumerate(model.singular_values)
    ] + [("score", round(float(model.score), 6))]
    return _local_df(spark, rows, "kind string, val double")


@query(bench=True, scale=True)
def _q_minibatch_kmeans_events(spark, sf_dir):
    """MiniBatchKMeans (clustering/kmeans.py:85, reference
    _kmeans.py:474-559 + tests/clustering/test_kmeans.py minibatch
    cases): running per-center weighted-mean updates, the batch
    assignment/accumulation pass distributed via mapInPandas (Arrow).
    Oracle face: caller-provided initial centers (first 4 embeddings)
    instead of the MLlib k-means|| init (whose seed stream no other
    engine can replay), full batches, and ONE sorted partition so the
    float accumulation order is the vec_id order the numpy replica
    iterates (oracle_ref.py:oracle_minibatch_kmeans). The multi-
    partition sampled path stays pytest-covered."""
    import numpy as np

    from deeptime_spark.clustering.kmeans import MiniBatchKMeans

    emb = (
        _read(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("x"))
        .coalesce(1)
        .sortWithinPartitions("vec_id")
    )
    init = np.asarray(
        [r["x"] for r in emb.where(F.col("vec_id") < 4).orderBy("vec_id").collect()]
    )
    est = MiniBatchKMeans(
        n_clusters=4, batch_fraction=1.0, max_iter=3, initial_centers=init
    )
    est.fit(emb.select("x"))
    model = est.fetch_model()
    rows = [
        ("center", int(i), int(j), round(float(model.cluster_centers[i, j]), 6))
        for i in range(4)
        for j in range(model.cluster_centers.shape[1])
    ] + [
        ("inertia", int(e), -1, round(float(c), 6))
        for e, c in enumerate(est._inertias)
    ]
    return _local_df(spark, rows, "kind string, i long, j long, val double")


@query(bench=True, scale=True)
def _q_tv_derivative_events(spark, sf_dir):
    """Total-variation-regularized derivative (sindy/tv_derivative.py:
    37,83 — Chartrand 2011, the reference's tests/util/test_diff.py
    surface): per-trajectory TV denoised derivative of the scaled event
    value, one grouped-map Arrow UDF (sequential Newton iterations per
    series, parallel across trajectories — series are bounded, the
    corpus is not). Fixed 10 iterations (tol=None) so the iteration
    count is data-independent; oracle replays the identical solver on
    the DuckDB-ordered series (oracle_ref.py:oracle_tv_derivative)."""
    from deeptime_spark.sindy.tv_derivative import tv_derivative_df

    traj = _event_traj(spark, sf_dir).select(
        "traj_id", "t", (F.col("value") / 100.0).alias("v")
    )
    out = tv_derivative_df(traj, alpha=10.0, maxit=10, tol=None, value_col="v")
    return out.select("traj_id", "t", F.round("dvalue_tv", 6).alias("dvalue_tv"))


@query(bench=True, scale=True)
def _q_vamp_cv_events(spark, sf_dir):
    """Cross-validated VAMP-2 score (decomposition/vamp.py:vamp_score_cv,
    reference _score.py:226-319, McGibbon & Pande 2015): trajectory
    blocks of 10 frames split 50/50 per fold by
    pmod(xxhash64(block_id, seed+fold), 2) — content-addressed, so the
    split is independent of partitioning AND replayable through the
    spark_hashes XXH64 replica; folds run as concurrent Spark jobs. Per
    fold one train covariance fit + one held-out covariance scoring.
    Oracle rebuilds blocks and fold masks from the DuckDB trajectory and
    replays the identical fit+score (oracle_ref.py:oracle_vamp_cv)."""
    from deeptime_spark.decomposition.vamp import vamp_score_cv

    traj = _event_traj(spark, sf_dir)
    v = F.col("value") / 100.0
    feat = traj.select("traj_id", "t", F.array(v, v * v).alias("x"))
    scores = vamp_score_cv(
        feat, lagtime=1, n=4, blocksize=10, r="VAMP2", random_state=42
    )
    return _local_df(spark, 
        [(int(i), round(float(s), 6)) for i, s in enumerate(scores)],
        "fold long, score double",
    )


@query
def _q_effective_counts_events(spark, sf_dir):
    """Statistically-uncorrelated effective count matrix (autocorrelation
    inefficiency scaling) on the event dtraj."""
    from deeptime_spark.markov.effective_counts import effective_count_matrix

    traj = _event_traj(spark, sf_dir).select("traj_id", "t", "state")
    C = effective_count_matrix(traj, lag=1)
    rows = [
        (int(i), int(j), float(C[i, j])) for i in range(C.shape[0]) for j in range(C.shape[1])
    ]
    return _local_df(spark, rows, "s_from long, s_to long, n_eff double")


@query
def _q_koopman_weights_events(spark, sf_dir):
    """Koopman equilibrium reweighting: per-frame weights over the event
    feature trajectory (covariance pass + one select)."""
    from deeptime_spark.covariance import KoopmanWeightingEstimator

    traj = _event_traj(spark, sf_dir)
    v = F.col("value") / 100.0
    feat = traj.select("traj_id", "t", F.array(v, v * v).alias("x"))
    model = KoopmanWeightingEstimator(lagtime=2).fit(feat).fetch_model()
    out = model.transform(feat)
    return out.select("traj_id", "t", F.round("weight", 6).alias("weight"))


@query
def _q_regspace_events(spark, sf_dir):
    """Regular-space clustering of the scaled event value: assignment
    histogram per center."""
    from deeptime_spark.clustering.regspace import RegularSpace

    traj = _event_traj(spark, sf_dir)
    feat = traj.select("traj_id", "t", F.array(F.col("value") / 100.0).alias("x"))
    # exact=True streams frames in (traj_id, t) order — the reference's own
    # sequential leader-scan semantics, deterministic and oracle-replayable;
    # the distributed two-level mode stays pytest-covered (packing invariant)
    model = RegularSpace(dmin=1.0, max_centers=100, exact=True).fit(feat).fetch_model()
    return (
        model.transform(feat)
        .groupBy("state")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("state").cast("long").alias("state"), "n")
    )


@query(bench=True)
def _q_kernel_gram_events(spark, sf_dir):
    """Gaussian-kernel landmark Gram block over embeddings (landmarks =
    3 lowest vec_ids, broadcast as literals; map-only)."""
    import numpy as np

    from deeptime_spark.kernels import GaussianKernel

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    lm = np.asarray(
        [r["x"] for r in emb.where(F.col("vec_id") < 3).orderBy("vec_id").collect()]
    )
    out = GaussianKernel(sigma=4.0).gram_df(emb, lm)
    return out.select(
        "vec_id",
        F.round(F.col("k")[0], 6).alias("k0"),
        F.round(F.col("k")[1], 6).alias("k1"),
        F.round(F.col("k")[2], 6).alias("k2"),
    )


@query(bench=True, scale=True)
def _q_minhash_bands(spark, sf_dir):
    from deeptime_spark.operators.dedup import minhash_lsh_candidates

    docs = _read(spark, sf_dir, "documents")
    return minhash_lsh_candidates(docs, n_hashes=32, bands=8).select(
        "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


@query(bench=True, scale=True)
def _q_simhash_pairs(spark, sf_dir):
    from deeptime_spark.operators.dedup import simhash_near_duplicates

    docs = _read(spark, sf_dir, "documents")
    out = simhash_near_duplicates(docs, max_hamming=8)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


@query(bench=True)
def _q_embedding_near_dup(spark, sf_dir):
    from deeptime_spark.operators.dedup import embedding_near_duplicates

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = embedding_near_duplicates(emb, threshold=0.3, n_planes=4, n_tables=4)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


@query(bench=True)
def _q_lsh_topk(spark, sf_dir):
    from deeptime_spark.operators.similarity import lsh_topk

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(emb, queries, k=5, n_planes=4, n_tables=4)
    return out.select("query_id", "vec_id", F.col("rank").cast("long").alias("rank"))


@query(bench=True, scale=True)
def _q_embedding_ann_recall(spark, sf_dir):
    """ANN quality gate (operators/similarity.py:ann_recall): recall@5
    of ALL THREE approximate rankings — 4-plane/4-table LSH, IVF
    (16 lists / 4 probes), and IVF-PQ (IVFADC) — against the exact
    cosine top-5, per (method, query): the eval loop an index-tuning
    pipeline runs. All rankings are the engine's own distributed
    plans (same parameters as their standalone green queries); each
    recall is a bounded left-semi join + two per-query counts. Oracle
    replays all four rankers and the set recall
    (oracle_ref.py:oracle_embedding_ann_recall)."""
    from deeptime_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        ivf_topk,
        ivfpq_topk,
        lsh_topk,
    )

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # ann_recall consumes `exact` twice per method (semi-join + n_exact
    # count) — 6 evaluations of the brute-force scan without a
    # materialization; localCheckpoint runs it ONCE (queries x k rows)
    exact = brute_force_topk(emb, queries, k=5).localCheckpoint(eager=True)
    rankers = {
        "lsh": lsh_topk(emb, queries, k=5, n_planes=4, n_tables=4),
        "ivf": ivf_topk(emb, queries, k=5, n_lists=16, n_probe=4),
        "ivfpq": ivfpq_topk(
            emb, queries, k=5, n_lists=16, n_probe=4, m_subvectors=8, k_codes=16
        ),
    }
    out = None
    for method in sorted(rankers):
        r = ann_recall(rankers[method], exact).select(
            F.lit(method).alias("method"), "query_id", "n_exact", "n_hit", "recall"
        )
        out = r if out is None else out.unionByName(r)
    return out


@query(bench=True, scale=True)
def _q_ivf_topk(spark, sf_dir):
    from deeptime_spark.operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(emb, queries, k=5, n_lists=16, n_probe=4)
    return out.select("query_id", "vec_id", F.col("rank").cast("long").alias("rank"))


@query(bench=True, scale=True)
def _q_ivf_index_probe(spark, sf_dir):
    """Persisted IVF serving path (operators/similarity.py:
    write_ivf_index / probe_ivf_index): the index is a CELL-PARTITIONED
    parquet layout + quantizer sidecar, and a probe's nearest-cell set
    becomes a partition-pruning IN-filter — only n_probe/n_lists of the
    bytes are read. Same content-addressed sample and seeded Lloyd as
    ivf_topk, so the ranking is byte-identical and SHARES ivf_topk's
    oracle replica."""
    import tempfile

    from deeptime_spark.operators.similarity import (
        probe_ivf_index,
        write_ivf_index,
    )

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx_dir = tempfile.mkdtemp(prefix="ivf_idx_")
    try:
        write_ivf_index(emb, idx_dir, n_lists=16)
        out = probe_ivf_index(spark, idx_dir, queries, k=5, n_probe=4)
        rows = out.select(
            "query_id", "vec_id", F.col("rank").cast("long").alias("rank")
        ).collect()
    finally:
        _rmtree_quiet(idx_dir)
    return _local_df(spark, 
        [(int(r["query_id"]), int(r["vec_id"]), int(r["rank"])) for r in rows],
        "query_id long, vec_id long, rank long",
    )


@query(bench=True, scale=True)
def _q_doc_weighted_sample(spark, sf_dir):
    """Length-proportional deterministic importance sample
    (operators/mixing.py:weighted_sample): keep probability
    n_chars * target / mean(n_chars), capped at 1, against the
    content-addressed xxhash64 — the token-budget subsetting step of a
    mixture pipeline. Per-source kept tallies + id/char checksums.
    Oracle replays the hash + the single driver-scale multiply
    (oracle_ref.py:oracle_doc_weighted_sample)."""
    from deeptime_spark.operators.mixing import weighted_sample

    docs = _read(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    kept = weighted_sample(docs, "n_chars", target_ppm=250_000)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("n_chars").cast("long").alias("chars_kept"),
    )


@query(bench=True)
def _q_doc_pii_scrub(spark, sf_dir):
    """PII redaction audit (CCNet/C4-style scrub): per-class hit counts +
    md5 of the scrubbed text. The synthetic corpus carries no PII, so the
    query injects a deterministic id-derived contact block per document
    before scrubbing — the patterns, priority order, and placeholder
    tagging are exercised for real and replicated by the SQL oracle."""
    from deeptime_spark.operators.text import pii_stats

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ssn 123-45-6789"),
        ).alias("text"),
    )
    out = pii_stats(docs)
    return out.select(
        "doc_id",
        "n_email",
        "n_credit_card",
        "n_phone",
        "n_ipv4",
        "n_ssn",
        F.md5("scrubbed_text").alias("scrubbed_md5"),
    )


_MIX_TARGETS = {"src0": 0.3, "src1": 0.2, "src2": 0.5}
_MIX_RATES_PPM = {"src0": 300000, "src1": 800000}


@query(bench=True, scale=True)
def _q_domain_mixture(spark, sf_dir):
    """Domain-reweighting accounting (The Pile / DoReMi-style mixtures
    realized as subsampling): per-source token share vs a target mixture
    and the down-sampling rate that realizes it. One aggregation pass +
    window totals (operators/mixing.py:domain_mixture)."""
    from deeptime_spark.operators.mixing import domain_mixture

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return domain_mixture(docs, _MIX_TARGETS)


@query(bench=True, scale=True)
def _q_doc_stratified_sample(spark, sf_dir):
    """Deterministic content-addressed stratified sample: per-source keep
    rates in ppm, membership decided by pmod(xxhash64(doc_id), 1e6) —
    layout/partitioning-independent, replayable by the engine-independent
    xxhash64 replica (spark_hashes.py). Returns per-source kept counts
    and an id checksum."""
    from deeptime_spark.operators.mixing import stratified_sample

    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    kept = stratified_sample(docs, _MIX_RATES_PPM, default_ppm=100000)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


@query(bench=True, scale=True)
def _q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ (IVFADC, Jégou et al. TPAMI'11): coarse inverted-file
    pruning + asymmetric distance over product-quantized residual codes —
    the compressed-domain ANN path (m bytes per vector instead of 4·d).
    Deterministic end to end: content-addressed quantizer sample, seeded
    Lloyd per subspace, argmin ties to the lowest code, rank by
    (adc_dist asc, vec_id)."""
    from deeptime_spark.operators.similarity import ivfpq_topk

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivfpq_topk(
        emb, queries, k=5, n_lists=16, n_probe=4, m_subvectors=8, k_codes=16
    )
    return out.select(
        "query_id",
        "vec_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("adc_dist", 6).alias("adc_dist"),
    )


@query
def _q_vocab_stats(spark, sf_dir):
    """Corpus vocabulary statistics: distinct tokens, total tokens, and
    singleton count — explode + two aggregations, the scale shape for
    tokenizer/vocab audits over a training corpus."""
    from deeptime_spark.operators.text import tokens

    docs = _read(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("tok"))
    per_tok = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    return per_tok.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("n").alias("total_tokens"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("singletons"),
    )


@query
def _q_top_tokens(spark, sf_dir):
    """Heavy hitters: 20 most frequent tokens (partial-agg counts, then a
    driver-sized ordered limit)."""
    from deeptime_spark.operators.text import tokens

    docs = _read(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("tok"))
    return (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.col("tok"))
        .limit(20)
    )


@query
def _q_doc_fingerprint(spark, sf_dir):
    from deeptime_spark.operators.text import fingerprint

    docs = _read(spark, sf_dir, "documents")
    fp = fingerprint("text", k=5, n=8)
    return docs.select("doc_id", F.element_at(fp, 1).alias("fp_min"), F.size(fp).cast("long").alias("fp_n"))


@query(bench=True, scale=True)
def _q_tica_events(spark, sf_dir):
    from deeptime_spark.decomposition.tica import TICA

    traj = _event_traj(spark, sf_dir)
    v = F.col("value") / 100.0
    feat = traj.select("traj_id", "t", F.array(v, v * v, v * v * v).alias("x"))
    model = TICA(lagtime=2, dim=2).fit(feat).fetch_model()
    out = model.transform(feat, out_col="proj")
    return out.select(
        "traj_id",
        "t",
        F.round(F.col("proj")[0], 6).alias("ic1"),
        F.round(F.col("proj")[1], 6).alias("ic2"),
    )


@query(bench=True)
def _q_event_two_step_counts(spark, sf_dir):
    from deeptime_spark.markov.transition_counting import two_step_counts_df

    traj = _event_traj(spark, sf_dir)
    return two_step_counts_df(traj, lagtime=1).select(
        "s0", "s1", "s2", F.col("n").cast("long").alias("n")
    )


@query(bench=True)
def _q_event_weighted_counts(spark, sf_dir):
    """Girsanov-reweighted transition counts with a value-derived path
    weight (log-window-sum + exp + weighted groupBy)."""
    from deeptime_spark.markov.counting_extras import girsanov_reweighted_counts_df

    traj = _event_traj(spark, sf_dir).withColumn(
        "weight", F.lit(1.0) + F.col("value") / 1000.0
    )
    out = girsanov_reweighted_counts_df(traj, lagtime=2)
    return out.select("s_from", "s_to", F.round("n", 6).alias("n"))


@query(bench=True)
def _q_embedding_whiten(spark, sf_dir):
    """64-d whitening: exercises BOTH Arrow paths (mapInPandas moments
    aggregation at d>24 and the Arrow BLAS projection)."""
    from deeptime_spark.covariance import Covariance

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    cov = Covariance(lagtime=0).fit_fetch(emb)
    out = cov.whiten().transform(emb)
    return out.select(
        "vec_id", F.round(F.col("y")[0], 6).alias("w0"), F.round(F.col("y")[1], 6).alias("w1")
    )


@query
def _q_multimodal_features(spark, sf_dir):
    """Multimodal decode over REAL binary payloads: each document fabricates
    a deterministic PCM16 sine WAV (frequency keyed on doc_id), which the
    Arrow-batched kernel decodes with the pure-Python WAV path — no fake.
    Output marks the real-audio path (path_marker=1.0) and physically
    meaningful features (RMS ~ amplitude/sqrt(2), zero-crossing rate ~
    2f/rate)."""
    from pyspark.sql.types import BinaryType

    from deeptime_spark.operators.multimodal import extract_features, synth_wav

    @F.pandas_udf(BinaryType())
    def wav_of(doc_ids: pd.Series) -> pd.Series:
        return doc_ids.map(lambda i: synth_wav(100.0 + (int(i) % 20) * 10.0))

    docs = _read(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("modality"),
        wav_of(F.col("doc_id")).alias("payload"),
        F.lit("audio/wav").alias("mime"),
    )
    out = extract_features(media, dim=8)
    return out.select(
        "media_id",
        F.size("feature").cast("long").alias("feat_dim"),
        F.round(F.element_at("feature", 1), 6).alias("path_marker"),
        F.round(F.element_at("feature", 5), 6).alias("rms"),
        F.round(F.element_at("feature", 6), 6).alias("zcr"),
    )


@query(bench=True, scale=True)
def _q_dedup_verified_pairs(spark, sf_dir):
    """Full near-dup pipeline: MinHash LSH candidates -> exact n-gram
    Jaccard verification inside the candidate set only."""
    from deeptime_spark.operators.dedup import minhash_lsh_candidates, verify_candidates_jaccard

    docs = _read(spark, sf_dir, "documents")
    # materialize the candidate set ONCE: verification consumes it in two
    # joins plus the gram-restriction semi-join, and without the persist
    # the whole LSH subtree re-executes per consumer — superlinear under
    # rising duplicate density (weak-scaling x8 measured 106 s -> the
    # persisted form stays near-linear)
    cands = minhash_lsh_candidates(
        docs, n_hashes=32, bands=8, with_est=False
    ).persist()
    cands.count()
    out = verify_candidates_jaccard(cands, docs, threshold=0.2)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query(bench=True, scale=True, dispatch=True)
def _q_dedup_components(spark, sf_dir):
    """Duplicate CLUSTERS from the verified near-dup pairs: distributed
    connected components (min-label propagation, operators/dedup.py:
    connected_components) then per-cluster size — the canonical-election
    step a dedup pipeline needs after pair verification."""
    from deeptime_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_candidates,
        verify_candidates_jaccard,
    )

    docs = _read(spark, sf_dir, "documents")
    # same candidate materialization as dedup_verified_pairs: the pair
    # pipeline is consumed by connected_components' own persist+count,
    # and the candidate subtree must not re-execute per join consumer
    cands = minhash_lsh_candidates(
        docs, n_hashes=32, bands=8, with_est=False
    ).persist()
    cands.count()
    pairs = verify_candidates_jaccard(cands, docs, threshold=0.2)
    return duplicate_clusters(pairs.select("id_a", "id_b")).select(
        F.col("component").cast("long").alias("component"),
        F.col("n_members").cast("long").alias("n_members"),
    )


@query
def _q_event_cube(spark, sf_dir):
    """CUBE grouping-set counts over (event_type, hour) — all four
    grouping combinations in one pass (expand + single aggregation)."""
    ev = _read(spark, sf_dir, "events").withColumn(
        "hour", F.hour("ts").cast("long")
    )
    return (
        ev.cube("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.round(F.col("value") * 100).cast("long")).alias("vc_sum"))
    )


@query
def _q_event_value_percentiles(spark, sf_dir):
    """Exact quartiles of the integer-cents value per event type. The
    quarter-fraction positions interpolate with exact binary weights over
    integers, so Spark's percentile and DuckDB's quantile_cont agree
    bit-exactly."""
    ev = _read(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("vc")
    )
    pcts = ev.groupBy("event_type").agg(
        F.percentile("vc", F.lit(0.25)).alias("p25"),
        F.percentile("vc", F.lit(0.5)).alias("p50"),
        F.percentile("vc", F.lit(0.75)).alias("p75"),
    )
    return pcts


@query(bench=True)
def _q_doc_lm_score(spark, sf_dir):
    """CCNet-style LM quality signal: self-trained unigram model (exact
    integer counts -> reproducible log-probs) scoring each doc's mean
    token log-prob in token order (operators/text.py:
    unigram_lm_scores_df). Layout-independent end to end."""
    from deeptime_spark.operators.text import unigram_lm_scores_df

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_lm_scores_df(docs, vocab_size=20_000)


@query(bench=True, scale=True)
def _q_doc_lm2_score(spark, sf_dir):
    """Interpolated bigram-LM quality signal (operators/text.py:
    bigram_lm_scores_df — the KenLM-perplexity filter axis with bounded
    pruned model tables). Oracle: full pure-Python replica on the DuckDB
    corpus (oracle_ref.py:oracle_doc_lm2_score)."""
    from deeptime_spark.operators.text import bigram_lm_scores_df

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_lm_scores_df(docs, vocab_size=20_000, bigram_size=100_000)


@query(bench=True)
def _q_doc_winnowing(spark, sf_dir):
    """Winnowing fingerprints (Schleimer et al. SIGMOD'03, operators/
    dedup.py:winnowing_fingerprints_df): substring-level dup detection.
    Per-doc summary of the selected hash set (integer-only computation —
    engine-independent)."""
    from deeptime_spark.operators.dedup import winnowing_fingerprints_df

    docs = _read(spark, sf_dir, "documents")
    fps = winnowing_fingerprints_df(docs)
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.min("fingerprint").alias("min_fp"),
        F.max("fingerprint").alias("max_fp"),
    )


@query(bench=True)
def _q_doc_gopher_quality(spark, sf_dir):
    """Gopher pretraining quality rules (operators/text.py:gopher_quality
    — Rae et al. 2021 Table A1) per document: all integer-count ratios,
    bit-exact across engines."""
    from deeptime_spark.operators.text import gopher_quality

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_quality(docs).drop("text")


@query(bench=True, scale=True)
def _q_doc_gopher_repetition(spark, sf_dir):
    """Gopher repetition rules: duplicate-line fraction + duplicated-line
    character fraction (sorted-adjacency, O(L log L) per doc)."""
    from deeptime_spark.operators.text import (
        gopher_repetition,
        gopher_top_ngram_fractions,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_top_ngram_fractions(gopher_repetition(docs)).drop("text")


@query(bench=True, scale=True)
def _q_doc_span_dedup(spark, sf_dir):
    """Exact duplicated-span detection (Lee et al. ACL'22 substring dedup
    reduced to non-overlapping 10-token windows): per-doc span counts and
    the fraction of spans that are non-first global occurrences."""
    from deeptime_spark.operators.dedup import dedup_token_spans

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup_token_spans(docs, span_tokens=10)


# scale: dup density and span count both grow with the replica count
@query(bench=True, scale=True)
def _q_doc_dup_substrings(spark, sf_dir):
    """Exact duplicated-substring spans (Lee et al. ACL'22 ExactSubstr,
    operators/dedup.py:duplicated_substring_spans): SLIDING 20-token
    shingles, shingles occurring >=2 times anywhere mark their window,
    overlapping-or-adjacent windows merge into maximal spans per doc
    (gaps-and-islands). Unlike doc_span_dedup's non-overlapping windows
    this reports the exact [start, end] token ranges a substring-dedup
    pass would excise. PURE-SQL oracle."""
    from deeptime_spark.operators.dedup import duplicated_substring_spans

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return duplicated_substring_spans(docs, k=20)


@query(bench=True, scale=True)
def _q_doc_substring_excise(spark, sf_dir):
    """ExactSubstr excision (Lee et al. ACL'22, operators/dedup.py:
    drop_duplicated_substrings): non-first occurrences of duplicated
    20-token sliding shingles merge into maximal spans and are cut,
    keeping one copy of every duplicated substring corpus-wide. Emits
    md5 of the reassembled token stream + kept/dropped tallies.
    PURE-SQL oracle."""
    from deeptime_spark.operators.dedup import drop_duplicated_substrings

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    out = drop_duplicated_substrings(docs, k=20)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_tokens_kept",
        "n_tokens_dropped",
    )


@query(bench=True, scale=True)
def _q_doc_c4_filter(spark, sf_dir):
    """C4 line-level cleaning rules (Raffel et al. JMLR'20 §2.2): per-doc
    kept-line tally and the md5 of the reassembled clean text. The
    terminal-punctuation rule is off because the synthetic corpus has no
    sentence punctuation — the word-count and bad-phrase rules carry the
    filter."""
    from deeptime_spark.operators.text import c4_line_filter

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    out = c4_line_filter(
        docs, min_words=5, require_terminal_punct=False, min_kept_lines=1
    )
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_lines_total",
        "n_lines_kept",
        "passes_c4",
    )


@query(bench=True, scale=True)
def _q_doc_line_dedup(spark, sf_dir):
    """C4-style GLOBAL line dedup: each non-trivial line survives only at
    its first (doc_id, line_no) occurrence corpus-wide; docs reassembled
    in line order (operators/dedup.py:drop_duplicate_lines_across_docs)."""
    from deeptime_spark.operators.dedup import drop_duplicate_lines_across_docs

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    out = drop_duplicate_lines_across_docs(docs, min_chars=10)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_lines_kept",
        "n_lines_dropped",
    )


@query(bench=True)
def _q_event_session_range_join(spark, sf_dir):
    """Sessionize events (30-min gaps), then RANGE-JOIN the raw events
    back onto the session intervals (operators/lag.py:range_join —
    bin-bucketed equi-join; a raw BETWEEN join would plan as
    BroadcastNestedLoop). Returns per-session assigned-event counts."""
    from deeptime_spark.operators.lag import range_join

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("tu")
    )
    w = Window.partitionBy("user_id").orderBy("tu", "event_id")
    gap = F.col("tu") - F.lag("tu", 1).over(w)
    sid = F.sum(
        F.when(gap.isNull() | (gap > F.lit(1800 * 1_000_000)), 1).otherwise(0)
    ).over(w)
    sess = ev.withColumn("session_id", sid)
    intervals = sess.groupBy("user_id", "session_id").agg(
        F.min("tu").alias("t_start"), F.max("tu").alias("t_end")
    )
    joined = range_join(
        ev, intervals, by="user_id", t_col="tu",
        start_col="t_start", end_col="t_end", bin_size=1800 * 1_000_000,
    )
    return joined.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_assigned")
    )


@query
def _q_event_range_frame(spark, sf_dir):
    """Per-event forward-looking activity: events of the same user within
    the next 5 minutes, as a RANGE window frame (value-based bounds — the
    frame Spark evaluates in one sorted pass per partition)."""
    ev = _read(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("tu")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tu")
        .rangeBetween(Window.currentRow, 300 * 1_000_000)
    )
    return ev.select(
        "event_id", F.count(F.lit(1)).over(w).alias("n_next_5min")
    )


@query(bench=True, scale=True, dispatch=True)
def _q_hmm_viterbi_events(spark, sf_dir):
    """2-hidden-state HMM over the 5-symbol event dtraj: Baum-Welch then
    per-trajectory viterbi decode, each on the driver inside the ``hmm``
    dispatch bound (one fetch each) and as mapInPandas passes above it.
    The trajectory is persisted pre-partitioned by traj_id ONCE and shared
    by init counting, the fit and the viterbi pass — no re-derivation of
    the event window per stage."""
    from deeptime_spark.hmm import MaximumLikelihoodHMM, init_discrete_metastable_from_data

    # explicit partition count: AQE would coalesce the small window
    # shuffle to ~1 partition, serializing the Python E-step/FFBS batches —
    # pin parallelism while keeping trajectories co-located by traj_id
    traj = (
        _event_traj(spark, sf_dir).select("traj_id", "t", "state")
        .repartition(spark.sparkContext.defaultParallelism, "traj_id").persist()
    )
    init = init_discrete_metastable_from_data(
        traj, n_hidden_states=2, lagtime=1, n_observation_states=5
    )
    model = (
        MaximumLikelihoodHMM(init, lagtime=1, maxit=3, assume_colocated=True)
        .fit(traj)
        .fetch_model()
    )
    # the returned plan reads the cached trajectory; the cache is left for
    # LRU eviction because the caller still has to execute the plan (an
    # eager collect+recreate here costs far more than the cached partitions)
    out = model.viterbi_df(traj, colocated=True)
    return out.select(
        "traj_id", "t", F.col("hidden_state").cast("long").alias("hidden_state")
    )


@query
def _q_bayes_hmm_events(spark, sf_dir):
    """Bayesian HMM posterior (batched-FFBS Gibbs) over the event dtraj:
    posterior mean + 95% CI of the hidden transition matrix."""
    from deeptime_spark.hmm import (
        BayesianHMM,
        MaximumLikelihoodHMM,
        init_discrete_metastable_from_data,
    )

    # explicit partition count: AQE would coalesce the small window
    # shuffle to ~1 partition, serializing the Python E-step/FFBS batches —
    # pin parallelism while keeping trajectories co-located by traj_id
    traj = (
        _event_traj(spark, sf_dir).select("traj_id", "t", "state")
        .repartition(spark.sparkContext.defaultParallelism, "traj_id").persist()
    )
    init = init_discrete_metastable_from_data(
        traj, n_hidden_states=2, lagtime=1, n_observation_states=5
    )
    prior = (
        MaximumLikelihoodHMM(init, lagtime=1, maxit=2, assume_colocated=True)
        .fit(traj)
        .fetch_model()
    )
    post = BayesianHMM(prior, n_samples=10, seed=42, assume_colocated=True).fit(traj).fetch_model()
    traj.unpersist()
    stats = post.gather_stats("transition_matrix")
    mean, lo, hi = stats["mean"], stats["L"], stats["R"]
    rows = [
        (int(i), int(j), float(mean[i, j]), float(lo[i, j]), float(hi[i, j]))
        for i in range(2)
        for j in range(2)
    ]
    return _local_df(spark, 
        rows, "h_from long, h_to long, p_mean double, p_lo double, p_hi double"
    )


@query(bench=True, dispatch=True)
def _q_kmeans_embeddings(spark, sf_dir):
    """Bit-reproducible distributed k-means (clustering/kmeans.py:
    DeterministicKMeans): seeded kmeans++ init on a TakeOrdered sample,
    Lloyd with fixed-point integer partial sums — layout-independent, so
    the oracle replays the identical fit in numpy. The MLlib k-means||
    wrapper (throughput path) stays pytest-covered."""
    from deeptime_spark.clustering.kmeans import DeterministicKMeans

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    model = (
        DeterministicKMeans(n_clusters=8, seed=42, max_iter=16, order_col="vec_id")
        .fit(emb)
        .fetch_model()
    )
    return model.transform(emb).select("vec_id", F.col("state").cast("long").alias("cluster"))


@query(bench=True, scale=True)
def _q_doc_topic_terms(spark, sf_dir):
    """Topic labeling for embedding clusters (operators/text.py:
    cluster_term_lift — BERTopic's c-TF-IDF with the log damping
    replaced by the exact relevance-lift ratio): the bit-reproducible
    k-means assignment (vec_id = doc_id) joins the doc relation BEFORE
    the token explode; per-cluster top-10 terms by lift among terms
    with cluster tf >= 5. Oracle replays the kmeans fit + counts + the
    identical division tree (oracle_ref.py:oracle_doc_topic_terms)."""
    from deeptime_spark.clustering.kmeans import DeterministicKMeans
    from deeptime_spark.operators.text import cluster_term_lift

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    model = (
        DeterministicKMeans(n_clusters=8, seed=42, max_iter=16, order_col="vec_id")
        .fit(emb)
        .fetch_model()
    )
    assign = model.transform(emb).select(
        F.col("vec_id").alias("doc_id"), F.col("state").cast("long").alias("cluster")
    )
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    out = cluster_term_lift(docs, assign, min_count=5, top_k=10)
    return out.select(
        F.col("cluster").cast("long").alias("cluster"),
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.round("lift", 6).alias("lift"),
    )


@query(bench=True, scale=True)
def _q_embedding_silhouette(spark, sf_dir):
    """Cluster-quality audit for the kmeans_embeddings fit: simplified
    silhouette (clustering/metrics.py:simplified_silhouette_df —
    O(n·k) centroid form) per point, integer-ppm scaled so the
    per-cluster aggregation is exact, summarized per cluster. Oracle
    replays the deterministic fit + the identical batch-invariant
    distance kernel in numpy (oracle_ref.py:oracle_embedding_silhouette)."""
    from deeptime_spark.clustering.kmeans import DeterministicKMeans
    from deeptime_spark.clustering.metrics import simplified_silhouette_df

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    model = (
        DeterministicKMeans(n_clusters=8, seed=42, max_iter=16, order_col="vec_id")
        .fit(emb)
        .fetch_model()
    )
    sil = simplified_silhouette_df(emb, model.cluster_centers)
    return sil.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(s_ppm) DIV count(1)").alias("mean_s_ppm"),
        F.min("s_ppm").alias("min_s_ppm"),
        F.max("s_ppm").alias("max_s_ppm"),
    )


@query(bench=True, scale=True)
def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup over the embeddings table
    (operators/dedup.py:semantic_duplicates): DeterministicKMeans
    clustering, then per-cluster normalized-gram cosine pruning against
    lower-id members. Flags and dup_of are integer facts; the oracle
    replays the identical fit + gram in numpy (oracle_ref.py)."""
    from deeptime_spark.operators.dedup import semantic_duplicates

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    flags = semantic_duplicates(
        emb, n_clusters=8, threshold=0.45, kmeans_max_iter=8, seed=42
    )
    return flags.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster").cast("long").alias("cluster"),
        F.col("is_dup").cast("long").alias("is_dup"),
        F.coalesce(F.col("dup_of"), F.lit(-1)).cast("long").alias("dup_of"),
    )


@query(bench=True, scale=True)
def _q_doc_chunks(spark, sf_dir):
    """RAG chunking: overlapping 64-token windows (overlap 16) per
    document (operators/chunking.py:chunk_documents) — pure codegen
    sequence+slice, no shuffle; oracle replays the identical list algebra
    in DuckDB."""
    from deeptime_spark.operators.chunking import chunk_documents

    docs = _read(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap=16)


@query(bench=True, scale=True)
def _q_doc_packing(spark, sf_dir):
    """GPT-style concat-and-split packing per source shard, budget 512
    tokens (operators/chunking.py:pack_documents): per-shard prefix-sum
    window -> pack indices + straddle flags, all integers."""
    from deeptime_spark.operators.chunking import pack_documents

    docs = _read(spark, sf_dir, "documents")
    return pack_documents(docs, budget=512)


@query(bench=True, scale=True)
def _q_corpus_clean_pipeline(spark, sf_dir):
    """End-to-end training-corpus cleaning: token-length filter -> exact
    dedup -> MinHash-LSH near-dup drop (connected components elect the
    min-id canonical) -> GPT-style sequence packing of the survivors.
    One DataFrame pipeline composing the dedup/chunking operators; the
    oracle replays every stage with the bit-exact hash replicas
    (oracle_ref.py:oracle_corpus_clean)."""
    from deeptime_spark.operators.chunking import pack_documents
    from deeptime_spark.operators.dedup import (
        drop_exact_duplicates,
        drop_near_duplicates,
        minhash_lsh_candidates,
        verify_candidates_jaccard,
    )
    from deeptime_spark.operators.text import token_count

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text", "source")
    s1 = docs.where(token_count("text") >= 30)
    # persisted: the survivor frame feeds candidate generation, gram
    # verification, and the final anti-join — without the cache the
    # filter+dedup window would re-run per consumer
    s2 = drop_exact_duplicates(s1).persist()
    # candidates materialized once: the verification stage consumes them
    # in two gram joins plus the restriction semi-join (same pattern as
    # dedup_verified_pairs — without it the signature+banding subtree
    # executes per consumer)
    cands = minhash_lsh_candidates(
        s2, n_hashes=32, bands=8, with_est=False
    ).persist()
    cands.count()
    pairs = verify_candidates_jaccard(cands, s2, threshold=0.2)
    s3 = drop_near_duplicates(s2, pairs)
    return pack_documents(s3, budget=512)


@query(bench=True)
def _q_corpus_prep_pipeline(spark, sf_dir):
    """Round-4 composition: C4 line rules -> GLOBAL first-occurrence line
    dedup -> deterministic stratified sample -> GPT-style sequence
    packing, one DataFrame pipeline. (PII scrubbing belongs between the
    filter and dedup stages; it is a no-op on the synthetic corpus and is
    exercised separately by doc_pii_scrub.) Every stage is replayed by
    the SQL oracle; the sample membership uses the engine-independent
    XXH64 replica embedded as a literal id set."""
    from deeptime_spark.operators.chunking import pack_documents
    from deeptime_spark.operators.dedup import drop_duplicate_lines_across_docs
    from deeptime_spark.operators.mixing import stratified_sample
    from deeptime_spark.operators.text import c4_line_filter

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text", "source")
    s1 = c4_line_filter(
        docs, min_words=30, require_terminal_punct=False, min_kept_lines=1
    ).where(F.col("passes_c4") == 1)
    s2 = drop_duplicate_lines_across_docs(
        s1.select("doc_id", F.col("clean_text").alias("text"), "source"), min_chars=10
    ).where(F.col("n_lines_kept") > 0)
    s3 = stratified_sample(
        s2.join(docs.select("doc_id", "source"), "doc_id"),
        _MIX_RATES_PPM,
        default_ppm=500000,
    )
    out = pack_documents(
        s3.select("doc_id", F.col("clean_text").alias("text"), "source"), budget=512
    )
    return out.select(
        "doc_id",
        "shard",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("tok_offset").cast("long").alias("tok_offset"),
        F.col("pack_first").cast("long").alias("pack_first"),
        F.col("pack_last").cast("long").alias("pack_last"),
    )


@query(scale=True)
def _q_doc_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/dedup.py:decontaminate):
    flag corpus documents sharing any distinct word 8-gram with the probe
    set (stand-in benchmark = docs with doc_id < 20). Probe gram hashes
    broadcast; corpus side is one codegen regex pass + broadcast
    semi-join — the corpus never shuffles."""
    from deeptime_spark.operators.dedup import decontaminate

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    probes = docs.where(F.col("doc_id") < 20)
    return decontaminate(docs, probes, n=8, min_hits=1)


@query
def _q_streaming_interval_join(spark, sf_dir):
    """Event-time stream-stream join (streaming/accumulate.py:
    streaming_interval_join): signup events join purchase events of the
    same user within 1 hour, both streams replayed from the same
    4-file source with watermarks wider than the data span — so the
    append-mode sink equals the batch range join exactly, and the
    per-user rollup shares a PURE-SQL oracle. The watermark is what
    bounds join state at stream scale (O(key-rate × window))."""
    from deeptime_spark.streaming.accumulate import streaming_interval_join

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    with Replay(spark) as r:
        stream = r.source([ev.repartition(4)])
        joined = streaming_interval_join(
            stream.where(F.col("event_type") == "signup"),
            stream.where(F.col("event_type") == "purchase"),
            within="1 hour",
            watermark="3650 days",
        )
        rows = (
            r.to_memory(joined, "append")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum(
                    (F.unix_micros("r_ts") - F.unix_micros("l_ts"))
                ).alias("sum_delta_us"),
                F.min("l_event_id").alias("min_signup_event"),
                F.max("r_event_id").alias("max_purchase_event"),
            )
            .collect()
        )
    return _local_df(spark, 
        [
            (
                int(r["user_id"]),
                int(r["n_pairs"]),
                int(r["sum_delta_us"]),
                int(r["min_signup_event"]),
                int(r["max_purchase_event"]),
            )
            for r in rows
        ],
        "user_id long, n_pairs long, sum_delta_us long, "
        "min_signup_event long, max_purchase_event long",
    )


@query
def _q_streaming_sessions(spark, sf_dir):
    """Native session_window sessionization on a replayed event stream
    (streaming/accumulate.py:streaming_session_counts). Events are split
    across 4 arbitrary files, so one user's sessions SPAN micro-batches
    and the session state must merge across triggers — no in-order
    contract. Complete output mode gives exact end-of-stream batch
    equivalence; the oracle is the gap-rule sessionization in SQL
    (new session iff gap >= 30 min, matching session_window's half-open
    [ts, ts+gap) extents)."""
    from deeptime_spark.streaming.accumulate import streaming_session_counts

    ev = _read(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    with Replay(spark) as r:
        sess = streaming_session_counts(r.source([ev.repartition(4)]), gap="30 minutes")
        rows = (
            r.to_memory(sess, "complete")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_sessions"),
                F.sum("n_events").alias("n_events"),
            )
            .collect()
        )
    return _local_df(spark, 
        [(int(r["user_id"]), int(r["n_sessions"]), int(r["n_events"])) for r in rows],
        "user_id long, n_sessions long, n_events long",
    )


@query
def _q_streaming_window_counts(spark, sf_dir):
    """Watermarked tumbling-window event counts on a replayed stream
    (streaming/accumulate.py:windowed_event_counts). Events are split
    across 4 arbitrary files so windows span micro-batches; complete
    output mode at end-of-stream equals the batch GROUP BY hour — the
    oracle is plain SQL date_trunc bucketing (Spark's window() aligns
    tumbling windows to the epoch, i.e. to the hour for 1-hour windows).
    The append-mode late-row DROP policy is pinned separately in
    tests/test_streaming.py."""
    from deeptime_spark.streaming.accumulate import windowed_event_counts

    ev = _read(spark, sf_dir, "events").select("event_type", "ts")
    with Replay(spark) as r:
        counts = windowed_event_counts(
            r.source([ev.repartition(4)]), window_duration="1 hour", watermark="1 hour"
        )
        rows = (
            r.to_memory(counts, "complete")
            .select(
                F.unix_timestamp("window_start").alias("window_start_s"),
                F.unix_timestamp("window_end").alias("window_end_s"),
                "event_type",
                "n",
            )
            .collect()
        )
    return _local_df(spark, 
        [
            (int(r["window_start_s"]), int(r["window_end_s"]), str(r["event_type"]), int(r["n"]))
            for r in rows
        ],
        "window_start_s long, window_end_s long, event_type string, n long",
    )


@query
def _q_streaming_dedup_replay(spark, sf_dir):
    """Replay documents.parquet as micro-batches through the Structured
    Streaming exact-dedup operator (streaming/accumulate.py) and report
    the kept-row tally.  Batch-equivalence: the number of survivors of
    first-occurrence dedup equals COUNT(DISTINCT text) regardless of
    arrival order, so a plain SQL oracle can verify the streaming path.
    """
    import os

    from deeptime_spark.streaming.accumulate import streaming_drop_exact_duplicates

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    with Replay(spark) as r:
        # FileStreamSource requires a directory; expose the single parquet
        # file through a temp dir of symlinks (no data copy).
        src_dir = r.dir("dedup_src_")
        os.symlink(os.path.abspath(path), os.path.join(src_dir, "part-0.parquet"))
        kept = streaming_drop_exact_duplicates(r.stream(src_dir, schema), text_col="text")
        row = (
            r.to_memory(kept, "append")
            .agg(
                F.count("*").alias("n_kept"),
                F.count_distinct("text").alias("n_distinct_text"),
            )
            .collect()[0]
        )
    return _local_df(spark, 
        [(int(row["n_kept"]), int(row["n_distinct_text"]))],
        "n_kept long, n_distinct_text long",
    )


@query
def _q_streaming_transition_counts(spark, sf_dir):
    """Custom stateful streaming operator under the correctness gate:
    replay the event trajectory as micro-batches through the
    applyInPandasWithState transition counter and fold the per-batch
    increments — batch-equivalent to the one-shot lag-1 sliding counts
    (files are written traj-holistic so each trajectory arrives in order
    within one batch, matching the operator's in-order contract)."""
    from deeptime_spark.streaming.accumulate import streaming_transition_counts

    traj = _event_traj(spark, sf_dir).select("traj_id", "t", "state")
    with Replay(spark) as r:
        out = streaming_transition_counts(r.source([traj.repartition(4, "traj_id")]))
        rows = (
            r.to_memory(out, "append")
            .groupBy("s_from", "s_to")
            .agg(F.sum("n").alias("n"))
            .collect()
        )
    return _local_df(spark, 
        [(int(r["s_from"]), int(r["s_to"]), int(r["n"])) for r in rows],
        "s_from long, s_to long, n long",
    )


# --- round-4: adapted TPC-H relational surface (no partsupp table in the
# testdata; queries needing it are re-expressed over lineitem shipments;
# date/comment columns absent from the schema get equivalent predicates).
# Conventions follow the header exactness policy: money as BIGINT cents,
# revenue as cents x (100 - discount-percent) BIGINT units ("_c2").


def _rev_c2():
    return F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )


@query
def _q_q2_min_supplier(spark, sf_dir):
    """TPC-H Q2 shape (adapted, no partsupp): for each PROMO part of size
    10, the supplier with minimum account balance among those who actually
    shipped it — distinct shipment pairs, then an argmin window."""
    from pyspark.sql import Window

    part = _read(spark, sf_dir, "part").where(
        (F.col("p_size") == 10) & (F.col("p_type") == "PROMO")
    )
    supp = _read(spark, sf_dir, "supplier")
    pairs = (
        _read(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_name", "l_suppkey")
        .distinct()
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey").orderBy(F.asc("s_acctbal"), F.asc("s_suppkey"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            F.round(F.col("s_acctbal") * 100).cast("long").alias("s_acctbal_c"),
        )
    )


@query
def _q_q4_priority_exists(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS-style correlated semi-join (orders in 1997H2
    having a returned line shipped after the order date), counted by
    priority."""
    orders = _read(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _read(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# bench: multi-nation broadcast-dim star shape (as q8)
@query(bench=True)
def _q_q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by ship
    year; dims broadcast, fact join on orderkey."""
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .where(
            ((supp.s_nationkey == 1) & (cust.c_nationkey == 2))
            | ((supp.s_nationkey == 2) & (cust.c_nationkey == 1))
        )
    )
    return joined.groupBy(
        F.col("s_nationkey").cast("long").alias("supp_nation"),
        F.col("c_nationkey").cast("long").alias("cust_nation"),
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(F.count(F.lit(1)).alias("n_items"), F.sum(_rev_c2()).alias("revenue_c2"))


@query(bench=True)
def _q_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: NATION_5's share of ASIA-region PROMO-part revenue
    per year — conditional aggregation over one joined plan; share emitted
    as exact BIGINT numerator/denominator plus a deterministic
    double division rounded to 6 places."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    part = _read(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
    )
    rev = _rev_c2()
    out = joined.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        F.sum(rev).alias("total_rev_c2"),
        F.sum(F.when(F.col("s_nationkey") == 5, rev).otherwise(F.lit(0))).alias(
            "nation_rev_c2"
        ),
    )
    return out.select(
        "o_year",
        "total_rev_c2",
        "nation_rev_c2",
        F.round(
            F.col("nation_rev_c2").cast("double") / F.col("total_rev_c2").cast("double"),
            6,
        ).alias("mkt_share"),
    )


# bench: the largest TPC-H join tree (lineitem x part x supplier x nation)
@query(bench=True, scale=True)
def _q_q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (adapted, no supplycost): widget-part revenue by
    supplier nation and ship year."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("o_year"),
        )
        .agg(F.count(F.lit(1)).alias("n_items"), F.sum(_rev_c2()).alias("profit_c2"))
    )


@query
def _q_q12_late_shipments(spark, sf_dir):
    """TPC-H Q12 shape (adapted, no shipmode/commitdate): lines shipped
    more than 60 days after the order date, split into high/low-priority
    counts per ship year — CASE-WHEN conditional aggregation."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS"))
        .groupBy(F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query
def _q_q13_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: customer order-count distribution over a left
    outer join (orders since 2001 only, so zero-order customers appear)."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query
def _q_q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: PROMO-part share of June-1997 revenue; exact
    integer numerator/denominator plus rounded double ratio."""
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    part = _read(spark, sf_dir, "part")
    rev = _rev_c2()
    out = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))).alias(
                "promo_rev_c2"
            ),
            F.sum(rev).alias("total_rev_c2"),
        )
    )
    return out.select(
        "promo_rev_c2",
        "total_rev_c2",
        F.round(
            F.col("promo_rev_c2").cast("double") / F.col("total_rev_c2").cast("double"),
            6,
        ).alias("promo_share"),
    )


@query
def _q_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) achieving the maximum 1997Q1 revenue —
    agg, scalar max, equality join back (ties kept, as in the spec)."""
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = _read(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev_c2()).alias("total_rev_c2"))
    mx = rev.agg(F.max("total_rev_c2").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_rev_c2 == F.col("mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev_c2")
    )


@query
def _q_q16_part_supplier_stats(spark, sf_dir):
    """TPC-H Q16 shape (adapted, suppliers via shipments): distinct
    supplier count per (brand, type, size) excluding Brand#1."""
    part = _read(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query
def _q_q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue from Brand#23 lineitems below half the
    part's average quantity — per-part avg broadcast back (the correlated
    scalar subquery, expressed as agg + join)."""
    part = _read(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    li = _read(spark, sf_dir, "lineitem").join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    avg_qty = li.groupBy(F.col("p_partkey").alias("ap")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(avg_qty), F.col("p_partkey") == F.col("ap"))
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "sum_price_c"
            ),
        )
    )


@query(bench=True, scale=True)
def _q_q18_large_volume_customers(spark, sf_dir):
    """TPC-H Q18 shape: orders whose total quantity exceeds 250, with
    customer attribution — HAVING on a fact-side agg, dims broadcast."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity")).cast("long").alias("sum_qty"))
        .where(F.col("sum_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("o_totalprice_c"),
            "sum_qty",
        )
    )


@query
def _q_q19_or_predicates(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of brand/size/quantity envelopes —
    exercises OR-predicate pushdown through a broadcast join."""
    part = _read(spark, sf_dir, "part")
    li = _read(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.where(cond).agg(
        F.count(F.lit(1)).alias("n_items"), F.sum(_rev_c2()).alias("revenue_c2")
    )


@query
def _q_q20_semi_chain(spark, sf_dir):
    """TPC-H Q20 shape (adapted): suppliers who shipped >60 units of any
    'red' part — chained semi-joins ending in the supplier dim."""
    part = _read(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    li = _read(spark, sf_dir, "lineitem")
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 60)
        .select("l_suppkey")
        .distinct()
    )
    supp = _read(spark, sf_dir, "supplier")
    return supp.join(
        heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@query(bench=True, scale=True)
def _q_q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape (adapted, no receipt dates): on multi-supplier
    orders where exactly one supplier had a returned line, count those
    sole-culprit suppliers — the EXISTS/NOT-EXISTS pair re-expressed as
    one conditional aggregation per order."""
    from deeptime_spark.operators.layout import pin_width_for_cpu_dense

    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    # the two countDistincts make the post-exchange aggregation CPU-dense
    # (expand + two-phase agg); AQE coalesces the few-MB shuffle to 3
    # tasks — pin it at cluster width while the input is small (r12;
    # no-op at scale)
    li = pin_width_for_cpu_dense(li, "l_orderkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("ns"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("nr"),
        F.max(F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))).alias(
            "culprit"
        ),
    )
    supp = _read(spark, sf_dir, "supplier")
    return (
        per_order.where((F.col("ns") > 1) & (F.col("nr") == 1))
        .groupBy("culprit")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("culprit") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(20)
    )


@query
def _q_q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22 shape (adapted, no phone country codes): customers in
    nations 0-9 with above-average positive balance and no orders since
    2000 — scalar-subquery threshold (exact integer-cents floor average)
    + anti-join. The plan's BroadcastNestedLoopJoin is the ONE-ROW
    threshold cross join (the standard scalar-subquery shape — a single
    broadcast row against the stream, constant cost at any scale)."""
    cust = _read(spark, sf_dir, "customer").withColumn(
        "acctbal_c", F.round(F.col("c_acctbal") * 100).cast("long")
    )
    thr = (
        cust.where(F.col("acctbal_c") > 0)
        .agg(F.floor(F.sum("acctbal_c") / F.count(F.lit(1))).alias("thr_c"))
    )
    recent = _read(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        cust.join(F.broadcast(thr))
        .where((F.col("acctbal_c") > F.col("thr_c")) & (F.col("c_nationkey") < 10))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("c_nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("acctbal_c").alias("totacctbal_c"),
        )
    )


@query(bench=True, scale=True)
def _q_web_host_stats(spark, sf_dir):
    """Crawl-layer surface (operators/web.py) with a fully independent
    SQL oracle: raw URLs are synthesized deterministically from doc_id —
    identical in both engines, exercising mixed-case scheme/host, the
    default :80 port, '//' path debris, tracking parameters, and
    fragments — then normalize_url + host_stats run the real operators.
    n_urls counts DISTINCT NORMALIZED urls (the fetch-dedup identity):
    at a fixed host, doc_ids congruent mod 360 (lcm of the path/query
    residues) collapse to one canonical URL, so the count is a real
    check of the whole normalization chain, replayed verbatim in DuckDB
    (RE2-safe regexes by design — web.py module docstring)."""
    from deeptime_spark.operators.web import host_stats

    docs = _read(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTP://Site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".Example.COM:80//d//"),
        (F.col("doc_id") % 40).cast("string"),
        F.lit("/page?utm_source=x&ref=feed&id="),
        (F.col("doc_id") % 9).cast("string"),
        F.lit("#frag"),
    )
    pages = docs.select(url.alias("url"), "text")
    out = host_stats(pages)
    return out.select(
        "host",
        F.col("n_pages").cast("long").alias("n_pages"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_urls").cast("long").alias("n_urls"),
    )


@query
def _q_event_pivot(spark, sf_dir):
    """Pivot/crosstab surface: per-user event-type matrix (counts +
    integer-cent value sums) via Spark's native pivot — Catalyst rewrites
    it to ONE hash aggregation with CASE projections (no per-type scan);
    the oracle replays exactly that rewrite as FILTERed aggregates."""
    ev = _read(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.withColumn("_cents", F.round(F.col("value") * 100).cast("long"))
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_cents").alias("cents"))
    )
    sel = [F.col("user_id")]
    for t in types:
        sel.append(F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("long").alias(f"{t}_n"))
        sel.append(
            F.coalesce(F.col(f"{t}_cents"), F.lit(0)).cast("long").alias(f"{t}_cents")
        )
    return out.select(*sel)


@query(scale=True)
def _q_event_resample(spark, sf_dir):
    """Time-series resampling with GAP FILLING: per-user hourly buckets
    over each user's [first, last] hour, empty buckets emitted as zero
    rows — the downsample-and-regularize step a feature pipeline needs
    before lag/window ops. Spark-first: the dense grid is
    sequence()/explode per user (no driver loop, no cross join); the
    sparse hourly aggregate left-joins onto it. The grid is CHUNKED in
    two levels (days, then hours within each day clipped to [lo, hi])
    so no single row ever materializes one array element per hour of a
    user's lifetime — a multi-year-span user at production scale costs
    max(span_days, 24) elements per row instead of span_hours."""
    ev = _read(spark, sf_dir, "events")
    agg = (
        ev.groupBy(
            F.col("user_id"), F.date_trunc("hour", F.col("ts")).alias("bucket")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    spans = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    days = spans.select(
        "user_id",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.date_trunc("day", F.col("lo")),
                F.date_trunc("day", F.col("hi")),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    )
    grid = days.select(
        "user_id",
        F.explode(
            F.sequence(
                F.greatest(F.col("day"), F.col("lo")),
                F.least(F.col("day") + F.expr("INTERVAL 23 HOURS"), F.col("hi")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )
    return grid.join(agg, ["user_id", "bucket"], "left").select(
        "user_id",
        F.col("bucket").cast("long").alias("bucket_s"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        F.coalesce("cents", F.lit(0)).cast("long").alias("cents"),
    )


@query
def _q_event_json_stats(spark, sf_dir):
    """Semi-structured column surface: JSON path extraction
    (get_json_object, JVM-side Jackson) + typed aggregation over the
    events.props payload — no Python, no UDF; the oracle uses DuckDB's
    independent JSON parser."""
    ev = _read(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select(F.col("event_type"), k.alias("_k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_k").alias("k_sum"),
            F.min("_k").alias("k_min"),
            F.max("_k").alias("k_max"),
        )
    )


@query(scale=True)
def _q_shard_manifest(spark, sf_dir):
    """Training-shard layout audit (sources/shards.py): deterministic
    whole-document first-fit assignment into 512-token shards per source,
    then the per-shard manifest aggregation — the artifact a training
    run's data card records. The oracle replays the per-source prefix sum
    and grouping in DuckDB."""
    from deeptime_spark.sources.shards import assign_training_shards, shard_manifest

    docs = _read(spark, sf_dir, "documents")
    return shard_manifest(assign_training_shards(docs, budget=512)).select(
        "shard_key",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("shard_tokens").cast("long").alias("shard_tokens"),
        F.col("min_doc_id").cast("long").alias("min_doc_id"),
        F.col("max_doc_id").cast("long").alias("max_doc_id"),
    )


@query(bench=True, scale=True)
def _q_shards_roundtrip(spark, sf_dir):
    """Training-shard SINK/SCAN round-trip under the oracle gate
    (sources/shards.py:write_training_shards/read_training_shards):
    the corpus is physically written as one parquet file per shard plus
    the manifest, read back through the partition-column layout, and
    re-aggregated from the round-tripped ROWS — so the emitted values
    prove the on-disk artifact, not just the assignment math
    (shard_manifest covers that). ``pruned_docs`` additionally exercises
    the partition-pruned restricted read (shards=[...] -> directory
    pruning): it counts docs seen when reading ONLY the seq-0 shard of
    each source. ``manifest_match`` pins read-back == written manifest
    (1 everywhere, or the value hash fails). The oracle replays the
    deterministic assignment in DuckDB."""
    import tempfile

    from deeptime_spark.sources.shards import (
        read_manifest,
        read_training_shards,
        write_training_shards,
    )

    docs = _read(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="shards_rt_")
    out_dir = tmp + "/shards"
    try:
        # budget sized so the shard count stays moderate across sf dirs
        # (~20 at sf0.001/0.01, ~80 at sf0.1): the round-trip should
        # measure the sink/scan path, not local-FS metadata churn from
        # hundreds of one-file directories
        write_training_shards(docs, out_dir, budget=4096)
        back = read_training_shards(spark, out_dir)
        agg = back.groupBy("shard_key").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("shard_tokens"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
        )
        man = read_manifest(spark, out_dir).select(
            "shard_key",
            F.col("n_docs").alias("m_docs"),
            F.col("shard_tokens").alias("m_tokens"),
        )
        seq0 = [
            r["shard_key"]
            for r in man.select("shard_key").collect()
            if r["shard_key"].endswith("-0")
        ]
        pruned = (
            read_training_shards(spark, out_dir, shards=seq0)
            .groupBy("shard_key")
            .agg(F.count(F.lit(1)).alias("pruned_docs"))
        )
        res = (
            agg.join(man, "shard_key")
            .join(pruned, "shard_key", "left")
            .select(
                "shard_key",
                F.col("n_docs").cast("long").alias("n_docs"),
                "shard_tokens",
                "min_doc_id",
                "max_doc_id",
                (
                    (F.col("n_docs") == F.col("m_docs"))
                    & (F.col("shard_tokens") == F.col("m_tokens"))
                )
                .cast("long")
                .alias("manifest_match"),
                F.coalesce(F.col("pruned_docs"), F.lit(0))
                .cast("long")
                .alias("pruned_docs"),
            )
        )
        schema = res.schema
        rows = res.collect()
    finally:
        _rmtree_quiet(tmp)
    return _local_df(spark, rows, schema)


@query
def _q_web_extract_text(spark, sf_dir):
    """WET-style HTML->text extraction, oracle-covered end to end:
    deterministic HTML is wrapped around each document's text in BOTH
    engines (title with entity, style/script elements with content,
    comment, br/div/p structure, encoded entities), then
    extract_text_from_html runs the real operators. The whole regex
    chain is RE2-safe by design (web.py module docstring), so the DuckDB
    oracle replays it verbatim and the value hash pins every step."""
    from deeptime_spark.operators.web import extract_text_from_html

    docs = _read(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(
            " &amp; Co</title><style>p { color: red; }</style>"
            "<script>var x = 1 < 2;</script></head><body><!-- nav -->"
            "<h1>Heading</h1><p>"
        ),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p><br><div>footer &lt;end&gt;</div></body></html>"),
    )
    ext = extract_text_from_html(docs.select("doc_id", html.alias("html")))
    return ext.select("doc_id", "title", F.col("text").alias("extracted"))


@query
def _q_streaming_c4_replay(spark, sf_dir):
    """Stateless corpus-prep under Structured Streaming: replay the
    documents table as 4 micro-batches through the C4 line rules
    (operators/text.py:c4_line_filter — pure codegen projection, so
    micro-batching is invisible) and emit the same per-doc rows as the
    batch doc_c4_filter query. Batch-equivalence is ROW-FOR-ROW: the
    oracle is the batch SQL verbatim."""
    from deeptime_spark.operators.text import c4_line_filter

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    with Replay(spark) as r:
        out = c4_line_filter(
            r.source([docs.repartition(4)]),
            min_words=5,
            require_terminal_punct=False,
            min_kept_lines=1,
        ).select(
            "doc_id",
            F.md5("clean_text").alias("clean_md5"),
            "n_lines_total",
            "n_lines_kept",
            "passes_c4",
        )
        res = r.to_memory(out, "append")
        schema = res.schema
        rows = res.collect()
    return _local_df(spark, rows, schema)


@query
def _q_streaming_heavy_hitters(spark, sf_dir):
    """Misra-Gries heavy hitters under Structured Streaming
    (streaming/accumulate.py:streaming_heavy_hitters,
    applyInPandasWithState): the documents table replays as FOUR
    TIME-ORDERED doc-id-range file chunks; the stream explodes words
    with positions and per-lang state holds <=20 (item, lower-bound)
    counters + the row total across batches. The summary is a pure
    function of the processed row sequence, so the oracle replays the
    identical MG loop in doc-id order
    (oracle_ref.py:oracle_streaming_heavy_hitters)."""
    from deeptime_spark.operators.text import tokens
    from deeptime_spark.streaming.accumulate import streaming_heavy_hitters

    docs = _read(spark, sf_dir, "documents").select("lang", "doc_id", "text")
    with Replay(spark) as r:
        stream = r.source(_ordered_chunks(docs, "doc_id"))
        words = stream.select(
            "lang", "doc_id", F.posexplode(tokens("text")).alias("pos", "term")
        ).where(F.col("term") != "")
        out = streaming_heavy_hitters(words, k=20)
        final = (
            r.to_memory(out, "update")
            .groupBy("lang")
            .agg(
                F.max_by(F.struct("items", "counts"), "n").alias("_s"),
                F.max("n").alias("n_stream"),
            )
            .select(
                "lang",
                F.arrays_zip(F.col("_s.items"), F.col("_s.counts")).alias("_z"),
                "n_stream",
            )
            .select("lang", F.explode("_z").alias("_e"), "n_stream")
            .select(
                "lang",
                F.col("_e.items").alias("term"),
                F.col("_e.counts").cast("long").alias("count_lb"),
                F.col("n_stream").cast("long").alias("n_stream"),
            )
        )
        rows = final.collect()
    return _local_df(spark, 
        [
            (r["lang"], r["term"], int(r["count_lb"]), int(r["n_stream"]))
            for r in rows
        ],
        "lang string, term string, count_lb long, n_stream long",
    )


@query
def _q_streaming_hll_replay(spark, sf_dir):
    """Stateful sketching under Structured Streaming: the HLL register
    build (operators/sketches.py:hll_registers) is a plain streaming
    aggregation — min(w) per (lang, register) in complete mode — so
    replaying the documents table as 4 micro-batches must land on
    exactly the batch register state (the sketch is a commutative
    monoid; micro-batch boundaries are invisible by construction). The
    driver finish then runs on the final register relation and the
    oracle replays hash, registers, and estimate bit-for-bit
    (oracle_ref.py:oracle_streaming_hll)."""
    from deeptime_spark.operators.sketches import hll_estimate_rows, hll_registers
    from deeptime_spark.operators.text import shingles

    docs = _read(spark, sf_dir, "documents").select("lang", "text")
    with Replay(spark) as r:
        stream = r.source([docs.repartition(4)])
        regs = hll_registers(
            stream.select("lang", F.explode(shingles(F.col("text"), 5)).alias("v")),
            "v",
            ["lang"],
            p=12,
        )
        est = hll_estimate_rows(r.to_memory(regs, "complete"), ["lang"], p=12)
    rows = [
        (d["lang"], int(d["n_registers"]), round(float(d["est_distinct"]), 6))
        for d in est
    ]
    return _local_df(spark,
        rows, "lang string, n_registers long, est_distinct double"
    )


@query(bench=True, scale=True)
def _q_web_corpus_pipeline(spark, sf_dir):
    """End-to-end crawl -> training-shards composition, every stage the
    real operator and every stage replayed by the oracle: deterministic
    HTML synth -> WET-style extraction (web.py) -> C4 line rules
    (text.py) -> exact dedup with first-occurrence winners -> whole-doc
    first-fit shard assignment + manifest (sources/shards.py). The
    single 'web' shard makes the prefix sum sequential here — the demo
    corpus is one crawl source; production passes docs_per_shard (or
    real source labels) so parallelism scales with corpus size."""
    from deeptime_spark.operators.text import c4_line_filter
    from deeptime_spark.operators.web import extract_text_from_html
    from deeptime_spark.sources.shards import assign_training_shards, shard_manifest

    docs = _read(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(
            " &amp; Co</title><style>p { color: red; }</style>"
            "<script>var x = 1 < 2;</script></head><body><!-- nav -->"
            "<h1>Heading</h1><p>"
        ),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p><br><div>footer &lt;end&gt;</div></body></html>"),
    )
    ext = extract_text_from_html(docs.select("doc_id", html.alias("html")))
    cleaned = c4_line_filter(
        ext.select("doc_id", "text"),
        min_words=5,
        require_terminal_punct=False,
        min_kept_lines=1,
    )
    kept = cleaned.where(F.col("passes_c4").cast("int") == 1).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    survivors = kept.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    assigned = assign_training_shards(
        survivors.withColumn("source", F.lit("web")), budget=256
    )
    return shard_manifest(assigned).select(
        "shard_key",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("shard_tokens").cast("long").alias("shard_tokens"),
        F.col("min_doc_id").cast("long").alias("min_doc_id"),
        F.col("max_doc_id").cast("long").alias("max_doc_id"),
    )


@query(bench=True, scale=True)
def _q_event_ewma(spark, sf_dir):
    """Per-user exponentially weighted moving average of event values
    (operators/stats.py:ewma_by_key): one hash aggregate collects each
    user's (ts, event_id, value) structs, then array_sort + a codegen
    F.aggregate left fold runs s_t = 0.75*s + 0.25*x — no window sort of
    the full relation, no Python. Oracle: DuckDB list_reduce over
    list(value ORDER BY ts, event_id), the identical IEEE-754 fold."""
    from deeptime_spark.operators.stats import ewma_by_key

    ev = _read(spark, sf_dir, "events")
    return ewma_by_key(
        ev.select("user_id", "ts", "event_id", "value"),
        value_col="value",
        order_cols=["ts", "event_id"],
        group_cols=["user_id"],
        alpha=0.25,
    )


@query(bench=True, scale=True)
def _q_doc_quality_curriculum(spark, sf_dir):
    """Quality-curriculum schedule (operators/mixing.py:
    curriculum_buckets): rank documents by the composite quality score
    within each language, ntile into 5 phases (bucket 1 = highest
    quality), and emit per-phase doc/token totals plus the cumulative
    token budget phase k trains on. One per-group sort + one tiny
    aggregate; ANSI ntile, ties broken by doc_id."""
    from deeptime_spark.operators.mixing import curriculum_buckets
    from deeptime_spark.operators.text import quality_score

    docs = _read(spark, sf_dir, "documents")
    return curriculum_buckets(
        docs,
        score_col=quality_score("text"),
        n_buckets=5,
        group_cols=["lang"],
        id_col="doc_id",
    )


@query(bench=True, scale=True)
def _q_doc_postings_index(spark, sf_dir):
    """Persisted inverted-index serving path (operators/retrieval.py:
    write_postings_index / probe_postings_index): postings written
    term-bucket-partitioned (pmod(xxhash64(term), 16)), so a conjunctive
    probe's bucket set — computed with the engine-independent xxhash64
    replica — becomes a statically partition-pruned IN-filter; only the
    probed directories are read. Exact-integer output (doc_id, n_terms,
    total_tf); pure-SQL oracle recomputes the AND query from the raw
    documents table."""
    import tempfile

    from deeptime_spark.operators.retrieval import (
        probe_postings_index,
        write_postings_index,
    )

    docs = _read(spark, sf_dir, "documents")
    idx_dir = tempfile.mkdtemp(prefix="postings_idx_")
    try:
        write_postings_index(docs, idx_dir, n_buckets=16)
        out = probe_postings_index(
            spark, idx_dir, ["query", "window", "scan"], mode="and"
        )
        rows = out.collect()
    finally:
        _rmtree_quiet(idx_dir)
    return _local_df(spark, 
        [(int(r["doc_id"]), int(r["n_terms"]), int(r["total_tf"])) for r in rows],
        "doc_id long, n_terms long, total_tf long",
    )


@query(bench=True, scale=True)
def _q_corpus_overlap_kmv(spark, sf_dir):
    """Cross-source shingle-overlap estimation from KMV bottom-k
    sketches (operators/sketches.py:kmv_sketch / kmv_overlap_pairs,
    Beyer et al. SIGMOD'07): one corpus-scale distinct on (source,
    xxhash64(shingle)) + a rank-limit cut builds a k=256 sketch per
    source; the pair algebra (union bottom-k, tau, matched fraction,
    Jaccard / union-cardinality / intersection estimates) runs on the
    O(sources * k) sketch rows only. Unlike HLL this supports
    INTERSECTION estimates. Oracle: per-source sketch hashes re-derived
    with the xxhash64 replica as VALUES literals, pair algebra replayed
    independently in SQL (oracle_ref.py:oracle_corpus_overlap_kmv)."""
    from deeptime_spark.operators.sketches import kmv_overlap_pairs, kmv_sketch
    from deeptime_spark.operators.text import shingles

    docs = _read(spark, sf_dir, "documents")
    sh = docs.select(
        "source", F.explode(shingles("text", k=5)).alias("shingle")
    )
    sk = kmv_sketch(sh, "shingle", group_cols=["source"], k=256)
    return kmv_overlap_pairs(sk, "source", k=256).withColumnsRenamed(
        {"group_a": "source_a", "group_b": "source_b"}
    )


@query(bench=True, scale=True)
def _q_media_phash_pairs(spark, sf_dir):
    """Frequency-domain perceptual image dedup: same fabricated PPM
    corpus as media_ahash_pairs (every third doc a deterministic 16x16
    P6 image, every fifteenth a +7M variant with the sampled (0,0)
    pixel shifted), hashed with the fixed-point DCT pHash
    (multimodal.py:phash_bytes — int64 matmuls, so the hash is
    INTEGER-exact like aHash despite being a spectral method). Planted
    variants land at hamming <= 4 while unrelated images sit >= 20
    (measured), so the same radius-4 pigeonhole Hamming band join
    applies. Oracle replays decode + fixed-point DCT + brute pairs in
    numpy (oracle_ref.py:oracle_media_phash_pairs)."""
    from pyspark.sql.types import BinaryType

    from deeptime_spark.operators.dedup import hamming_near_pairs
    from deeptime_spark.operators.multimodal import (
        phash_images,
        synth_ppm,
        synth_ppm_variant,
    )

    @F.pandas_udf(BinaryType())
    def ppm_of(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_ppm(16, 16, seed=int(i)))

    @F.pandas_udf(BinaryType())
    def ppm_variant(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: synth_ppm_variant(16, 16, seed=int(i)))

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    base = docs.where(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("media_id"), ppm_of("doc_id").alias("payload")
    )
    variants = docs.where(F.col("doc_id") % 15 == 0).select(
        (F.col("doc_id") + F.lit(7_000_000)).alias("media_id"),
        ppm_variant("doc_id").alias("payload"),
    )
    media = base.unionByName(variants)
    sigs = phash_images(media).where("ok").select("media_id", "phash")
    pairs = hamming_near_pairs(
        sigs, id_col="media_id", sig_col="phash", max_hamming=4
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


@query(bench=True, scale=True)
def _q_doc_bpe_fertility(spark, sf_dir):
    """Tokenizer fertility audit: BPE merges trained on the corpus
    (operators/bpe.py), every document encoded, then per-LANGUAGE word
    and subword totals with fertility = bpe_tokens / words — the
    standard multilingual-tokenizer health metric (a language with
    fertility far above the corpus mean is being shredded into bytes).
    Integer sums; the single final division is mirrored verbatim by the
    oracle, which wraps the full per-doc BPE replay (oracle_bpe) in a
    lang join + group (oracle_ref.py:oracle_doc_bpe_fertility)."""
    from deeptime_spark.operators.bpe import bpe_token_counts_df, train_bpe

    docs = _read(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=120, min_count=2)
    counts = bpe_token_counts_df(docs, merges)
    return (
        counts.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_bpe_tokens",
            (
                F.col("n_bpe_tokens").cast("double")
                / F.col("n_words").cast("double")
            ).alias("fertility"),
        )
    )


# scale: blocking joins are bounded by the per-block cap; pair volume
# grows with block density, like the dedup family
@query(bench=True, scale=True)
def _q_customer_record_linkage(spark, sf_dir):
    """Blocked record linkage / entity resolution (operators/linkage.py:
    blocked_record_linkage — Fellegi-Sunter scoring over
    Christen-style blocking): the customer dimension plus a synthesized
    noisy copy of itself (last name char replaced, every 5th key's
    balance off by one cent), blocked on (nationkey, mktsegment) with
    the deterministic per-block cap, name compared by JVM levenshtein
    similarity, balance cents exactly, weight-normalized score
    thresholded at 0.9 — the clone pairs match on (name~0.94, bal=1),
    the off-by-a-cent clones drop below threshold (partial-match
    behavior pinned). All similarities are integers + one division, so
    the pure-SQL DuckDB oracle replays the pipeline bit-for-bit."""
    from deeptime_spark.operators.linkage import blocked_record_linkage

    cust = _read(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    noisy = base.select(
        (F.col("id") + F.lit(10_000_000)).alias("id"),
        F.concat(
            F.expr("substring(name, 1, length(name) - 1)"), F.lit("X")
        ).alias("name"),
        "nk",
        "seg",
        F.when(F.col("id") % 5 == 0, F.col("bal") + 1)
        .otherwise(F.col("bal"))
        .alias("bal"),
    )
    recs = base.unionByName(noisy)
    out = blocked_record_linkage(
        recs,
        id_col="id",
        block_keys=[["nk", "seg"]],
        string_fields=["name"],
        exact_fields=["bal"],
        weights={"name": 1, "bal": 2},
        threshold=0.9,
    )
    return out.select(
        "id_a",
        "id_b",
        F.round("sim_name", 6).alias("sim_name"),
        "sim_bal",
        F.round("score", 6).alias("score"),
    )


@query(bench=True, scale=True)
def _q_customer_entity_resolution(spark, sf_dir):
    """Golden-record election — the entity-resolution composition
    (linkage.blocked_record_linkage -> dedup.connected_components ->
    min-id canonical survivor, via drop_near_duplicates): the SAME
    noisy-clone fixture as customer_record_linkage, matched pairs
    union-found into entity clusters, one canonical record kept per
    cluster plus every unmatched record — the same composition the
    document pipeline uses for near-dup drop, applied to structured
    entities. Per-segment survivor counts + id/balance checksums; the
    oracle replays the pair SQL (shared constant — no drift), Python
    union-find, and a literal loser-set anti-join
    (oracle_ref.py:oracle_customer_entity_resolution)."""
    from deeptime_spark.operators.dedup import drop_near_duplicates
    from deeptime_spark.operators.linkage import blocked_record_linkage

    cust = _read(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    noisy = base.select(
        (F.col("id") + F.lit(10_000_000)).alias("id"),
        F.concat(
            F.expr("substring(name, 1, length(name) - 1)"), F.lit("X")
        ).alias("name"),
        "nk",
        "seg",
        F.when(F.col("id") % 5 == 0, F.col("bal") + 1)
        .otherwise(F.col("bal"))
        .alias("bal"),
    )
    recs = base.unionByName(noisy)
    pairs = blocked_record_linkage(
        recs,
        id_col="id",
        block_keys=[["nk", "seg"]],
        string_fields=["name"],
        exact_fields=["bal"],
        weights={"name": 1, "bal": 2},
        threshold=0.9,
    )
    golden = drop_near_duplicates(recs, pairs, id_col="id")
    return golden.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.sum("id").cast("long").alias("id_checksum"),
        F.sum("bal").cast("long").alias("bal_checksum"),
    )


@query(bench=True, scale=True)
def _q_customer_linkage_probe(spark, sf_dir):
    """Incremental entity linkage (operators/linkage.py:
    record_linkage_probe — the daily-delta face: new records probe the
    existing golden dimension, work proportional to the DELTA, master
    blocks capped): the noisy customer copy arrives as the delta batch
    and probes the day-0 master on (nationkey, mktsegment) blocks; per
    delta the BEST master match at the 0.9 threshold is elected (score
    desc, master id asc — deterministic). Clean clones match their
    original; off-by-a-cent clones are absent (insert-as-new, the SCD2
    merge's input). Pure-SQL DuckDB oracle replays blocking, scoring,
    and the per-delta election window."""
    from deeptime_spark.operators.linkage import record_linkage_probe

    cust = _read(spark, sf_dir, "customer")
    master = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    delta = master.select(
        (F.col("id") + F.lit(10_000_000)).alias("id"),
        F.concat(
            F.expr("substring(name, 1, length(name) - 1)"), F.lit("X")
        ).alias("name"),
        "nk",
        "seg",
        F.when(F.col("id") % 5 == 0, F.col("bal") + 1)
        .otherwise(F.col("bal"))
        .alias("bal"),
    )
    out = record_linkage_probe(
        master,
        delta,
        id_col="id",
        block_keys=[["nk", "seg"]],
        string_fields=["name"],
        exact_fields=["bal"],
        weights={"name": 1, "bal": 2},
        threshold=0.9,
    )
    return out.select(
        "id_delta",
        "id_master",
        F.round("sim_name", 6).alias("sim_name"),
        "sim_bal",
        F.round("score", 6).alias("score"),
    )


@query(bench=True, scale=True)
def _q_customer_k_anonymity(spark, sf_dir):
    """Re-identification-risk audit (operators/profile.py:
    k_anonymity_audit — Sweeney k-anonymity + Machanavajjhala
    l-diversity): the governance pass before publishing a dataset with
    quasi-identifiers. Quasi = (nationkey, mktsegment, balance bucket)
    — fine enough that singleton equivalence classes exist at every SF;
    sensitive = the exact balance (l-diversity = distinct balances per
    class). ONE map-combined groupBy at class cardinality + one bounded
    aggregate; all counts exact integers. Pure-SQL DuckDB oracle."""
    from deeptime_spark.operators.profile import k_anonymity_audit

    cust = _read(spark, sf_dir, "customer")
    recs = cust.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        # floor(bal/100000) — explicit FLOOR so negative balances bucket
        # identically in Spark (cast truncates) and DuckDB (// floors)
        F.floor(
            F.round(F.col("c_acctbal") * 100).cast("long")
            / F.lit(100000).cast("double")
        )
        .cast("long")
        .alias("bal_bucket"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    return k_anonymity_audit(
        recs, ["nk", "seg", "bal_bucket"], k=5, sensitive_col="bal"
    )


def _delta_entity_merge(
    master,
    delta,
    dim,
    block_keys=(("nk", "seg"),),
    threshold=0.9,
    effective_ts=1,
):
    """Shared probe -> election -> SCD2 composition behind
    customer_delta_pipeline (and its contended-delta policy pytest,
    tests/test_r12_ops.py). ``master``/``delta`` carry
    (id, name, nk, seg, bal); ``dim`` is the SCD2 snapshot of
    ``master``.

    Contention policy (pinned by test_contended_delta_collapsed): a
    delta that MATCHED a master but LOST that master's election
    (score desc, id_delta asc) is COLLAPSED — neither applied as an
    update nor inserted as a new entity. Matched-but-losing deltas are
    same-entity duplicates of the elected winner, not new entities;
    only never-matched deltas insert."""
    from deeptime_spark.operators.linkage import record_linkage_probe
    from deeptime_spark.operators.scd import scd2_merge
    from pyspark.sql import Window

    # The probe result feeds THREE consumers (the per-master election,
    # the matched-delta anti-join, and — through the update batch —
    # scd2_merge's unique-key guard aggregate); without materialization
    # the whole capped-join + levenshtein-scoring + window DAG executes
    # once per consumer (r12 profile: the guard's first() alone re-ran it
    # for 3.2 s of the query's 14 s). One eager localCheckpoint runs it
    # once — the frame is delta-sized (≤ one row per delta record), so
    # the checkpoint is bounded at any corpus scale (guide §5: cut
    # lineage of a reused intermediate instead of recomputing it).
    probe = record_linkage_probe(
        master,
        delta,
        id_col="id",
        block_keys=[list(k) for k in block_keys],
        string_fields=["name"],
        exact_fields=["bal"],
        weights={"name": 1, "bal": 2},
        threshold=threshold,
    ).localCheckpoint(eager=True)
    # per-master best delta (a master can win several deltas' elections;
    # the SCD2 batch needs ONE row per key)
    w = Window.partitionBy("id_master").orderBy(
        F.col("score").desc(), F.col("id_delta")
    )
    m2d = (
        probe.withColumn("_mrk", F.row_number().over(w))
        .where(F.col("_mrk") == 1)
        .select("id_delta", "id_master")
    )
    d_attrs = delta.select(
        F.col("id").alias("id_delta"), "name", "nk", "seg", "bal"
    )
    upd = m2d.join(d_attrs, "id_delta").select(
        F.col("id_master").alias("id"), "name", "nk", "seg", "bal"
    )
    # anti-join on ALL matched deltas (not just winners): losers are
    # collapsed per the contention policy above, not inserted
    ins = delta.join(
        probe.select("id_delta").distinct(),
        delta["id"] == F.col("id_delta"),
        "left_anti",
    ).select("id", "name", "nk", "seg", "bal")
    return scd2_merge(
        dim,
        upd.unionByName(ins),
        key="id",
        tracked=["name", "bal"],
        effective_ts=effective_ts,
    )


@query(bench=True, scale=True)
def _q_customer_delta_pipeline(spark, sf_dir):
    """The daily-delta ENTITY PIPELINE end-to-end, batch face
    (operators/linkage.py:record_linkage_probe ->
    operators/scd.py:scd2_merge): the day's new records probe the
    golden dimension (work proportional to the delta, master blocks
    capped); per master the best-scoring delta is elected (score desc,
    delta id — deterministic) and its attributes become the SCD2
    update; unmatched deltas INSERT as brand-new entities; a delta that
    matched a master but LOST its election is collapsed as a same-
    entity duplicate of the winner (neither updated nor inserted — see
    _delta_entity_merge); one Kimball type-2 merge historizes the
    dimension. Per-segment end state: entity/version/open counts +
    id/balance checksums over the open rows. Every stage is capped
    equi-joins + codegen scoring + one broadcast merge — the
    composition a 100 TB warehouse runs nightly. Pure-SQL DuckDB
    oracle replays probe, election, and merge effect."""
    cust = _read(spark, sf_dir, "customer")
    master = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    delta = master.select(
        (F.col("id") + F.lit(10_000_000)).alias("id"),
        F.concat(
            F.expr("substring(name, 1, length(name) - 1)"), F.lit("X")
        ).alias("name"),
        "nk",
        "seg",
        F.when(F.col("id") % 5 == 0, F.col("bal") + 1)
        .otherwise(F.col("bal"))
        .alias("bal"),
    )
    dim = master.withColumn("valid_from", F.lit(0).cast("long")).withColumn(
        "valid_to", F.lit(None).cast("long")
    )
    merged = _delta_entity_merge(master, delta, dim)
    return merged.groupBy("seg").agg(
        F.count_distinct("id").cast("long").alias("n_entities"),
        F.count(F.lit(1)).cast("long").alias("n_versions"),
        F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_open"),
        F.sum(F.when(F.col("valid_to").isNull(), F.col("id")))
        .cast("long")
        .alias("id_checksum"),
        F.sum(F.when(F.col("valid_to").isNull(), F.col("bal")))
        .cast("long")
        .alias("bal_checksum"),
    )


@query(bench=True)
def _q_streaming_linkage_probe(spark, sf_dir):
    """Streaming face of the incremental entity linkage (streaming/
    accumulate.py:streaming_record_linkage_probe): the SAME noisy
    customer delta as customer_linkage_probe arrives as 4 key-
    partitioned files (one micro-batch each), every batch probes the
    persisted day-0 master inside foreachBatch, matches append to
    parquet. Because the per-delta best-match election is independent
    across delta records, the union of per-batch outputs EQUALS the
    one-shot batch probe — pinned by sharing the batch query's pure-SQL
    oracle verbatim. The daily-delta entity pipeline end-to-end:
    probe -> matched updates feed streaming_scd2_merge, unmatched
    insert as new entities."""
    from deeptime_spark.streaming.accumulate import (
        streaming_record_linkage_probe,
    )

    cust = _read(spark, sf_dir, "customer")
    master = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    delta = master.select(
        (F.col("id") + F.lit(10_000_000)).alias("id"),
        F.concat(
            F.expr("substring(name, 1, length(name) - 1)"), F.lit("X")
        ).alias("name"),
        "nk",
        "seg",
        F.when(F.col("id") % 5 == 0, F.col("bal") + 1)
        .otherwise(F.col("bal"))
        .alias("bal"),
    )
    with Replay(spark) as r:
        master_dir, out_dir = r.dir("slp_master_"), r.dir("slp_out_")
        master.write.mode("overwrite").parquet(master_dir)
        r.wait(
            streaming_record_linkage_probe(
                spark,
                r.source([delta.repartition(4, F.col("id"))]),
                master_path=master_dir,
                out_path=out_dir,
                id_col="id",
                block_keys=[["nk", "seg"]],
                string_fields=["name"],
                exact_fields=["bal"],
                weights={"name": 1, "bal": 2},
                threshold=0.9,
                checkpoint=r.dir("slp_ckpt_"),
            )
        )
        res = spark.read.parquet(out_dir).select(
            "id_delta",
            "id_master",
            F.round("sim_name", 6).alias("sim_name"),
            "sim_bal",
            F.round("score", 6).alias("score"),
        )
        schema = res.schema
        rows = res.collect()
    return _local_df(spark, rows, schema)


# Not scale: the harness probe is a fixed fraction (mod 13) of the
# corpus, so the exact all-pairs truth grows k^2 by fixture
# construction; at scale the caller passes a bounded probe.
@query(bench=True)
def _q_customer_linkage_gate(spark, sf_dir):
    """Blocking pair-completeness gate (operators/linkage.py:
    linkage_blocking_gate — Christen, "Data Matching" 2012 ch. 7: pair
    completeness + reduction ratio): the linkage twin of
    dedup_candidate_quality — on a BOUNDED probe (every 13th base
    customer plus its noisy clone; the full corpus is never all-pairs),
    exact all-pairs truth at the 0.9 score threshold vs the
    (nk, seg)-blocked candidates at max_block=20, plus the over-cap
    accounting the pipeline keeps silent: how many members of hot
    blocks the deterministic cap drops from candidacy on the FULL
    relation. Caveat (same as the dedup gate): probe blocks are
    proportionally smaller than production blocks, so probe-level cap
    truncation UNDERESTIMATES full-scale truncation — which is exactly
    why n_capped_blocks / n_overcap_members are measured on the full
    relation. All counts exact integers, the two ratios single
    divisions — pure-SQL DuckDB oracle."""
    from deeptime_spark.operators.linkage import linkage_blocking_gate

    cust = _read(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    noisy = base.select(
        (F.col("id") + F.lit(10_000_000)).alias("id"),
        F.concat(
            F.expr("substring(name, 1, length(name) - 1)"), F.lit("X")
        ).alias("name"),
        "nk",
        "seg",
        F.when(F.col("id") % 5 == 0, F.col("bal") + 1)
        .otherwise(F.col("bal"))
        .alias("bal"),
    )
    recs = base.unionByName(noisy)
    probe = recs.where((F.col("id") % 10_000_000) % 13 == 0)
    out = linkage_blocking_gate(
        recs,
        id_col="id",
        block_keys=[["nk", "seg"]],
        string_fields=["name"],
        exact_fields=["bal"],
        weights={"name": 1, "bal": 2},
        threshold=0.9,
        max_block=20,
        probe_records=probe,
    )
    return out.select(
        "n_records",
        "n_probe",
        "n_probe_pairs",
        "n_exact",
        "n_candidates",
        "n_hit",
        F.round("pair_completeness", 6).alias("pair_completeness"),
        F.round("reduction_ratio", 6).alias("reduction_ratio"),
        "n_capped_blocks",
        "n_overcap_members",
    )


_ADVISOR_SPECS = [
    [["nk", "seg"]],  # the pipeline's current choice
    ["nk"],  # coarser: nation only
    ["seg"],  # coarsest: 5 mega-blocks
    [["nk", "seg"], "bal"],  # union: add exact-balance blocking
]


# Not scale, for the same reason as customer_linkage_gate.
@query(bench=True)
def _q_customer_blocking_advisor(spark, sf_dir):
    """Blocking-key ADVISOR (operators/linkage.py:blocking_key_advisor
    — the measure-then-dispatch pattern of autotune_near_dedup applied
    to Christen blocking): four candidate blocking configurations for
    the customer linkage — the pipeline's (nk, seg), the coarser nk and
    seg, and (nk, seg) unioned with exact-balance blocking — each
    evaluated against the SAME bounded-probe exact truth
    (customer_linkage_gate's fixture: every 13th base customer plus its
    noisy clone) and reported as pair_completeness / reduction_ratio /
    full-relation over-cap loss. The row a production pipeline reads to
    pick its key: acceptable completeness at the highest reduction,
    with n_overcap_members saying when the remedy is a FINER key, not a
    bigger cap. Truth is computed once and shared across candidates;
    per-candidate cost is one probe-sized blocked join + the
    map-combined cap accounting. Pure-SQL DuckDB oracle replays every
    candidate."""
    from deeptime_spark.operators.linkage import blocking_key_advisor

    cust = _read(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    noisy = base.select(
        (F.col("id") + F.lit(10_000_000)).alias("id"),
        F.concat(
            F.expr("substring(name, 1, length(name) - 1)"), F.lit("X")
        ).alias("name"),
        "nk",
        "seg",
        F.when(F.col("id") % 5 == 0, F.col("bal") + 1)
        .otherwise(F.col("bal"))
        .alias("bal"),
    )
    recs = base.unionByName(noisy)
    probe = recs.where((F.col("id") % 10_000_000) % 13 == 0)
    out = blocking_key_advisor(
        recs,
        id_col="id",
        candidate_specs=_ADVISOR_SPECS,
        string_fields=["name"],
        exact_fields=["bal"],
        weights={"name": 1, "bal": 2},
        threshold=0.9,
        max_block=20,
        probe_records=probe,
    )
    return out.select(
        "spec",
        "n_probe",
        "n_exact",
        "n_candidates",
        "n_hit",
        F.round("pair_completeness", 6).alias("pair_completeness"),
        F.round("reduction_ratio", 6).alias("reduction_ratio"),
        "n_capped_blocks",
        "n_overcap_members",
    )


@query(bench=True, scale=True)
def _q_event_skew_profile(spark, sf_dir):
    """Join-key skew diagnostic (operators/profile.py:skew_profile):
    the pre-shuffle profiling pass that sizes salting factors and AQE
    skew thresholds — one map-combined key-count aggregate (never
    row-scale), a distributed TakeOrdered for the heavy keys, exact
    integer share and skew_ratio (count x n_keys / n_rows = multiples
    of the mean bucket). Profiled on the events stream's event_type
    (the classic low-cardinality hot-key shape). Pure-SQL oracle."""
    from deeptime_spark.operators.profile import skew_profile

    ev = _read(spark, sf_dir, "events")
    out = skew_profile(ev, ["event_type"], top_n=5)
    return out.select(
        "rank", "key", "n_rows_key", "n_rows_total", "n_keys",
        F.round("share", 6).alias("share"),
        F.round("skew_ratio", 6).alias("skew_ratio"),
    )


# scale: corpus work is the one word-count aggregate BPE scales by;
# EM cost is dictionary-bound
@query(bench=True, scale=True)
def _q_doc_unigram_fertility(spark, sf_dir):
    """Unigram-LM tokenizer fertility audit (operators/bpe.py:
    train_unigram / unigram_token_counts_df — Kudo ACL'18, the
    SentencePiece default): EM + prune trained on the SAME one bounded
    word-count aggregate BPE uses (corpus-scale work = one map-combined
    shuffle; the EM is driver-side over the distinct-word table, which
    is Kudo's own formulation), every document Viterbi-encoded via a
    broadcast piece table + Arrow map, then per-language fertility =
    unigram_tokens / words next to the BPE twin. All training inputs are
    exact integers and every loop iterates sorted structures, so the
    piece table is a pure function of the word counts; the oracle
    re-derives word counts from DuckDB and replays the identical
    training + encoding code (oracle_ref.py:oracle_doc_unigram_fertility)."""
    from deeptime_spark.operators.bpe import (
        train_unigram,
        unigram_token_counts_df,
    )

    docs = _read(spark, sf_dir, "documents")
    pieces = train_unigram(docs, vocab_size=300, seed_size=1500, n_em=2)
    counts = unigram_token_counts_df(docs, pieces)
    return (
        counts.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_unigram_tokens").cast("long").alias("n_unigram_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_unigram_tokens",
            (
                F.col("n_unigram_tokens").cast("double")
                / F.col("n_words").cast("double")
            ).alias("fertility"),
        )
    )


@query
def _q_streaming_ewma(spark, sf_dir):
    """Online per-user EWMA as a custom stateful streaming operator
    (streaming/accumulate.py:streaming_ewma, applyInPandasWithState):
    the event stream replays as FOUR TIME-ORDERED file chunks, per-user
    state is one (ewma, n) scalar pair, and the row-by-row double fold
    is the identical IEEE-754 op sequence as the batch codegen fold —
    so the end-of-stream state equals ewma_by_key bit-for-bit and this
    SHARES event_ewma's pure-SQL list_reduce oracle. Final state
    recovery from the update-mode memory sink: max_by on the cumulative
    row count."""
    from deeptime_spark.streaming.accumulate import streaming_ewma

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    with Replay(spark) as r:
        out = streaming_ewma(r.source(_ordered_chunks(ev, "ts", "event_id")), alpha=0.25)
        rows = (
            r.to_memory(out, "update")
            .groupBy("user_id")
            .agg(
                F.max("n_events").cast("long").alias("n_events"),
                F.expr("max_by(ewma_value, n_events)").alias("ewma_value"),
            )
            .collect()
        )
    return _local_df(spark, 
        [
            (int(r["user_id"]), int(r["n_events"]), float(r["ewma_value"]))
            for r in rows
        ],
        "user_id long, n_events long, ewma_value double",
    )


# scale: replica clone families multiply the qualifying pairs
@query(bench=True, scale=True)
def _q_doc_setsim_pairs(spark, sf_dir):
    """EXACT token-set Jaccard self-join at 0.8 via prefix filtering
    (operators/dedup.py:ppjoin_pairs, Chaudhuri ICDE'06 / Xiao WWW'08)
    over one source shard — the deterministic counterpart of the
    MinHash pipeline: candidates come from an equi-join on each
    document's RAREST tokens (global-df order), pruned by the integer
    length filter, verified by exact JVM set algebra. Every comparison
    is integer (100*i >= 80*u), so the pure-SQL oracle replays the join
    decision-for-decision; jaccard is the one final division."""
    from deeptime_spark.operators.dedup import ppjoin_pairs

    docs = _read(spark, sf_dir, "documents").where(F.col("source") == "src0")
    return ppjoin_pairs(docs, threshold_pct=80)


@query(bench=True, scale=True)
def _q_dedup_recall_gate(spark, sf_dir):
    """Dedup candidate-generation quality gate
    (operators/dedup.py:dedup_candidate_quality) — the dedup twin of the
    ANN recall gate: MinHash-LSH banding over TOKEN sets (64 hashes, 16
    bands of 4 — S-curve match probability 0.988 at the 0.7 threshold)
    measured against the EXACT token-Jaccard >= 0.7 pair set from the
    prefix-filter self-join (ppjoin_pairs). Recall = qualifying pairs the
    bands surfaced; precision = candidates that qualify. One summary row;
    the two pair relations are candidate-scale, so the gate costs two
    broadcast joins at any corpus size. Oracle replays both pair sets
    (prefix-filter replica + murmur3/xxhash64 banding replicas) and the
    counts (oracle_ref.py:oracle_dedup_recall_gate)."""
    from deeptime_spark.operators.dedup import (
        dedup_candidate_quality,
        minhash_lsh_candidates,
        ppjoin_pairs,
    )

    docs = _read(spark, sf_dir, "documents").where(F.col("source") == "src0")
    exact = ppjoin_pairs(docs, threshold_pct=70)
    cands = minhash_lsh_candidates(
        docs, n_hashes=64, bands=16, unit="words", with_est=False
    )
    return dedup_candidate_quality(cands, exact)


@query(bench=True, scale=True, dispatch=True)
def _q_event_bfs(spark, sf_dir):
    """Multi-source BFS hop distances (operators/graph.py:bfs_distances)
    on a sparse 4001-node event multigraph (undirected): frontier
    expansion as a DataFrame loop — per round one frontier join against
    the deduplicated edge relation + one anti-join against the reached
    set, frames broadcast below the node threshold, frontiers
    localCheckpointed. Unique fixed point; the oracle replays the same
    BFS densely in Python (oracle_ref.py:oracle_event_bfs)."""
    from deeptime_spark.operators.graph import bfs_distances

    ev = _read(spark, sf_dir, "events").select("event_id")
    edges = ev.select(
        (F.col("event_id") % 4001).alias("src"),
        ((F.col("event_id") * 31 + F.expr("event_id div 4001")) % 4001).alias(
            "dst"
        ),
    ).where(F.col("src") != F.col("dst"))
    out = bfs_distances(edges, sources=[0, 1, 2], max_depth=20)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("dist").cast("long").alias("dist"),
    )


@query(bench=True, scale=True)
def _q_doc_setsim_drop(spark, sf_dir):
    """Exact-join dedup composition: PPJoin pairs at 0.8
    (dedup.py:ppjoin_pairs) -> connected components -> keep the min-id
    canonical per cluster (dedup.py:drop_near_duplicates — the same
    composition the MinHash pipeline uses, with the probabilistic
    candidate stage swapped for the exact prefix-filter join). Per-lang
    survivor tallies + checksums; the oracle recomputes the pairs in
    SQL, union-finds the clusters in Python, and aggregates survivors
    independently (oracle_ref.py:oracle_doc_setsim_drop)."""
    from deeptime_spark.operators.dedup import drop_near_duplicates, ppjoin_pairs

    docs = _read(spark, sf_dir, "documents").where(F.col("source") == "src0")
    pairs = ppjoin_pairs(docs, threshold_pct=80)
    kept = drop_near_duplicates(docs, pairs)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("n_chars").cast("long").alias("chars_kept"),
    )


@query(bench=True, scale=True)
def _q_event_kmv_rollup(spark, sf_dir):
    """Mergeable QUANTILE-sketch rollup — the bottom-k twin of
    doc_hll_rollup: per-(event_type, day) content-addressed bottom-k
    samples (sketches.py:bottomk_sample) are written as a
    day-partitioned parquet sketch table (≤ k rows per group per day at
    ANY corpus size), read back, and monoid-merged by re-applying
    bottom-k to the union — EXACTLY the bottom-k of the full data
    (any union-bottom-k row is bottom-k in its own day), so the rollup
    is bit-identical to a one-shot sketch with no history rescan.
    Nearest-rank quantiles over integer cents make every output cell
    exact; the oracle replays hash + cut + quantiles in Python
    (oracle_ref.py:oracle_event_kmv_rollup)."""
    import tempfile

    from deeptime_spark.operators.sketches import (
        bottomk_rollup_quantiles,
        bottomk_sample,
    )

    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        F.pmod(F.col("event_id"), F.lit(7)).alias("day"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = bottomk_sample(
        ev, "event_id", ["event_type", "day"], k=256, payload_cols=["event_id", "cents"]
    )
    d = tempfile.mkdtemp(prefix="kmv_rollup_")
    try:
        daily.write.mode("overwrite").partitionBy("day").parquet(d)
        stored = spark.read.parquet(d).drop("day")
        out = bottomk_rollup_quantiles(
            stored, "event_id", "cents", ["event_type"], k=256
        )
        rows = out.collect()
    finally:
        _rmtree_quiet(d)
    return _local_df(spark, 
        [
            (
                r["event_type"],
                int(r["n_sample"]),
                int(r["q25"]),
                int(r["q50"]),
                int(r["q75"]),
                int(r["q90"]),
            )
            for r in rows
        ],
        "event_type string, n_sample long, q25 long, q50 long, q75 long, q90 long",
    )


@query
def _q_streaming_kmv_rollup(spark, sf_dir):
    """Online bottom-k quantile sketch as a custom stateful streaming
    operator (streaming/accumulate.py:streaming_bottomk_quantiles): the
    event stream replays as FOUR file chunks and per-type state holds
    the current k smallest (hash, key, value) triples — bounded at k.
    Because the sample is content-addressed, the end-of-stream state
    equals the batch bottom-k for ANY chunking (no in-order contract at
    all, unlike CUSUM/EWMA), so this SHARES event_kmv_rollup's oracle.
    Final state from the update-mode sink: max_by on the strictly
    increasing rows-seen counter."""
    from deeptime_spark.streaming.accumulate import streaming_bottomk_quantiles

    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    with Replay(spark) as r:
        # content-addressed sample: chunk boundaries are irrelevant, so
        # a plain modulo split suffices
        stream = r.source(
            [ev.where(F.pmod(F.col("event_id"), F.lit(4)) == i).coalesce(1) for i in range(4)]
        )
        rows = (
            r.to_memory(streaming_bottomk_quantiles(stream, k=256), "update")
            .groupBy("event_type")
            .agg(
                *[
                    F.expr(f"max_by({c}, n_seen)").alias(c)
                    for c in ("n_sample", "q25", "q50", "q75", "q90")
                ]
            )
            .collect()
        )
    return _local_df(spark, 
        [
            (
                r["event_type"],
                int(r["n_sample"]),
                int(r["q25"]),
                int(r["q50"]),
                int(r["q75"]),
                int(r["q90"]),
            )
            for r in rows
        ],
        "event_type string, n_sample long, q25 long, q50 long, q75 long, q90 long",
    )


@query(bench=True, scale=True)
def _q_jsonl_roundtrip(spark, sf_dir):
    """JSONL sink/scan round-trip (sources/readers.py:write_corpus_jsonl
    / read_corpus_jsonl): the corpus is written as gzipped JSON-Lines
    partitioned by source (the LLM-corpus interchange layout — newlines
    inside text survive via JSON escaping), read back with an explicit
    schema, and audited per language: doc count, char sum, and the
    count of distinct text md5s — byte fidelity through the codec.
    The oracle computes the same audit from the raw parquet, so any
    serialization loss (escaping, encoding, truncation) hash-fails."""
    import tempfile

    from deeptime_spark.sources.readers import (
        read_corpus_jsonl,
        write_corpus_jsonl,
    )

    docs = _read(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="jsonl_corpus_")
    try:
        write_corpus_jsonl(docs, d, partition_col="source", compression="gzip")
        back = read_corpus_jsonl(
            spark, d, schema="doc_id long, text string, lang string, n_chars long"
        )
        rows = (
            back.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.length("text")).cast("long").alias("chars_total"),
                F.count_distinct(F.md5("text")).alias("n_distinct_texts"),
                F.sum("doc_id").cast("long").alias("id_checksum"),
            )
            .collect()
        )
    finally:
        _rmtree_quiet(d)
    return _local_df(spark, 
        [
            (
                r["lang"],
                int(r["n_docs"]),
                int(r["chars_total"]),
                int(r["n_distinct_texts"]),
                int(r["id_checksum"]),
            )
            for r in rows
        ],
        "lang string, n_docs long, chars_total long, n_distinct_texts long, id_checksum long",
    )


@query(bench=True, scale=True)
def _q_event_top_paths(spark, sf_dir):
    """Behavioral path mining: the top-20 three-step event-type
    sequences across users (two lead() windows over the per-user time
    order + one count aggregate + TakeOrdered) — the free-form
    counterpart of the fixed-funnel query, and the n-gram view of the
    MSM transition counts. Exact integer counts; ties break to the
    lexicographically smallest path in both engines."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("e0"),
            F.lead("event_type", 1).over(w).alias("e1"),
            F.lead("event_type", 2).over(w).alias("e2"),
        )
        .where(F.col("e2").isNotNull())
        .select(F.concat_ws(">", "e0", "e1", "e2").alias("path"))
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("path"))
        .limit(20)
    )


@query(bench=True, scale=True)
def _q_corpus_global_shuffle(spark, sf_dir):
    """Deterministic global corpus shuffle (operators/mixing.py:
    global_shuffle): every document gets a shard in [0,4) and a dense
    0-based position within its shard under a content-addressed
    xxhash64 permutation — the shuffle-before-sharding step SGD
    training requires. Scale shape: NOT one window per shard (that
    funnels the corpus through n_shards tasks) but the two-level
    prefix-sum — rows hash into 4x16 sub-buckets, exclusive offsets
    come from a window over the TINY (shard,bucket) count aggregate,
    and the per-row rank window has shard*bucket parallelism. Oracle
    replays the placement with the engine-independent XXH64 replica
    (oracle_ref.py:oracle_corpus_global_shuffle)."""
    from deeptime_spark.operators.mixing import global_shuffle

    docs = _read(spark, sf_dir, "documents")
    return global_shuffle(docs, n_shards=4, salt=7, n_buckets=16).select(
        "doc_id",
        F.col("shard").cast("long").alias("shard"),
        F.col("pos").cast("long").alias("pos"),
    )


@query(bench=True, scale=True)
def _q_embedding_sq8_recall(spark, sf_dir):
    """Scalar-int8 quantization gate (operators/similarity.py:
    sq8_quantize/sq8_topk): the corpus is quantized to 1 byte/dim (one
    wide min/max aggregate, floor(x+0.5) codes — engine-independent
    rounding), scanned as on-the-fly reconstructions, and the recall@5
    of the SQ8 ranking vs the exact float cosine top-5 is reported per
    query — the standard acceptance test before switching a serving
    index to the 4x-smaller format. Oracle replays quantizer, codes,
    reconstruction, and both rankings float-op-for-float-op
    (oracle_ref.py:oracle_embedding_sq8_recall)."""
    from deeptime_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        sq8_topk,
    )

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5).localCheckpoint(eager=True)
    return ann_recall(sq8_topk(emb, queries, k=5), exact)


@query(bench=True, scale=True)
def _q_embedding_mmr_rerank(spark, sf_dir):
    """Maximal-Marginal-Relevance diversified rerank
    (operators/similarity.py:mmr_rerank, Carbonell & Goldstein
    SIGIR'98): top-20 exact-cosine pool per query, greedy lambda=0.7
    selection of 5 — the near-dup-suppressing pass between retrieval
    and context assembly. Candidate vectors ride a broadcast join
    (queries x pool rows); the bounded greedy runs as one Arrow
    applyInPandas per query group, so queries parallelize and the
    corpus is scanned exactly once. Oracle replays pool + greedy with
    identical numpy reductions
    (oracle_ref.py:oracle_embedding_mmr_rerank)."""
    from deeptime_spark.operators.similarity import mmr_rerank

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = mmr_rerank(emb, queries, k=5, pool=20, lam=0.7)
    return out.select(
        "query_id",
        "vec_id",
        F.col("mmr_rank").cast("long").alias("mmr_rank"),
        F.round("relevance", 6).alias("relevance"),
        F.round("mmr_score", 6).alias("mmr_score"),
    )


@query(bench=True, scale=True)
def _q_doc_temperature_mixture(spark, sf_dir):
    """Temperature-scaled domain mixture (operators/mixing.py:
    temperature_mixture, the mT5/XLM-R multilingual sampling rule
    q_d ∝ p_d^(1/T), T=2): per-source observed vs scaled target share
    and the realizing down-sampling rate. T=2 makes the power an
    IEEE-exact sqrt, and the rate is computed z-free (the normalizer
    cancels), so every column except the round-6 target_share is
    bit-exact; one aggregation pass + domain-count-sized windows.
    Pure-SQL DuckDB oracle — no replica."""
    from deeptime_spark.operators.mixing import temperature_mixture

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text", "source")
    out = temperature_mixture(docs, temperature=2.0)
    return out.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_tokens",
        "observed_share",
        F.round("target_share", 6).alias("target_share"),
        "sampling_rate",
    )


@query(bench=True, scale=True)
def _q_event_betweenness(spark, sf_dir):
    """Pivot-sampled betweenness centrality (operators/graph.py:
    betweenness_centrality — Brandes 2001 dependency accumulation from
    8 content-addressed pivots, the Brandes-Pich estimator) on the
    211-node event link graph. All pivots advance in ONE
    (pivot, node)-keyed frontier: the forward BFS is O(diameter) jobs
    total with integer-exact path counts, the backward sweep one
    broadcast join per depth, and exact all-pairs (O(|V|·|E|)) is never
    attempted — pivot sampling IS the 100 TB plan. Oracle replays
    pivot choice (XXH64 replica) and the per-pivot accumulation
    (oracle_ref.py:oracle_event_betweenness)."""
    from deeptime_spark.operators.graph import betweenness_centrality

    ev = _read(spark, sf_dir, "events").select("event_id")
    edges = ev.select(
        (F.col("event_id") % 211).alias("src"),
        ((F.col("event_id") * 31 + F.expr("event_id div 211")) % 211).alias(
            "dst"
        ),
    ).where(F.col("src") != F.col("dst"))
    bc = betweenness_centrality(edges, n_pivots=8, directed=False)
    return bc.select("node", F.round("betweenness", 6).alias("betweenness"))


@query(bench=True, scale=True)
def _q_event_harmonic(spark, sf_dir):
    """Pivot-sampled harmonic centrality (operators/graph.py:
    harmonic_centrality — the public CommonCrawl host-quality signal;
    Boldi & Vigna 2014) on the 211-node event link graph: 8 content-
    addressed pivots, one batched (pivot,node) BFS — O(diameter) jobs
    total — then the (n/k)-scaled Σ 1/d per node. Exact all-pairs
    distances are never attempted. Oracle replays pivots + BFS
    (oracle_ref.py:oracle_event_harmonic)."""
    from deeptime_spark.operators.graph import harmonic_centrality

    ev = _read(spark, sf_dir, "events").select("event_id")
    edges = ev.select(
        (F.col("event_id") % 211).alias("src"),
        ((F.col("event_id") * 31 + F.expr("event_id div 211")) % 211).alias(
            "dst"
        ),
    ).where(F.col("src") != F.col("dst"))
    hc = harmonic_centrality(edges, n_pivots=8, directed=False)
    return hc.select("node", F.round("harmonic", 6).alias("harmonic"))


@query(bench=True, scale=True, dispatch=True)
def _q_event_clustering_coeff(spark, sf_dir):
    """Per-node local clustering coefficient (operators/graph.py:
    clustering_coefficients — Watts & Strogatz 1998) on the 997-nodes-
    per-block event graph: triangles from the degree-ordered O(m^1.5)
    wedge join, degree one hash aggregate, the coefficient a single
    double division of exact integers (bit-reproducible). PURE-SQL
    oracle extends the event_triangles join algebra with the degree
    aggregate."""
    from deeptime_spark.operators.graph import clustering_coefficients

    ev = _read(spark, sf_dir, "events").select("event_id")
    block = F.expr("event_id div 10000000") * 997
    edges = ev.select(
        (F.col("event_id") % 997 + block).alias("src"),
        (
            (F.col("event_id") * 31 + F.expr("event_id div 997")) % 997 + block
        ).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    return clustering_coefficients(edges)


@query(bench=True, scale=True)
def _q_event_assortativity(spark, sf_dir):
    """Degree assortativity (operators/graph.py:degree_assortativity —
    Newman PRL 2002, the Pearson correlation of endpoint degrees over
    the symmetrized undirected edge set) on the 997-nodes-per-block
    event graph. All moments are exact BIGINT sums (degrees are
    counts); the finalize is a handful of scalar IEEE ops on one
    bounded row. PURE-SQL oracle computes the identical sums and
    scalar chain."""
    from deeptime_spark.operators.graph import degree_assortativity

    ev = _read(spark, sf_dir, "events").select("event_id")
    block = F.expr("event_id div 10000000") * 997
    edges = ev.select(
        (F.col("event_id") % 997 + block).alias("src"),
        (
            (F.col("event_id") * 31 + F.expr("event_id div 997")) % 997 + block
        ).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    out = degree_assortativity(edges)
    return out.select(
        "n_nodes", "n_edges", F.round("assortativity", 6).alias("assortativity")
    )


@query(bench=True, scale=True)
def _q_doc_ngram_diversity(spark, sf_dir):
    """Corpus diversity gate (operators/text.py:distinct_ngram_diversity
    — distinct-n of Li et al. NAACL'16; n=1 is type-token ratio): per
    source, unique/total n-gram ratios for n=1,2,3 — the degenerate-
    corpus detector a pipeline runs on every new source (templated or
    model-generated text collapses distinct-2/3 first). One codegen
    lookahead-regex explode per n into a partial-distinct aggregate;
    exact integer counts, ratios as single divisions. Pure-SQL DuckDB
    oracle."""
    from deeptime_spark.operators.text import distinct_ngram_diversity

    docs = _read(spark, sf_dir, "documents").select("text", "source")
    return distinct_ngram_diversity(docs, ns=(1, 2, 3))


@query(bench=True, scale=True)
def _q_embedding_rp_recall(spark, sf_dir):
    """Johnson-Lindenstrauss projection gate (operators/similarity.py:
    random_projection/rp_topk): corpus and queries projected 64->16
    dims by the same seeded Gaussian (one Arrow gemm per batch — no
    trained state to persist), ranked by cosine in the projected
    space, recall@5 reported against the full-dimension baseline —
    completing the compression family next to IVF-PQ and SQ8. Oracle
    replays the gemm and both rankings
    (oracle_ref.py:oracle_embedding_rp_recall)."""
    from deeptime_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        rp_topk,
    )

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5).localCheckpoint(eager=True)
    return ann_recall(rp_topk(emb, queries, k=5, out_dim=16), exact)


@query(bench=True, scale=True)
def _q_orders_constraint_audit(spark, sf_dir):
    """Declarative data-quality audit (operators/profile.py:
    constraint_audit — the dbt-test/Great-Expectations publish gate):
    six constraints over the orders fact — PK uniqueness, FK to
    customer (left-anti count), not-null, a price range, an enum
    check, and a deliberately-failing probe (order priorities limited
    to two values) so the relation shows a non-zero violation row. All
    scalar checks fold into ONE wide conditional aggregate (single
    scan); exact integer counts. Pure-SQL DuckDB oracle."""
    from deeptime_spark.operators.profile import constraint_audit

    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    return constraint_audit(
        orders,
        [
            ("orderkey_unique", "unique", "o_orderkey"),
            ("custkey_not_null", "not_null", "o_custkey"),
            ("custkey_fk_customer", "foreign_key", ("o_custkey", customer, "c_custkey")),
            ("totalprice_positive", "range", ("o_totalprice", 0.0, 1e9)),
            ("status_enum", "accepted_values", ("o_orderstatus", ["F", "O", "P"])),
            ("priority_two_values", "accepted_values", ("o_orderpriority", ["1-URGENT", "2-HIGH"])),
        ],
    )


@query(bench=True, scale=True)
def _q_customer_scd2_merge(spark, sf_dir):
    """SCD Type-2 dimension maintenance (operators/scd.py:scd2_merge —
    Kimball historized dimensions, the warehouse-side twin of the
    fact-side incremental dedup index): the customer table is treated
    as the day-0 open snapshot (valid_from 0, valid_to NULL) and a
    deterministic daily delta is synthesized from it — every custkey
    divisible by 7 gets +100 account balance, every one divisible by
    11 changes market segment, plus one brand-new key — then merged at
    effective_ts 1. One broadcast join + null-safe column comparison +
    a four-way union; re-running the batch is a no-op (idempotent).
    Output: per-version rows (custkey, acctbal cents, segment,
    valid_from, valid_to). Pure-SQL DuckDB oracle replays the merge
    set algebra."""
    from deeptime_spark.operators.scd import scd2_merge

    cust = _read(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    upd_base = cust.select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
        F.col("c_mktsegment").alias("segment"),
    )
    changed = upd_base.where(
        (F.col("c_custkey") % 7 == 0) | (F.col("c_custkey") % 11 == 0)
    ).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 7 == 0, F.col("acctbal_cents") + 10000
        ).otherwise(F.col("acctbal_cents")).alias("acctbal_cents"),
        F.when(F.col("c_custkey") % 11 == 0, F.lit("MACHINERY")).otherwise(
            F.col("segment")
        ).alias("segment"),
    )
    # the brand-new key is DERIVED (max+1) so it can never collide with
    # a real custkey at any scale factor (TPC-H keys grow with SF)
    mx = int(cust.agg(F.max("c_custkey")).first()[0])
    new_row = _local_df(spark, 
        [(mx + 1, 1000, "BUILDING")],
        "c_custkey long, acctbal_cents long, segment string",
    )
    updates = changed.unionByName(new_row)
    merged = scd2_merge(
        dim, updates, key="c_custkey",
        tracked=["acctbal_cents", "segment"], effective_ts=1,
    )
    return merged.select(
        "c_custkey", "acctbal_cents", "segment", "valid_from", "valid_to"
    )


@query(bench=True)
def _q_streaming_scd2_merge(spark, sf_dir):
    """Streaming face of the SCD2 dimension merge (streaming/
    accumulate.py:streaming_scd2_merge): the customer day-0 snapshot
    seeds a versioned parquet dimension, the SAME deterministic delta
    the batch query synthesizes streams in as 4 key-partitioned files
    (one micro-batch each, so every key's update arrives exactly once),
    and foreachBatch applies scd2_merge per batch — v{n} -> v{n+1}, so
    failure replay rewrites the identical snapshot. Output is the
    ORDER-INSENSITIVE end state (per key: version count, open-row
    count, open attributes) — identical to composing the batch merge,
    which is what the pure-SQL oracle computes; the per-version
    timestamps depend on file arrival order and are deliberately not
    part of the contract."""
    import glob

    from deeptime_spark.streaming.accumulate import streaming_scd2_merge

    cust = _read(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    upd_base = cust.select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
        F.col("c_mktsegment").alias("segment"),
    )
    changed = upd_base.where(
        (F.col("c_custkey") % 7 == 0) | (F.col("c_custkey") % 11 == 0)
    ).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 7 == 0, F.col("acctbal_cents") + 10000
        ).otherwise(F.col("acctbal_cents")).alias("acctbal_cents"),
        F.when(F.col("c_custkey") % 11 == 0, F.lit("MACHINERY")).otherwise(
            F.col("segment")
        ).alias("segment"),
    )
    mx = int(cust.agg(F.max("c_custkey")).first()[0])
    new_row = _local_df(spark, 
        [(mx + 1, 1000, "BUILDING")],
        "c_custkey long, acctbal_cents long, segment string",
    )
    updates = changed.unionByName(new_row)
    with Replay(spark) as r:
        # hash-partition on the key: each key lands in exactly one of
        # the 4 files = one micro-batch (the per-batch unique-key guard)
        stream = r.source([updates.repartition(4, F.col("c_custkey"))])
        dim_dir = r.dir("sscd_dim_")
        dim.write.mode("overwrite").parquet(f"{dim_dir}/v0")
        r.wait(
            streaming_scd2_merge(
                spark,
                stream,
                key="c_custkey",
                tracked=["acctbal_cents", "segment"],
                dim_path=dim_dir,
                checkpoint=r.dir("sscd_ckpt_"),
            )
        )
        latest = max(
            int(p.rsplit("/v", 1)[1]) for p in glob.glob(f"{dim_dir}/v*")
        )
        final = spark.read.parquet(f"{dim_dir}/v{latest}")
        open_rows = final.where(F.col("valid_to").isNull()).select(
            "c_custkey",
            F.col("acctbal_cents").alias("open_acctbal_cents"),
            F.col("segment").alias("open_segment"),
        )
        rows = (
            final.groupBy("c_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_versions"),
                F.sum(
                    F.when(F.col("valid_to").isNull(), 1).otherwise(0)
                ).alias("n_open"),
            )
            .join(open_rows, "c_custkey")
            .collect()
        )
    return _local_df(spark, 
        [
            (
                int(r["c_custkey"]),
                int(r["n_versions"]),
                int(r["n_open"]),
                int(r["open_acctbal_cents"]),
                r["open_segment"],
            )
            for r in rows
        ],
        "c_custkey long, n_versions long, n_open long, "
        "open_acctbal_cents long, open_segment string",
    )


@query(bench=True, scale=True)
def _q_dedup_threshold_sweep(spark, sf_dir):
    """Dedup threshold-tuning curve (operators/dedup.py:
    dedup_threshold_sweep): qualifying token-Jaccard pair counts at
    50/60/70/80/90% over the src0 slice — ONE exact prefix-filter
    self-join at the loosest threshold (every tighter threshold's
    pairs are a subset) + one wide integer-predicate aggregate, never
    a join per threshold. The curve is what fixes the production
    threshold and the MinHash band geometry. Pure-SQL DuckDB oracle
    replays join + bucketing with the same integer comparisons."""
    from deeptime_spark.operators.dedup import dedup_threshold_sweep

    docs = _read(spark, sf_dir, "documents").where(F.col("source") == "src0")
    return dedup_threshold_sweep(docs, thresholds=(50, 60, 70, 80, 90))


# scale: clone density rises with k by construction, so the probe
# measurement and the fallback PPJoin both scale with dup saturation
@query(bench=True, scale=True)
def _q_corpus_tuned_dedup(spark, sf_dir):
    """Auto-tuned near-dedup dispatch (operators/dedup.py:
    autotune_near_dedup — measure, then dispatch, the empirical-crossover
    policy of deeptime's covariance moment kernel): the S-curve picks
    (16 bands x 4 rows) for the 0.7 token-Jaccard target, the
    candidate-quality gate MEASURES that banding's recall on the corpus,
    and the pipeline dispatches — banding+exact-verify above the 0.9
    recall floor, the exact PPJoin pair set below it. The fixture is the
    src0 slice cloned x4 (the clone-saturation regime: max_bucket=32
    band buckets overflow and banding recall collapses, so the dispatch
    MUST fall back and report pipeline_recall 1.0 >= floor). One summary
    row incl. the chosen path's qualifying pair count; the oracle
    replays banding choice, both pair sets, gate counts and decision
    (oracle_ref.py:oracle_corpus_tuned_dedup)."""
    from deeptime_spark.operators.dedup import autotune_near_dedup

    docs = _read(spark, sf_dir, "documents").where(
        F.col("source") == "src0"
    ).select("doc_id", "text")
    cloned = docs
    for j in range(1, 4):
        cloned = cloned.unionByName(
            docs.select(
                (F.col("doc_id") + F.lit(j * 10_000_000)).alias("doc_id"),
                "text",
            )
        )
    pairs, report = autotune_near_dedup(
        cloned, threshold_pct=70, recall_floor=0.9, n_hashes=64, max_bucket=32
    )
    n_pairs = pairs.count()
    return report.withColumn("n_pairs", F.lit(int(n_pairs)).cast("long"))


# scale: the probe (10 docs/source) stays fixed while the corpus
# replicates; only the chosen path's corpus work grows
@query(bench=True, scale=True)
def _q_corpus_tuned_dedup_probe(spark, sf_dir):
    """Bounded-probe face of the tuned dedup dispatch (operators/
    dedup.py:autotune_near_dedup with ``probe_docs``) — the 100 TB
    shape: the recall measurement's exact PPJoin runs on a
    ``mixing.group_sample`` probe (10 docs per source, content-
    addressed, any engine replays membership) and the FULL corpus is
    never PPJoined — the corpus-side work is banding + exact verify
    only. The report carries n_probe_docs / n_corpus_docs so the
    probe ≪ corpus shape is pinned, plus the measured probe_recall —
    the cap-underestimation caveat's number (probe buckets are
    proportionally smaller, so probe recall can only over-estimate;
    on this uncloned corpus both probe and corpus sit above the
    floor, so the decision matches the full measurement). Oracle
    replays sampling, gate, dispatch, and the corpus-wide verified
    pair count (oracle_ref.py:oracle_corpus_tuned_dedup_probe)."""
    from deeptime_spark.operators.dedup import autotune_near_dedup
    from deeptime_spark.operators.mixing import group_sample

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    # the probe frame feeds THREE consumers (the exact PPJoin, the probe
    # banding, and its own count); localCheckpoint runs the group_sample
    # window once — the probe is bounded (10 docs/source) so the
    # materialization is O(sources), never corpus-scale (guide §5)
    probe = group_sample(
        docs, n_per_group=10, group_cols=["source"], key_col="doc_id"
    ).select("doc_id", "text").localCheckpoint(eager=True)
    corpus = docs.select("doc_id", "text")
    pairs, report = autotune_near_dedup(
        corpus,
        threshold_pct=70,
        recall_floor=0.9,
        n_hashes=64,
        probe_docs=probe,
    )
    n_pairs = pairs.count()
    n_probe = probe.count()
    n_corpus = corpus.count()
    return (
        report.withColumn("n_probe_docs", F.lit(int(n_probe)).cast("long"))
        .withColumn("n_corpus_docs", F.lit(int(n_corpus)).cast("long"))
        .withColumn("n_pairs", F.lit(int(n_pairs)).cast("long"))
    )


@query(bench=True, scale=True)
def _q_doc_group_sample(spark, sf_dir):
    """Deterministic per-group sample (operators/mixing.py:
    group_sample): the 5 smallest-hash docs per (source, lang) cell —
    the eyeball-audit/labeling-export primitive. Content-addressed
    bottom-k, so reruns and engines agree row-for-row and larger
    samples nest; one per-group window, group count = parallelism.
    Oracle replays the xxhash64 bottom-k in Python literals
    (oracle_ref.py:oracle_doc_group_sample)."""
    from deeptime_spark.operators.mixing import group_sample

    docs = _read(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    out = group_sample(docs, n_per_group=5, group_cols=["source", "lang"])
    return out.select("source", "lang", "doc_id", "sample_rank")


@query(bench=True)
def _q_streaming_constraint_audit(spark, sf_dir):
    """Streaming data-quality monitor (streaming/accumulate.py:
    streaming_constraint_totals): the orders table replayed as a
    4-file stream, five constraints as map-only per-row flags (the FK
    rides a stream-static left-outer join against customer) into ONE
    complete-mode global aggregate — end-of-stream state equals the
    batch constraint_audit counts row-for-row, so the BATCH oracle
    serves both (same SQL minus the non-streamable unique row)."""
    from deeptime_spark.streaming.accumulate import streaming_constraint_totals

    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    cons = [
        ("custkey_not_null", "not_null", "o_custkey"),
        ("custkey_fk_customer", "foreign_key", ("o_custkey", customer, "c_custkey")),
        ("totalprice_positive", "range", ("o_totalprice", 0.0, 1e9)),
        ("status_enum", "accepted_values", ("o_orderstatus", ["F", "O", "P"])),
        ("priority_two_values", "accepted_values", ("o_orderpriority", ["1-URGENT", "2-HIGH"])),
    ]
    with Replay(spark) as r:
        totals = streaming_constraint_totals(r.source([orders.repartition(4)]), cons)
        row = r.to_memory(totals, "complete").first()
    kinds = {name: kind for name, kind, _ in cons}
    rows = [
        (name, kinds[name], int(row["_n"]), int(row[name] or 0),
         int(row[name] or 0) == 0)
        for name, _, _ in cons
    ]
    return _local_df(spark, 
        rows,
        "constraint string, kind string, n_rows long, "
        "n_violations long, pass boolean",
    )


def _blocking_advisor_oracle_sql(cap: int = 20) -> str:
    """Pure-SQL replica of customer_blocking_advisor: the gate oracle's
    base/recs/probe/truth CTEs, then per candidate configuration the
    capped per-spec block pairs (unioned distinct), the full-relation
    cap accounting, and the two ratios — one SELECT per candidate,
    UNION ALL'd. Generated from the same _ADVISOR_SPECS list the Spark
    query passes, so the census of candidates can never drift."""
    blks, cands, selects = [], [], []
    for i, candidate in enumerate(_ADVISOR_SPECS):
        specs = [candidate] if isinstance(candidate, str) else list(candidate)
        per_spec_pairs, cap_cb, cap_om = [], [], []
        label_parts = []
        for j, spec in enumerate(specs):
            cols = [spec] if isinstance(spec, str) else list(spec)
            label_parts.append("+".join(cols))
            notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
            collist = ", ".join(cols)
            eqs = " AND ".join(f"a.{c} = b.{c}" for c in cols)
            blks.append(
                f"blk_{i}_{j} AS (\n"
                f"  SELECT id, {collist} FROM (\n"
                f"    SELECT id, {collist},\n"
                f"           row_number() OVER (PARTITION BY {collist}"
                f" ORDER BY id) AS rn\n"
                f"    FROM probe WHERE {notnull}\n"
                f"  ) WHERE rn <= {cap}\n"
                f")"
            )
            per_spec_pairs.append(
                f"SELECT a.id AS id_a, b.id AS id_b\n"
                f"  FROM blk_{i}_{j} a JOIN blk_{i}_{j} b"
                f" ON {eqs} AND a.id < b.id"
            )
            grp = (
                f"(SELECT COUNT(*) AS n FROM recs WHERE {notnull}"
                f" GROUP BY {collist})"
            )
            cap_cb.append(
                f"(SELECT COALESCE(SUM(CASE WHEN n > {cap} THEN 1 ELSE 0"
                f" END), 0) FROM {grp})"
            )
            cap_om.append(
                f"(SELECT COALESCE(SUM(GREATEST(n - {cap}, 0)), 0)"
                f" FROM {grp})"
            )
        cands.append(
            f"cand_{i} AS (\n  "
            + "\n  UNION\n  ".join(per_spec_pairs)
            + "\n)"
        )
        label = "|".join(label_parts)
        selects.append(
            f"""SELECT '{label}' AS spec,
       CAST(np.n AS BIGINT) AS n_probe,
       CAST(ne.n AS BIGINT) AS n_exact,
       CAST(nc.n AS BIGINT) AS n_candidates,
       CAST(nh.n AS BIGINT) AS n_hit,
       CASE WHEN ne.n = 0 THEN NULL
            ELSE ROUND(CAST(nh.n AS DOUBLE) / CAST(ne.n AS DOUBLE), 6)
       END AS pair_completeness,
       CASE WHEN np.n < 2 THEN NULL
            ELSE ROUND(1.0 - CAST(nc.n AS DOUBLE)
                 / CAST(np.n * (np.n - 1) // 2 AS DOUBLE), 6)
       END AS reduction_ratio,
       CAST({" + ".join(cap_cb)} AS BIGINT) AS n_capped_blocks,
       CAST({" + ".join(cap_om)} AS BIGINT) AS n_overcap_members
FROM (SELECT COUNT(*) AS n FROM probe) np,
     (SELECT COUNT(*) AS n FROM truth) ne,
     (SELECT COUNT(*) AS n FROM cand_{i}) nc,
     (SELECT COUNT(*) AS n FROM truth t JOIN cand_{i} c
        ON t.id_a = c.id_a AND t.id_b = c.id_b) nh"""
        )
    shared = r"""base AS (
  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nk,
         c_mktsegment AS seg,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal
  FROM customer
), recs AS (
  SELECT id, name, nk, seg, bal FROM base
  UNION ALL
  SELECT id + 10000000,
         substr(name, 1, length(name) - 1) || 'X',
         nk, seg,
         CASE WHEN id % 5 = 0 THEN bal + 1 ELSE bal END
  FROM base
), probe AS (
  SELECT * FROM recs WHERE (id % 10000000) % 13 = 0
), truth AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM probe a JOIN probe b ON a.id < b.id
  WHERE (1.0 - CAST(levenshtein(coalesce(a.name, ''), coalesce(b.name, '')) AS DOUBLE)
             / CAST(GREATEST(length(coalesce(a.name, '')), length(coalesce(b.name, '')), 1) AS DOUBLE))
          * (CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE))
        + (CASE WHEN a.bal = b.bal THEN 1.0 ELSE 0.0 END)
          * (CAST(2.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)) >= 0.9
)"""
    return (
        "WITH "
        + shared
        + ",\n"
        + ",\n".join(blks + cands)
        + "\n"
        + "\nUNION ALL\n".join(selects)
    )


def _zorder_oracle_sql(bits: int = 16, prefix_shift: int = 24) -> str:
    """Pure-SQL replica of the event_zorder pipeline: min/max CTE,
    power-of-two shift bucketization (shift amount via the binary-digit
    count of the span — integer-exact, no log2), and the Morton
    interleave generated as an explicit shift/or sum."""
    interleave = " | ".join(
        f"(((bu >> {b}) & 1) << {2 * b}) | (((bc >> {b}) & 1) << {2 * b + 1})"
        for b in range(bits)
    )
    return f"""
WITH e AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events
), b AS (
  SELECT MIN(user_id) AS lo_u, MAX(user_id) AS hi_u,
         MIN(cents) AS lo_c, MAX(cents) AS hi_c
  FROM e
), s AS (
  SELECT lo_u, lo_c,
    CASE WHEN hi_u - lo_u <= 0 THEN 0
         ELSE GREATEST(length(printf('%b', hi_u - lo_u)) - {bits}, 0) END AS s_u,
    CASE WHEN hi_c - lo_c <= 0 THEN 0
         ELSE GREATEST(length(printf('%b', hi_c - lo_c)) - {bits}, 0) END AS s_c
  FROM b
), k AS (
  SELECT e.user_id, e.cents,
         ((e.user_id - lo_u) >> s_u) AS bu,
         ((e.cents - lo_c) >> s_c) AS bc
  FROM e, s
), z AS (
  SELECT user_id, cents, ({interleave}) AS zkey FROM k
)
SELECT zkey >> {prefix_shift} AS zbucket,
       COUNT(*) AS n,
       MIN(user_id) AS min_user, MAX(user_id) AS max_user,
       MIN(cents) AS min_cents, MAX(cents) AS max_cents
FROM z
GROUP BY 1
"""


def oracle_sql() -> dict[str, str]:
    scores, case = _lang_scores_sql()
    en = _sw_list("en")
    base = {
        "doc_chunks": r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(coalesce(text,''))), '\s+'),
                     x -> x != '') AS toks
  FROM documents
), n AS (
  SELECT doc_id, toks, len(toks) AS n_tok,
         GREATEST(CAST(ceil(GREATEST(len(toks) - 16, 1) / 48.0) AS BIGINT), 1) AS n_chunks
  FROM t
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(toks, i * 48 + 1, i * 48 + 64)) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(toks, i * 48 + 1, i * 48 + 64), ' ') AS chunk_text
FROM n, UNNEST(range(n_chunks)) AS u(i)
""",
        "doc_packing": r"""
WITH t AS (
  SELECT doc_id, source AS shard,
         len(list_filter(regexp_split_to_array(trim(lower(coalesce(text,''))), '\s+'),
                         x -> x != '')) AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens, 0) AS tok_offset
  FROM t
)
SELECT doc_id, shard,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(tok_offset AS BIGINT) AS tok_offset,
       CAST(floor(tok_offset / 512.0) AS BIGINT) AS pack_first,
       CAST(floor((tok_offset + GREATEST(n_tokens - 1, 0)) / 512.0) AS BIGINT) AS pack_last,
       CAST(floor(tok_offset / 512.0) != floor((tok_offset + GREATEST(n_tokens - 1, 0)) / 512.0) AS BIGINT)
         AS straddles
FROM o
""",
        "streaming_interval_join": r"""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
), s AS (
  SELECT user_id, event_id, us FROM e WHERE event_type = 'signup'
), p AS (
  SELECT user_id, event_id, us FROM e WHERE event_type = 'purchase'
), j AS (
  SELECT s.user_id, s.event_id AS sid, p.event_id AS pid, p.us - s.us AS d
  FROM s JOIN p
    ON s.user_id = p.user_id
   AND p.us >= s.us
   AND p.us <= s.us + 3600000000
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(d) AS BIGINT) AS sum_delta_us,
       CAST(MIN(sid) AS BIGINT) AS min_signup_event,
       CAST(MAX(pid) AS BIGINT) AS max_purchase_event
FROM j GROUP BY user_id
""",
        "streaming_sessions": r"""
WITH o AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events
)
SELECT user_id,
       CAST(SUM(CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM o GROUP BY user_id
""",
        "web_corpus_pipeline": r"""
WITH h AS (
  SELECT doc_id,
    '<!DOCTYPE html><html><head><title>Doc ' || doc_id ||
    ' &amp; Co</title><style>p { color: red; }</style>' ||
    '<script>var x = 1 < 2;</script></head><body><!-- nav -->' ||
    '<h1>Heading</h1><p>' || coalesce(text, '') ||
    '</p><br><div>footer &lt;end&gt;</div></body></html>' AS html
  FROM documents
), e1 AS (
  SELECT doc_id,
    regexp_replace(html, '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g') AS c
  FROM h
), e2 AS (SELECT doc_id, regexp_replace(c, '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS c FROM e1
), e3 AS (SELECT doc_id, regexp_replace(c, '(?s)<!--.*?-->', ' ', 'g') AS c FROM e2
), e4 AS (SELECT doc_id, regexp_replace(c, '(?is)<!doctype[^>]*>|<\?[^>]*\?>', ' ', 'g') AS c FROM e3
), e5 AS (SELECT doc_id, regexp_replace(c,
    '(?i)<br\s*/?>|</(?:p|div|li|tr|h1|h2|h3|h4|h5|h6|title|blockquote)\s*>', chr(10), 'g') AS c FROM e4
), e6 AS (SELECT doc_id, regexp_replace(c, '(?s)<[^>]*>', ' ', 'g') AS c FROM e5
), e7 AS (SELECT doc_id,
    replace(replace(replace(replace(replace(replace(c,
      '&nbsp;', ' '), '&quot;', '"'), '&#39;', ''''), '&lt;', '<'), '&gt;', '>'), '&amp;', '&') AS c
  FROM e6
), e8 AS (SELECT doc_id, regexp_replace(c, '[ \t\f]+', ' ', 'g') AS c FROM e7
), e9 AS (SELECT doc_id, regexp_replace(c, ' ?\n ?', chr(10), 'g') AS c FROM e8
), ext AS (
  SELECT doc_id, trim(regexp_replace(c, '\n{2,}', chr(10), 'g')) AS text FROM e9
), c4 AS (
  SELECT doc_id,
    list_filter(string_split(coalesce(text, ''), chr(10)), l -> length(trim(l)) > 0
      AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
      AND NOT contains(lower(l), 'javascript')
      AND NOT contains(lower(l), 'lorem ipsum')
      AND NOT contains(lower(l), 'cookie policy')
      AND NOT contains(lower(l), 'privacy policy')
      AND NOT contains(lower(l), 'terms of use')
      AND NOT contains(lower(l), '{')) AS kept
  FROM ext
), keptd AS (
  SELECT doc_id, array_to_string(kept, chr(10)) AS text FROM c4 WHERE len(kept) >= 1
), surv AS (
  SELECT MIN(doc_id) AS doc_id, text FROM keptd GROUP BY text
), tok AS (
  SELECT doc_id,
    len(list_filter(regexp_split_to_array(trim(lower(coalesce(text,''))), '\s+'),
                    x -> x != '')) AS n_tokens
  FROM surv
), o AS (
  SELECT doc_id, n_tokens,
    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens, 0) AS tok_offset
  FROM tok
)
SELECT 'web-' || CAST(floor(tok_offset / 256.0) AS BIGINT) AS shard_key,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM o
GROUP BY 1
""",
        "web_extract_text": r"""
WITH h AS (
  SELECT doc_id,
    '<!DOCTYPE html><html><head><title>Doc ' || doc_id ||
    ' &amp; Co</title><style>p { color: red; }</style>' ||
    '<script>var x = 1 < 2;</script></head><body><!-- nav -->' ||
    '<h1>Heading</h1><p>' || coalesce(text, '') ||
    '</p><br><div>footer &lt;end&gt;</div></body></html>' AS html
  FROM documents
), s1 AS (
  SELECT doc_id, html,
    trim(regexp_replace(regexp_extract(html, '(?is)<title[^>]*>([^<]*)', 1), '\s+', ' ', 'g')) AS title,
    regexp_replace(html, '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g') AS c
  FROM h
), s2 AS (SELECT doc_id, title, regexp_replace(c, '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS c FROM s1
), s3 AS (SELECT doc_id, title, regexp_replace(c, '(?s)<!--.*?-->', ' ', 'g') AS c FROM s2
), s4 AS (SELECT doc_id, title, regexp_replace(c, '(?is)<!doctype[^>]*>|<\?[^>]*\?>', ' ', 'g') AS c FROM s3
), s5 AS (SELECT doc_id, title, regexp_replace(c,
    '(?i)<br\s*/?>|</(?:p|div|li|tr|h1|h2|h3|h4|h5|h6|title|blockquote)\s*>', chr(10), 'g') AS c FROM s4
), s6 AS (SELECT doc_id, title, regexp_replace(c, '(?s)<[^>]*>', ' ', 'g') AS c FROM s5
), s7 AS (SELECT doc_id, title,
    replace(replace(replace(replace(replace(replace(c,
      '&nbsp;', ' '), '&quot;', '"'), '&#39;', ''''), '&lt;', '<'), '&gt;', '>'), '&amp;', '&') AS c
  FROM s6
), s8 AS (SELECT doc_id, title, regexp_replace(c, '[ \t\f]+', ' ', 'g') AS c FROM s7
), s9 AS (SELECT doc_id, title, regexp_replace(c, ' ?\n ?', chr(10), 'g') AS c FROM s8
), s10 AS (SELECT doc_id, title, regexp_replace(c, '\n{2,}', chr(10), 'g') AS c FROM s9
)
SELECT doc_id, title, trim(c) AS extracted FROM s10
""",
        "shard_manifest": r"""
WITH t AS (
  SELECT doc_id, source AS shard,
         len(list_filter(regexp_split_to_array(trim(lower(coalesce(text,''))), '\s+'),
                         x -> x != '')) AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens, 0) AS tok_offset
  FROM t
)
SELECT shard || '-' || CAST(floor(tok_offset / 512.0) AS BIGINT) AS shard_key,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM o
GROUP BY 1
""",
        # the round-trip emits the same deterministic assignment PLUS the
        # consistency flag (always 1 when the sink/scan is faithful) and
        # the pruned-read count (n_docs for seq-0 shards, else 0)
        "shards_roundtrip": r"""
WITH t AS (
  SELECT doc_id, source AS shard,
         len(list_filter(regexp_split_to_array(trim(lower(coalesce(text,''))), '\s+'),
                         x -> x != '')) AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens, 0) AS tok_offset
  FROM t
), m AS (
  SELECT shard, CAST(floor(tok_offset / 4096.0) AS BIGINT) AS seq,
         COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
         MIN(doc_id) AS min_doc_id,
         MAX(doc_id) AS max_doc_id
  FROM o
  GROUP BY 1, 2
)
SELECT shard || '-' || CAST(seq AS VARCHAR) AS shard_key,
       n_docs, shard_tokens, min_doc_id, max_doc_id,
       CAST(1 AS BIGINT) AS manifest_match,
       CASE WHEN seq = 0 THEN n_docs ELSE CAST(0 AS BIGINT) END AS pruned_docs
FROM m
""",
        "event_pivot": r"""
SELECT user_id,
  COUNT(*) FILTER (event_type='click') AS click_n,
  CAST(COALESCE(SUM(CAST(round(value*100) AS BIGINT)) FILTER (event_type='click'), 0) AS BIGINT) AS click_cents,
  COUNT(*) FILTER (event_type='error') AS error_n,
  CAST(COALESCE(SUM(CAST(round(value*100) AS BIGINT)) FILTER (event_type='error'), 0) AS BIGINT) AS error_cents,
  COUNT(*) FILTER (event_type='purchase') AS purchase_n,
  CAST(COALESCE(SUM(CAST(round(value*100) AS BIGINT)) FILTER (event_type='purchase'), 0) AS BIGINT) AS purchase_cents,
  COUNT(*) FILTER (event_type='signup') AS signup_n,
  CAST(COALESCE(SUM(CAST(round(value*100) AS BIGINT)) FILTER (event_type='signup'), 0) AS BIGINT) AS signup_cents,
  COUNT(*) FILTER (event_type='view') AS view_n,
  CAST(COALESCE(SUM(CAST(round(value*100) AS BIGINT)) FILTER (event_type='view'), 0) AS BIGINT) AS view_cents
FROM events
GROUP BY user_id
""",
        "event_resample": r"""
WITH agg AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, COUNT(*) AS n,
         CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT user_id, date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
  FROM events GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM spans
)
SELECT g.user_id,
       CAST(epoch(g.bucket) AS BIGINT) AS bucket_s,
       COALESCE(a.n, 0) AS n,
       COALESCE(a.cents, 0) AS cents
FROM grid g LEFT JOIN agg a ON a.user_id = g.user_id AND a.bucket = g.bucket
""",
        "corpus_profile": "\nUNION ALL\n".join(
            f"""
SELECT '{c}' AS "column", COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_value,
       CAST(MAX({c}) AS VARCHAR) AS max_value,
       CAST(COALESCE((SUM(length(CAST({c} AS VARCHAR))) * 100)
                // NULLIF(COUNT({c}), 0), 0) AS BIGINT) AS avg_len_x100
FROM documents"""
            for c in ("doc_id", "text", "lang", "source", "n_chars")
        ),
        "corpus_snapshot_diff": r"""
WITH new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text,
         lang, source, n_chars
  FROM documents WHERE doc_id % 17 != 0
  UNION ALL
  SELECT doc_id + 1000000, text, lang, source, n_chars
  FROM documents WHERE doc_id % 19 = 0
), d AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         CASE
           WHEN o.doc_id IS NULL THEN 'added'
           WHEN n.doc_id IS NULL THEN 'removed'
           WHEN o.text IS NOT DISTINCT FROM n.text
            AND o.lang IS NOT DISTINCT FROM n.lang
            AND o.source IS NOT DISTINCT FROM n.source
            AND o.n_chars IS NOT DISTINCT FROM n.n_chars THEN 'unchanged'
           ELSE 'changed'
         END AS status
  FROM documents o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT status, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM d GROUP BY status
""",
        "doc_novelty": r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(coalesce(text,''))), '\s+'),
                     x -> x != '') AS t
  FROM documents
), gr AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
  FROM toks, unnest(range(1, len(t)-1)) AS u(i)
  WHERE len(t) >= 3
  UNION
  SELECT DISTINCT doc_id, array_to_string(t, ' ') AS g
  FROM toks WHERE len(t) < 3
), fo AS (
  SELECT g, MIN(doc_id) AS first_owner FROM gr GROUP BY g
), pd AS (
  SELECT gr.doc_id, COUNT(*) AS n_grams,
         SUM(CASE WHEN fo.first_owner = gr.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM gr JOIN fo USING (g) GROUP BY 1
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_novel AS BIGINT) AS n_novel,
       CAST((n_novel * 1000000) // n_grams AS BIGINT) AS novelty_ppm
FROM pd
""",
        "doc_prefix_dup": r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text || ' :: appended continuation tail'
  FROM documents WHERE doc_id % 7 = 0
), h AS (
  SELECT md5(substr(lower(trim(coalesce(text, ''))), 1, 32)) AS prefix_hash,
         doc_id
  FROM corpus
)
SELECT prefix_hash,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS canonical_id,
       array_to_string(list_slice(list_sort(list(doc_id)), 1, 8), ',') AS member_ids
FROM h
GROUP BY prefix_hash
HAVING COUNT(*) >= 2
""",
        "event_anomaly_mad": r"""
WITH v AS (
  SELECT event_type, CAST(round(value*100) AS BIGINT) AS vc FROM events
), m AS (
  SELECT event_type, quantile_cont(vc, 0.5) AS med FROM v GROUP BY 1
), d AS (
  SELECT v.event_type, vc, med, abs(CAST(vc AS DOUBLE) - med) AS adev
  FROM v JOIN m USING (event_type)
), md AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM d GROUP BY 1
), s AS (
  SELECT d.event_type, med, mad, adev,
         CASE WHEN mad > 0 THEN adev / (1.4826 * mad) END AS rob_z,
         CASE WHEN mad > 0 THEN adev / (1.4826 * mad) > 3.5
              ELSE adev > 0 END AS isa
  FROM d JOIN md USING (event_type)
)
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       round(MIN(med), 6) AS med,
       round(MIN(mad), 6) AS mad,
       round(MAX(rob_z), 6) AS max_rob_z
FROM s
GROUP BY event_type
""",
        "event_triangles": r"""
WITH d AS (
  SELECT event_id % 997 + (event_id // 10000000) * 997 AS s,
         (event_id * 31 + event_id // 997) % 997
           + (event_id // 10000000) * 997 AS t
  FROM events
), und AS (
  SELECT DISTINCT LEAST(s, t) AS a, GREATEST(s, t) AS b
  FROM d WHERE s != t
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
), pn AS (
  SELECT node, COUNT(*) AS c FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY 1
), nodes AS (
  SELECT a AS node FROM und UNION SELECT b AS node FROM und
)
SELECT CAST(node AS BIGINT) AS node,
       CAST(COALESCE(c, 0) AS BIGINT) AS n_triangles
FROM nodes LEFT JOIN pn USING (node)
""",
        "event_cusum": r"""
WITH v AS (
  SELECT event_type, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), c AS (
  SELECT *, CAST(floor((SUM(cents) OVER (PARTITION BY event_type)) * 1.0
                       / (COUNT(*) OVER (PARTITION BY event_type)))
                 AS BIGINT) AS ctr
  FROM v
), p AS (
  SELECT event_type, ts, event_id,
         SUM(cents - ctr - 100) OVER w AS pp,
         SUM(cents - ctr + 100) OVER w AS pn
  FROM c
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)
), s AS (
  SELECT event_type,
         pp - LEAST(0, MIN(pp) OVER w) AS sp,
         GREATEST(0, MAX(pn) OVER w) - pn AS sn
  FROM p
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MAX(sp) AS BIGINT) AS max_cusum_pos,
       CAST(MAX(sn) AS BIGINT) AS max_cusum_neg,
       CAST(SUM(CASE WHEN sp > 10000 OR sn > 10000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_alarms
FROM s GROUP BY event_type
""",
        "doc_pmi_collocations": r"""
WITH t AS (
  SELECT list_filter(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+'),
                     x -> x != '') AS toks
  FROM documents
), uni AS (
  SELECT u.w AS w, COUNT(*) AS c FROM t, UNNEST(toks) AS u(w) GROUP BY 1
), bi AS (
  SELECT toks[CAST(i AS BIGINT) + 1] AS w1, toks[CAST(i AS BIGINT) + 2] AS w2
  FROM t, UNNEST(range(len(toks) - 1)) AS r(i)
), bic AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= 5
), tot AS (
  SELECT CAST((SELECT SUM(c) FROM uni) AS BIGINT) AS T,
         CAST((SELECT COUNT(*) FROM bi) AS BIGINT) AS B
)
SELECT w1, w2,
       CAST(c12 AS BIGINT) AS c12,
       CAST(u1.c AS BIGINT) AS c1,
       CAST(u2.c AS BIGINT) AS c2,
       round((CAST(c12 AS DOUBLE) / B) /
             ((CAST(u1.c AS DOUBLE) / T) * (CAST(u2.c AS DOUBLE) / T)), 6)
         AS pmi_ratio
FROM bic JOIN uni u1 ON u1.w = w1 JOIN uni u2 ON u2.w = w2, tot
ORDER BY (CAST(c12 AS DOUBLE) / B) /
         ((CAST(u1.c AS DOUBLE) / T) * (CAST(u2.c AS DOUBLE) / T)) DESC,
         w1, w2
LIMIT 50
""",
        "doc_edit_pairs": r"""
WITH base AS (
  SELECT doc_id, coalesce(substr(lower(trim(text)), 1, 20), '') AS title
  FROM documents
), corpus AS (
  SELECT doc_id, title FROM base
  UNION ALL
  SELECT doc_id + 4000000, substr(title, 1, 7) || substr(title, 9, 20)
  FROM base WHERE doc_id % 13 = 0
  UNION ALL
  SELECT doc_id + 5000000, substr(title, 1, 4) || 'z' || substr(title, 6, 20)
  FROM base WHERE doc_id % 17 = 0
), d AS (
  SELECT MIN(doc_id) AS id, title FROM corpus GROUP BY title
)
SELECT CAST(a.id AS BIGINT) AS id_a,
       CAST(b.id AS BIGINT) AS id_b,
       CAST(levenshtein(a.title, b.title) AS BIGINT) AS distance
FROM d a JOIN d b
  ON a.id < b.id AND abs(length(a.title) - length(b.title)) <= 2
WHERE levenshtein(a.title, b.title) <= 2
""",
        "event_top_spenders": r"""
WITH totals AS (
  SELECT event_type, user_id,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT event_type, user_id, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY cents DESC, user_id) AS rank
  FROM totals
)
SELECT event_type, CAST(rank AS BIGINT) AS rank, user_id, cents
FROM ranked WHERE rank <= 3
""",
        "event_retention": r"""
WITH act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), first AS (
  SELECT user_id, MIN(day) AS cohort FROM act GROUP BY 1
)
SELECT CAST(f.cohort AS VARCHAR) AS cohort_day,
       CAST(a.day - f.cohort AS BIGINT) AS day_offset,
       COUNT(*) AS n_users
FROM act a JOIN first f USING (user_id)
WHERE a.day - f.cohort IN (0, 1, 7)
GROUP BY 1, 2
""",
        "event_funnel": r"""
WITH u AS (SELECT DISTINCT user_id FROM events),
s1 AS (SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s1.t
         AND e.ts <= s1.t + INTERVAL 86400 SECOND GROUP BY 1),
s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s2.t
         AND e.ts <= s2.t + INTERVAL 86400 SECOND GROUP BY 1)
SELECT stage, COUNT(*) AS n_users FROM (
  SELECT u.user_id,
         CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
                   WHEN s2.user_id IS NOT NULL THEN 2
                   WHEN s1.user_id IS NOT NULL THEN 1
                   ELSE 0 END AS BIGINT) AS stage
  FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
         LEFT JOIN s3 USING (user_id)
) GROUP BY stage
""",
        "event_json_stats": r"""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       MIN(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
       MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
FROM events
GROUP BY event_type
""",
        "web_host_stats": r"""
WITH u AS (
  SELECT doc_id, text,
    'HTTP://Site' || (doc_id % 7) || '.Example.COM:80//d//' || (doc_id % 40) ||
    '/page?utm_source=x&ref=feed&id=' || (doc_id % 9) || '#frag' AS url
  FROM documents
), s2 AS (
  SELECT text, trim(url) AS u,
    regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)', 1) AS prefix
  FROM u
), s3 AS (
  SELECT text, u, prefix,
    substr(u, length(prefix) + 1) AS rest0,
    CASE WHEN lower(prefix) LIKE 'http://%'  THEN regexp_replace(lower(prefix), ':80$', '')
         WHEN lower(prefix) LIKE 'https://%' THEN regexp_replace(lower(prefix), ':443$', '')
         ELSE lower(prefix) END AS lowered,
    lower(regexp_replace(regexp_replace(
      regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1),
      '^[^@]*@', ''), ':[0-9]*$', '')) AS host
  FROM s2
), s4 AS (
  SELECT text, lowered, host,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(rest0, '#.*$', ''),
            '([?&])(?:(?:utm_[a-z0-9]+|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)=[^&#]*&)+', '\1', 'g'),
          '[?&](?:(?:utm_[a-z0-9]+|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)=[^&#]*&)*(?:utm_[a-z0-9]+|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)=[^&#]*$', ''),
        '\?&', '?', 'g'),
      '[?&]$', '') AS rest1
  FROM s3
), s5 AS (
  SELECT text, host,
    lowered || regexp_replace(regexp_extract(rest1, '^([^?]*)', 1), '//+', '/', 'g')
            || substr(rest1, length(regexp_extract(rest1, '^([^?]*)', 1)) + 1) AS nurl
  FROM s4
)
SELECT host,
       COUNT(*) AS n_pages,
       CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT) AS n_tokens,
       COUNT(DISTINCT nurl) AS n_urls
FROM s5
GROUP BY host
""",
        "doc_token_stats": r"""
SELECT doc_id,
       len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_words,
       length(text) AS n_chars_c
FROM documents
""",
        "doc_quality": f"""
WITH {_TOKS_CTE}, m AS (
  SELECT doc_id,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / greatest(length(text), 1) AS punct_ratio,
         len(list_filter(toks, t -> list_contains({en}, t))) / greatest(len(toks), 1) AS stopword_ratio,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / greatest(len(toks), 1) AS mean_word_length,
         len(toks) AS n_tok
  FROM base
)
SELECT doc_id, punct_ratio, stopword_ratio, mean_word_length,
       (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END
        + CASE WHEN punct_ratio < 0.3 THEN 1.0 - punct_ratio / 0.3 ELSE 0.0 END
        + CASE WHEN mean_word_length >= 2.0 AND mean_word_length <= 12.0 THEN 1.0 ELSE 0.0 END
        + least(stopword_ratio / 0.2, 1.0)) / 4.0 AS quality
FROM m
""",
        "doc_language": f"""
WITH {_TOKS_CTE}, s AS (
  SELECT doc_id,
    {scores}
  FROM base
)
SELECT doc_id, {case} AS lang_detected FROM s
""",
        "doc_language_summary": f"""
WITH {_TOKS_CTE}, s AS (
  SELECT doc_id,
    {scores}
  FROM base
)
SELECT {case} AS lang_detected, count(*) AS n_docs FROM s GROUP BY 1
""",
        "doc_hash_groups": """
SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS canonical_id
FROM documents GROUP BY md5(text)
""",
        "dedup_docs_count": """
SELECT count(DISTINCT md5(text)) AS n_unique FROM documents
""",
        "streaming_dedup_replay": """
SELECT count(DISTINCT text) AS n_kept, count(DISTINCT text) AS n_distinct_text
FROM documents
""",
        "streaming_window_counts": """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_s,
       CAST(epoch(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS BIGINT) AS window_end_s,
       event_type, count(*) AS n
FROM events GROUP BY 1, 2, 3
""",
        "doc_jaccard_adjacent": r"""
WITH b AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                                      i -> array_to_string(toks[i:i+2], ' '))) AS grams
  FROM b
)
SELECT a.doc_id AS id_a, c.doc_id AS id_b,
       len(list_intersect(a.grams, c.grams)) / greatest(len(list_distinct(list_concat(a.grams, c.grams))), 1) AS jaccard
FROM g a JOIN g c ON c.doc_id = a.doc_id + 1
""",
        "doc_shingle_count": r"""
WITH n AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm FROM documents
)
SELECT doc_id,
       len(list_distinct(list_transform(generate_series(1, greatest(length(norm) - 4, 1)),
                                        i -> substr(norm, i, 5)))) AS n_shingles
FROM n
""",
        "embedding_norms": """
SELECT vec_id,
       round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS l2_norm
FROM embeddings
""",
        "knn_bruteforce": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_dot_product(e.v, q.qv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS sim
  FROM e CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, rank FROM ranked WHERE rank <= 10
""",
        "embedding_label_stats": """
WITH n AS (
  SELECT label, sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS l2
  FROM embeddings
)
SELECT label, count(*) AS n, round(avg(l2), 6) AS avg_norm FROM n GROUP BY label
""",
        "label_centroid_norm": """
WITH ex AS (
  SELECT label, dim, CAST(embedding[dim] AS DOUBLE) AS val
  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS dim) d
), m AS (
  SELECT label, dim, avg(val) AS mv FROM ex GROUP BY label, dim
)
SELECT label, round(sqrt(sum(mv * mv)), 6) AS centroid_norm FROM m GROUP BY label
""",
        "event_timeshifted": f"""
WITH {_TRAJ_CTE}, lagged AS (
  SELECT traj_id, t, value,
         lead(value, 2) OVER (PARTITION BY traj_id ORDER BY t) AS value_lagged
  FROM traj
)
SELECT traj_id, t, value, value_lagged FROM lagged
WHERE value_lagged IS NOT NULL AND t % 3 = 0
""",
        "event_sliding_avg": f"""
WITH {_TRAJ_CTE}
SELECT traj_id, t,
       CAST(sum(vc) OVER w AS BIGINT) AS win_cents,
       CAST(count(*) OVER w AS BIGINT) AS win_n
FROM traj
WINDOW w AS (PARTITION BY traj_id ORDER BY t ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
""",
        "event_blocksplit": f"""
WITH {_TRAJ_CTE}
SELECT CAST(traj_id AS VARCHAR) || '_' || CAST(CAST(floor(t / 10) AS BIGINT) AS VARCHAR) AS block_id,
       count(*) AS n_frames
FROM traj GROUP BY 1
""",
        "event_derivative": f"""
WITH {_TRAJ_CTE}, s AS (
  SELECT traj_id, t, value,
         lead(value, 1) OVER w AS xp, lead(value, 2) OVER w AS xp2,
         lag(value, 1) OVER w AS xm, lag(value, 2) OVER w AS xm2
  FROM traj
  WINDOW w AS (PARTITION BY traj_id ORDER BY t)
)
SELECT traj_id, t,
       CASE
         WHEN xm IS NULL AND xp IS NOT NULL AND xp2 IS NOT NULL THEN (-3.0 * value + 4.0 * xp - xp2) / 2.0
         WHEN xp IS NULL AND xm IS NOT NULL AND xm2 IS NOT NULL THEN (3.0 * value - 4.0 * xm + xm2) / 2.0
         WHEN xm IS NOT NULL AND xp IS NOT NULL THEN (xp - xm) / 2.0
       END AS dvalue
FROM s
WHERE (CASE
         WHEN xm IS NULL AND xp IS NOT NULL AND xp2 IS NOT NULL THEN 1
         WHEN xp IS NULL AND xm IS NOT NULL AND xm2 IS NOT NULL THEN 1
         WHEN xm IS NOT NULL AND xp IS NOT NULL THEN 1
       END) = 1
""",
        "event_moments": f"""
WITH {_TRAJ_CTE}, lagged AS (
  SELECT vc, lead(vc, 1) OVER (PARTITION BY traj_id ORDER BY t) AS vcl FROM traj
)
SELECT count(*) AS n_pairs,
       CAST(sum(vc) AS BIGINT) AS sx_c,
       CAST(sum(vcl) AS BIGINT) AS sy_c,
       CAST(sum(vc * vc) AS BIGINT) AS sxx_cc,
       CAST(sum(vc * vcl) AS BIGINT) AS sxy_cc,
       CAST(sum(vcl * vcl) AS BIGINT) AS syy_cc
FROM lagged WHERE vcl IS NOT NULL
""",
        "event_transition_counts": f"""
WITH {_TRAJ_CTE}, pairs AS (
  SELECT state AS s_from, lead(state, 1) OVER (PARTITION BY traj_id ORDER BY t) AS s_to
  FROM traj
)
SELECT s_from, s_to, count(*) AS n FROM pairs
WHERE s_to IS NOT NULL AND s_from >= 0 AND s_to >= 0
GROUP BY s_from, s_to
""",
        "streaming_transition_counts": f"""
WITH {_TRAJ_CTE}, pairs AS (
  SELECT state AS s_from, lead(state, 1) OVER (PARTITION BY traj_id ORDER BY t) AS s_to
  FROM traj
)
SELECT CAST(s_from AS BIGINT) AS s_from, CAST(s_to AS BIGINT) AS s_to, count(*) AS n
FROM pairs
WHERE s_to IS NOT NULL AND s_from >= 0 AND s_to >= 0
GROUP BY 1, 2
""",
        "event_state_histogram": f"""
WITH {_TRAJ_CTE}
SELECT state, count(*) AS n FROM traj GROUP BY state
""",
        "event_two_step_counts": f"""
WITH {_TRAJ_CTE}, steps AS (
  SELECT state AS s0,
         lead(state, 1) OVER w AS s1,
         lead(state, 2) OVER w AS s2
  FROM traj WINDOW w AS (PARTITION BY traj_id ORDER BY t)
)
SELECT s0, s1, s2, count(*) AS n FROM steps
WHERE s1 IS NOT NULL AND s2 IS NOT NULL AND s0 >= 0 AND s1 >= 0 AND s2 >= 0
GROUP BY s0, s1, s2
""",
        "event_weighted_counts": f"""
WITH {_TRAJ_CTE}, wtraj AS (
  SELECT traj_id, t, state, 1.0 + value / 1000.0 AS weight FROM traj
), pairs AS (
  SELECT state AS s_from,
         lead(state, 2) OVER w AS s_to,
         exp(sum(ln(weight)) OVER (PARTITION BY traj_id ORDER BY t
                                   ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING)) AS pw
  FROM wtraj WINDOW w AS (PARTITION BY traj_id ORDER BY t)
)
SELECT s_from, s_to, round(sum(pw), 6) AS n FROM pairs
WHERE s_to IS NOT NULL AND s_from >= 0 AND s_to >= 0
GROUP BY s_from, s_to
""",
        "event_box": f"""
WITH {_TRAJ_CTE}
SELECT least(greatest(CAST(floor((value - 0.0) / 25.0) AS BIGINT), 0), 19) AS box,
       count(*) AS n
FROM traj GROUP BY 1
""",
        "event_histogram2d": """
SELECT least(greatest(CAST(floor((value - 0.0) / 50.0) AS BIGINT), 0), 9) AS bin_x,
       least(greatest(CAST(floor((CAST(hour(ts) AS DOUBLE) - 0.0) / 1.0) AS BIGINT), 0), 23) AS bin_y,
       count(*) AS hist_count
FROM events GROUP BY 1, 2
""",
        "event_sessions": """
WITH o AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
  FROM events
)
SELECT user_id,
       CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM o GROUP BY user_id
""",
        "doc_gopher_quality": r"""
WITH base AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
         string_split(text, chr(10)) AS lines
  FROM documents
)
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_words,
  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / greatest(len(toks), 1) AS mean_word_len,
  CAST(length(text) - length(replace(text, '#', '')) + len(regexp_extract_all(text, '\.\.\.|…')) AS DOUBLE)
    / greatest(len(toks), 1) AS symbol_ratio,
  CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•‣▶]'))) AS DOUBLE)
    / greatest(len(lines), 1) AS frac_bullet_lines,
  CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE)
    / greatest(len(lines), 1) AS frac_ellipsis_lines,
  CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
    / greatest(len(toks), 1) AS frac_alpha_words,
  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                       w -> list_contains(toks, w))) AS BIGINT) AS n_stop_hits,
  CAST(len(toks) BETWEEN 50 AND 100000
       AND (CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / greatest(len(toks), 1)) BETWEEN 3.0 AND 10.0
       AND (CAST(length(text) - length(replace(text, '#', '')) + len(regexp_extract_all(text, '\.\.\.|…')) AS DOUBLE) / greatest(len(toks), 1)) < 0.1
       AND (CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•‣▶]'))) AS DOUBLE) / greatest(len(lines), 1)) < 0.9
       AND (CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE) / greatest(len(lines), 1)) < 0.3
       AND (CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / greatest(len(toks), 1)) >= 0.8
       AND len(list_filter(['the','be','to','of','and','that','have','with'],
                           w -> list_contains(toks, w))) >= 2 AS BIGINT) AS passes_gopher
FROM base
""",
        "doc_pii_scrub": r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.'
              || CAST(doc_id % 256 AS VARCHAR) || '.7 ssn 123-45-6789' AS text
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '\b(?:\d[ -]?){13,16}\b')) AS BIGINT) AS n_credit_card,
  CAST(len(regexp_extract_all(text, '\+?\d{1,3}[ .-]?\(?\d{2,4}\)?[ .-]?\d{3,4}[ .-]?\d{3,4}')) AS BIGINT) AS n_phone,
  CAST(len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
  md5(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b(?:\d[ -]?){13,16}\b', '<CC>', 'g'),
          '\+?\d{1,3}[ .-]?\(?\d{2,4}\)?[ .-]?\d{3,4}[ .-]?\d{3,4}', '<PHONE>', 'g'),
        '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
      '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g')
  ) AS scrubbed_md5
FROM aug
""",
        "domain_mixture": r"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         SUM(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS n_tokens
  FROM documents GROUP BY source
), t AS (
  SELECT source, n_docs, n_tokens,
    CASE source WHEN 'src0' THEN CAST('0.3' AS DOUBLE)
                WHEN 'src1' THEN CAST('0.2' AS DOUBLE)
                WHEN 'src2' THEN CAST('0.5' AS DOUBLE)
                ELSE CAST('0.0' AS DOUBLE) END AS target_share
  FROM per
)
SELECT source,
  CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS observed_share,
  target_share,
  LEAST(CAST('1.0' AS DOUBLE), COALESCE(
    CASE WHEN n_tokens > 0 THEN
      target_share
      * (MIN(CASE WHEN target_share > 0 THEN CAST(n_tokens AS DOUBLE) / target_share END) OVER ())
      / CAST(n_tokens AS DOUBLE)
    END, CAST('0.0' AS DOUBLE))) AS sampling_rate
FROM t
""",
        "streaming_constraint_audit": r"""
WITH s AS (
  SELECT COUNT(*) AS n_rows,
         SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_nn,
         SUM(CASE WHEN o_totalprice IS NOT NULL
                   AND (o_totalprice < 0.0 OR o_totalprice > 1000000000.0)
                  THEN 1 ELSE 0 END) AS v_rng,
         SUM(CASE WHEN o_orderstatus IS NULL
                   OR o_orderstatus NOT IN ('F', 'O', 'P')
                  THEN 1 ELSE 0 END) AS v_enum,
         SUM(CASE WHEN o_orderpriority IS NULL
                   OR o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END) AS v_prio
  FROM orders
), fk AS (
  SELECT COUNT(*) AS v_fk
  FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
)
SELECT "constraint", kind,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_violations AS BIGINT) AS n_violations,
       n_violations = 0 AS pass
FROM (
  SELECT 'custkey_not_null' AS "constraint", 'not_null' AS kind, n_rows, v_nn AS n_violations FROM s
  UNION ALL SELECT 'custkey_fk_customer', 'foreign_key', n_rows, (SELECT v_fk FROM fk) FROM s
  UNION ALL SELECT 'totalprice_positive', 'range', n_rows, v_rng FROM s
  UNION ALL SELECT 'status_enum', 'accepted_values', n_rows, v_enum FROM s
  UNION ALL SELECT 'priority_two_values', 'accepted_values', n_rows, v_prio FROM s
)
""",
        "dedup_threshold_sweep": r"""
WITH toks AS (
  SELECT doc_id,
         list_distinct(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                   x -> x != '')) AS ts
  FROM documents
  WHERE source = 'src0'
    AND len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '')) > 0
), ex AS (
  SELECT doc_id, unnest(ts) AS tok FROM toks
), dfr AS (
  SELECT tok, count(*) AS df FROM ex GROUP BY tok
), ord_ex AS (
  SELECT e.doc_id, e.tok,
         row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.tok) AS pos,
         count(*) OVER (PARTITION BY e.doc_id) AS sz
  FROM ex e JOIN dfr d ON e.tok = d.tok
), pref AS (
  SELECT doc_id, tok, sz FROM ord_ex
  WHERE pos <= sz - ((50 * sz + 99) // 100) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
  WHERE 100 * least(a.sz, b.sz) >= 50 * greatest(a.sz, b.sz)
), v AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(x.ts, y.ts)) AS i,
         len(x.ts) + len(y.ts) - len(list_intersect(x.ts, y.ts)) AS u
  FROM cand c JOIN toks x ON x.doc_id = c.id_a JOIN toks y ON y.doc_id = c.id_b
  WHERE 100 * len(list_intersect(x.ts, y.ts))
        >= 50 * (len(x.ts) + len(y.ts) - len(list_intersect(x.ts, y.ts)))
)
SELECT CAST(t AS BIGINT) AS threshold_pct,
       CAST(COALESCE(SUM(CASE WHEN 100 * i >= t * u THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pairs
FROM UNNEST([50, 60, 70, 80, 90]) AS th(t) LEFT JOIN v ON TRUE
GROUP BY t
""",
        "customer_scd2_merge": r"""
WITH dim AS (
  SELECT c_custkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
         c_mktsegment AS segment
  FROM customer
), upd AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN acctbal_cents + 10000
              ELSE acctbal_cents END AS acctbal_cents,
         CASE WHEN c_custkey % 11 = 0 THEN 'MACHINERY'
              ELSE segment END AS segment
  FROM dim
  WHERE c_custkey % 7 = 0 OR c_custkey % 11 = 0
  UNION ALL SELECT (SELECT max(c_custkey) + 1 FROM customer), 1000, 'BUILDING'
), changed AS (
  SELECT d.c_custkey
  FROM dim d JOIN upd u ON d.c_custkey = u.c_custkey
  WHERE d.acctbal_cents IS DISTINCT FROM u.acctbal_cents
     OR d.segment IS DISTINCT FROM u.segment
)
SELECT c_custkey, acctbal_cents, segment,
       CAST(0 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
FROM dim WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
UNION ALL
SELECT c_custkey, acctbal_cents, segment,
       CAST(0 AS BIGINT), CAST(1 AS BIGINT)
FROM dim WHERE c_custkey IN (SELECT c_custkey FROM changed)
UNION ALL
SELECT u.c_custkey, u.acctbal_cents, u.segment,
       CAST(1 AS BIGINT), CAST(NULL AS BIGINT)
FROM upd u WHERE u.c_custkey IN (SELECT c_custkey FROM changed)
UNION ALL
SELECT u.c_custkey, u.acctbal_cents, u.segment,
       CAST(1 AS BIGINT), CAST(NULL AS BIGINT)
FROM upd u WHERE u.c_custkey NOT IN (SELECT c_custkey FROM dim)
""",
        "customer_linkage_probe": r"""
WITH base AS (
  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nk,
         c_mktsegment AS seg,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal
  FROM customer
), delta AS (
  SELECT id + 10000000 AS id,
         substr(name, 1, length(name) - 1) || 'X' AS name,
         nk, seg,
         CASE WHEN id % 5 = 0 THEN bal + 1 ELSE bal END AS bal
  FROM base
), mblk AS (
  SELECT id, name, nk, seg, bal FROM (
    SELECT b.*, row_number() OVER (PARTITION BY nk, seg ORDER BY id) AS rn
    FROM base b WHERE nk IS NOT NULL AND seg IS NOT NULL
  ) WHERE rn <= 1000
), scored AS (
  SELECT d.id AS id_delta, m.id AS id_master,
         1.0 - CAST(levenshtein(coalesce(d.name, ''), coalesce(m.name, '')) AS DOUBLE)
             / CAST(GREATEST(length(coalesce(d.name, '')), length(coalesce(m.name, '')), 1) AS DOUBLE)
           AS sim_name,
         CASE WHEN d.bal = m.bal THEN 1.0 ELSE 0.0 END AS sim_bal
  FROM delta d JOIN mblk m ON d.nk = m.nk AND d.seg = m.seg
  WHERE d.nk IS NOT NULL AND d.seg IS NOT NULL
), qual AS (
  SELECT id_delta, id_master, sim_name, sim_bal,
         sim_name * (CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE))
         + sim_bal * (CAST(2.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)) AS score
  FROM scored
  WHERE sim_name * (CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE))
        + sim_bal * (CAST(2.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)) >= 0.9
)
SELECT id_delta, id_master,
       ROUND(sim_name, 6) AS sim_name, sim_bal, ROUND(score, 6) AS score
FROM (
  SELECT q.*, row_number() OVER (
           PARTITION BY id_delta ORDER BY score DESC, id_master
         ) AS rk
  FROM qual q
) WHERE rk = 1
""",
        "customer_k_anonymity": r"""
WITH recs AS (
  SELECT c_nationkey AS nk, c_mktsegment AS seg,
         CAST(FLOOR(CAST(round(c_acctbal * 100) AS BIGINT) / CAST(100000 AS DOUBLE)) AS BIGINT) AS bal_bucket,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal
  FROM customer
), classes AS (
  SELECT nk, seg, bal_bucket,
         COUNT(*) AS n,
         COUNT(DISTINCT ROW(bal)) AS l
  FROM recs GROUP BY nk, seg, bal_bucket
)
SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(n) AS BIGINT) AS min_class_size,
       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_classes,
       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_risky_rows,
       CAST(MIN(n) AS BIGINT) AS k_anonymity,
       CAST(MIN(l) AS BIGINT) AS min_l_diversity
FROM classes
""",
        "customer_delta_pipeline": r"""
WITH base AS (
  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nk,
         c_mktsegment AS seg,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal
  FROM customer
), delta AS (
  SELECT id + 10000000 AS id,
         substr(name, 1, length(name) - 1) || 'X' AS name,
         nk, seg,
         CASE WHEN id % 5 = 0 THEN bal + 1 ELSE bal END AS bal
  FROM base
), mblk AS (
  SELECT id, name, nk, seg, bal FROM (
    SELECT b.*, row_number() OVER (PARTITION BY nk, seg ORDER BY id) AS rn
    FROM base b WHERE nk IS NOT NULL AND seg IS NOT NULL
  ) WHERE rn <= 1000
), qual AS (
  SELECT d.id AS id_delta, m.id AS id_master,
         (1.0 - CAST(levenshtein(coalesce(d.name, ''), coalesce(m.name, '')) AS DOUBLE)
              / CAST(GREATEST(length(coalesce(d.name, '')), length(coalesce(m.name, '')), 1) AS DOUBLE))
           * (CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE))
         + (CASE WHEN d.bal = m.bal THEN 1.0 ELSE 0.0 END)
           * (CAST(2.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)) AS score
  FROM delta d JOIN mblk m ON d.nk = m.nk AND d.seg = m.seg
  WHERE d.nk IS NOT NULL AND d.seg IS NOT NULL
), best AS (
  SELECT id_delta, id_master FROM (
    SELECT q.*, row_number() OVER (
             PARTITION BY id_delta ORDER BY score DESC, id_master
           ) AS rk
    FROM qual q WHERE score >= 0.9
  ) WHERE rk = 1
), m2d AS (
  SELECT id_master, id_delta FROM (
    SELECT b.*, row_number() OVER (
             PARTITION BY id_master
             ORDER BY (SELECT score FROM qual q
                       WHERE q.id_delta = b.id_delta
                         AND q.id_master = b.id_master) DESC, id_delta
           ) AS mrk
    FROM best b
  ) WHERE mrk = 1
), upd AS (
  SELECT m.id_master AS id, d.name, d.bal
  FROM m2d m JOIN delta d ON d.id = m.id_delta
), final AS (
  SELECT b.id, b.seg,
         CASE WHEN u.id IS NOT NULL
                   AND (u.name IS DISTINCT FROM b.name
                        OR u.bal IS DISTINCT FROM b.bal)
              THEN 2 ELSE 1 END AS n_versions,
         CASE WHEN u.id IS NOT NULL
                   AND (u.name IS DISTINCT FROM b.name
                        OR u.bal IS DISTINCT FROM b.bal)
              THEN u.bal ELSE b.bal END AS open_bal
  FROM base b LEFT JOIN upd u ON u.id = b.id
  UNION ALL
  SELECT d.id, d.seg, 1, d.bal
  FROM delta d
  WHERE d.id NOT IN (SELECT id_delta FROM best)
)
SELECT seg,
       CAST(COUNT(*) AS BIGINT) AS n_entities,
       CAST(SUM(n_versions) AS BIGINT) AS n_versions,
       CAST(COUNT(*) AS BIGINT) AS n_open,
       CAST(SUM(id) AS BIGINT) AS id_checksum,
       CAST(SUM(open_bal) AS BIGINT) AS bal_checksum
FROM final GROUP BY seg
""",
        "customer_blocking_advisor": _blocking_advisor_oracle_sql(),
        "customer_linkage_gate": r"""
WITH base AS (
  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nk,
         c_mktsegment AS seg,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal
  FROM customer
), recs AS (
  SELECT id, name, nk, seg, bal FROM base
  UNION ALL
  SELECT id + 10000000,
         substr(name, 1, length(name) - 1) || 'X',
         nk, seg,
         CASE WHEN id % 5 = 0 THEN bal + 1 ELSE bal END
  FROM base
), probe AS (
  SELECT * FROM recs WHERE (id % 10000000) % 13 = 0
), truth AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM probe a JOIN probe b ON a.id < b.id
  WHERE (1.0 - CAST(levenshtein(coalesce(a.name, ''), coalesce(b.name, '')) AS DOUBLE)
             / CAST(GREATEST(length(coalesce(a.name, '')), length(coalesce(b.name, '')), 1) AS DOUBLE))
          * (CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE))
        + (CASE WHEN a.bal = b.bal THEN 1.0 ELSE 0.0 END)
          * (CAST(2.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)) >= 0.9
), pblk AS (
  SELECT id, nk, seg FROM (
    SELECT id, nk, seg,
           row_number() OVER (PARTITION BY nk, seg ORDER BY id) AS rn
    FROM probe WHERE nk IS NOT NULL AND seg IS NOT NULL
  ) WHERE rn <= 20
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM pblk a JOIN pblk b ON a.nk = b.nk AND a.seg = b.seg AND a.id < b.id
), caps AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN n > 20 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_capped_blocks,
         CAST(COALESCE(SUM(GREATEST(n - 20, 0)), 0) AS BIGINT) AS n_overcap_members
  FROM (
    SELECT COUNT(*) AS n FROM recs
    WHERE nk IS NOT NULL AND seg IS NOT NULL
    GROUP BY nk, seg
  )
), scalars AS (
  SELECT (SELECT COUNT(*) FROM recs) AS n_records,
         (SELECT COUNT(*) FROM probe) AS n_probe,
         (SELECT COUNT(*) FROM truth) AS n_exact,
         (SELECT COUNT(*) FROM cand) AS n_candidates,
         (SELECT COUNT(*) FROM truth t JOIN cand c
            ON t.id_a = c.id_a AND t.id_b = c.id_b) AS n_hit
)
SELECT CAST(n_records AS BIGINT) AS n_records,
       CAST(n_probe AS BIGINT) AS n_probe,
       CAST(n_probe * (n_probe - 1) // 2 AS BIGINT) AS n_probe_pairs,
       CAST(n_exact AS BIGINT) AS n_exact,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_hit AS BIGINT) AS n_hit,
       CASE WHEN n_exact = 0 THEN NULL
            ELSE ROUND(CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE), 6)
       END AS pair_completeness,
       CASE WHEN n_probe < 2 THEN NULL
            ELSE ROUND(1.0 - CAST(n_candidates AS DOUBLE)
                 / CAST(n_probe * (n_probe - 1) // 2 AS DOUBLE), 6)
       END AS reduction_ratio,
       caps.n_capped_blocks,
       caps.n_overcap_members
FROM scalars, caps
""",
        "event_skew_profile": r"""
WITH c AS (
  SELECT COALESCE(CAST(event_type AS VARCHAR), 'NULL') AS key,
         COUNT(*) AS n
  FROM events GROUP BY 1
), t AS (
  SELECT SUM(n) AS total, COUNT(*) AS n_keys FROM c
), r AS (
  SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rank FROM c
)
SELECT CAST(rank AS BIGINT) AS rank,
       key,
       CAST(n AS BIGINT) AS n_rows_key,
       CAST(total AS BIGINT) AS n_rows_total,
       CAST(n_keys AS BIGINT) AS n_keys,
       ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
       ROUND(CAST(n * n_keys AS DOUBLE) / CAST(total AS DOUBLE), 6) AS skew_ratio
FROM r, t
WHERE rank <= 5
""",
        "streaming_scd2_merge": r"""
WITH dim AS (
  SELECT c_custkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
         c_mktsegment AS segment
  FROM customer
), upd AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN acctbal_cents + 10000
              ELSE acctbal_cents END AS acctbal_cents,
         CASE WHEN c_custkey % 11 = 0 THEN 'MACHINERY'
              ELSE segment END AS segment
  FROM dim
  WHERE c_custkey % 7 = 0 OR c_custkey % 11 = 0
  UNION ALL SELECT (SELECT max(c_custkey) + 1 FROM customer), 1000, 'BUILDING'
), changed AS (
  SELECT d.c_custkey
  FROM dim d JOIN upd u ON d.c_custkey = u.c_custkey
  WHERE d.acctbal_cents IS DISTINCT FROM u.acctbal_cents
     OR d.segment IS DISTINCT FROM u.segment
)
SELECT COALESCE(d.c_custkey, u.c_custkey) AS c_custkey,
       CAST(CASE WHEN ch.c_custkey IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS n_versions,
       CAST(1 AS BIGINT) AS n_open,
       COALESCE(u.acctbal_cents, d.acctbal_cents) AS open_acctbal_cents,
       COALESCE(u.segment, d.segment) AS open_segment
FROM dim d
FULL OUTER JOIN upd u ON d.c_custkey = u.c_custkey
LEFT JOIN changed ch ON COALESCE(d.c_custkey, u.c_custkey) = ch.c_custkey
""",
        "orders_constraint_audit": r"""
WITH s AS (
  SELECT COUNT(*) AS n_rows,
         -- ROW() wrapper: NULL keys participate like values (the Spark
         -- side counts distinct over a struct; bare COUNT(DISTINCT col)
         -- would drop NULL keys and diverge on nullable audit columns)
         COUNT(*) - COUNT(DISTINCT ROW(o_orderkey)) AS v_uniq,
         SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_nn,
         SUM(CASE WHEN o_totalprice IS NOT NULL
                   AND (o_totalprice < 0.0 OR o_totalprice > 1000000000.0)
                  THEN 1 ELSE 0 END) AS v_rng,
         SUM(CASE WHEN o_orderstatus IS NULL
                   OR o_orderstatus NOT IN ('F', 'O', 'P')
                  THEN 1 ELSE 0 END) AS v_enum,
         SUM(CASE WHEN o_orderpriority IS NULL
                   OR o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END) AS v_prio
  FROM orders
), fk AS (
  SELECT COUNT(*) AS v_fk
  FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
)
SELECT "constraint", kind,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_violations AS BIGINT) AS n_violations,
       n_violations = 0 AS pass
FROM (
  SELECT 'orderkey_unique' AS "constraint", 'unique' AS kind, n_rows, v_uniq AS n_violations FROM s
  UNION ALL SELECT 'custkey_not_null', 'not_null', n_rows, v_nn FROM s
  UNION ALL SELECT 'custkey_fk_customer', 'foreign_key', n_rows, (SELECT v_fk FROM fk) FROM s
  UNION ALL SELECT 'totalprice_positive', 'range', n_rows, v_rng FROM s
  UNION ALL SELECT 'status_enum', 'accepted_values', n_rows, v_enum FROM s
  UNION ALL SELECT 'priority_two_values', 'accepted_values', n_rows, v_prio FROM s
)
""",
        "doc_ngram_diversity": r"""
WITH base AS (
  SELECT source,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '') AS toks
  FROM documents
  WHERE len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '')) > 0
), grams AS (
  SELECT source, n, array_to_string(list_slice(toks, CAST(i AS BIGINT) + 1, CAST(i AS BIGINT) + n), ' ') AS g
  FROM base, UNNEST([1, 2, 3]) AS nn(n), UNNEST(range(len(toks) - n + 1)) AS r(i)
  WHERE len(toks) >= n
)
SELECT source,
       CAST(n AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
       CAST(COUNT(DISTINCT g) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS distinct_ratio
FROM grams GROUP BY source, n
""",
        "event_clustering_coeff": r"""
WITH d AS (
  SELECT event_id % 997 + (event_id // 10000000) * 997 AS s,
         (event_id * 31 + event_id // 997) % 997
           + (event_id // 10000000) * 997 AS t
  FROM events
), und AS (
  SELECT DISTINCT LEAST(s, t) AS a, GREATEST(s, t) AS b
  FROM d WHERE s != t
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
), pn AS (
  SELECT node, COUNT(*) AS c FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY 1
), degs AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY 1
)
SELECT CAST(node AS BIGINT) AS node,
       CAST(degree AS BIGINT) AS degree,
       CAST(COALESCE(c, 0) AS BIGINT) AS n_triangles,
       CASE WHEN degree >= 2
            THEN (2.0 * COALESCE(c, 0)) / (CAST(degree AS DOUBLE) * (degree - 1))
            ELSE 0.0 END AS clustering_coeff
FROM degs LEFT JOIN pn USING (node)
""",
        "event_assortativity": r"""
WITH d AS (
  SELECT event_id % 997 + (event_id // 10000000) * 997 AS s,
         (event_id * 31 + event_id // 997) % 997
           + (event_id // 10000000) * 997 AS t
  FROM events
), und AS (
  SELECT DISTINCT LEAST(s, t) AS a, GREATEST(s, t) AS b
  FROM d WHERE s != t
), degs AS (
  SELECT node, COUNT(*) AS dd FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY 1
), paired AS (
  SELECT da.dd AS da, db.dd AS db
  FROM und JOIN degs da ON und.a = da.node JOIN degs db ON und.b = db.node
), sums AS (
  SELECT COUNT(*) AS m,
         SUM(da * db) AS sxy,
         SUM(da + db) AS sx,
         SUM(da * da + db * db) AS sxx
  FROM paired
)
SELECT CAST((SELECT COUNT(*) FROM degs) AS BIGINT) AS n_nodes,
       CAST(m AS BIGINT) AS n_edges,
       ROUND(
         (CAST(sxy AS DOUBLE) * 2.0 / (2.0 * CAST(m AS DOUBLE))
          - (CAST(sx AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
            * (CAST(sx AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))))
         / (CAST(sxx AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))
          - (CAST(sx AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
            * (CAST(sx AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))), 6)
       AS assortativity
FROM sums
""",
        "doc_temperature_mixture": r"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         SUM(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS n_tokens
  FROM documents GROUP BY source
), sc AS (
  SELECT source, n_docs, n_tokens,
         CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS observed_share,
         sqrt(CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE)) AS scaled
  FROM per
)
SELECT source,
  CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  observed_share,
  ROUND(scaled / SUM(scaled) OVER (), 6) AS target_share,
  LEAST(CAST('1.0' AS DOUBLE), COALESCE(
    CASE WHEN n_tokens > 0 THEN
      scaled
      * (MIN(CASE WHEN scaled > 0 THEN CAST(n_tokens AS DOUBLE) / scaled END) OVER ())
      / CAST(n_tokens AS DOUBLE)
    END, CAST('0.0' AS DOUBLE))) AS sampling_rate
FROM sc
""",
        "doc_dup_substrings": r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(coalesce(text,''))), '\s+'),
                     x -> x != '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(list_slice(toks, CAST(i AS BIGINT)+1, CAST(i AS BIGINT)+20), ' ') AS g
  FROM t, UNNEST(range(len(toks) - 20 + 1)) AS r(i)
  WHERE len(toks) >= 20
), dup AS (
  SELECT g FROM sh GROUP BY g HAVING COUNT(*) >= 2
), hits AS (
  SELECT doc_id, pos FROM sh WHERE g IN (SELECT g FROM dup)
), lagged AS (
  SELECT doc_id, pos,
         LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM hits
), isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > 20 THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM lagged
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 19 AS BIGINT) AS span_end,
       CAST(MAX(pos) - MIN(pos) + 20 AS BIGINT) AS n_span_tokens
FROM isl
GROUP BY doc_id, island
""",
        "doc_substring_excise": r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(coalesce(text,''))), '\s+'),
                     x -> x != '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(list_slice(toks, CAST(i AS BIGINT)+1, CAST(i AS BIGINT)+20), ' ') AS g
  FROM t, UNNEST(range(len(toks) - 20 + 1)) AS r(i)
  WHERE len(toks) >= 20
), marked AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY g) AS cnt,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
  FROM sh
), hits AS (
  SELECT doc_id, pos FROM marked WHERE cnt >= 2 AND rn > 1
), lagged AS (
  SELECT doc_id, pos,
         LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM hits
), isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > 20 THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM lagged
), spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 19 AS e
  FROM isl GROUP BY doc_id, island
), covered AS (
  SELECT DISTINCT doc_id, s + CAST(j AS BIGINT) AS pos
  FROM spans, UNNEST(range(e - s + 1)) AS u(j)
), tk AS (
  SELECT doc_id, CAST(j AS BIGINT) AS pos, toks[CAST(j AS BIGINT) + 1] AS tok
  FROM t, UNNEST(range(len(toks))) AS u(j)
), kept AS (
  SELECT tk.doc_id, tk.pos, tk.tok
  FROM tk ANTI JOIN covered c ON tk.doc_id = c.doc_id AND tk.pos = c.pos
), re AS (
  SELECT doc_id,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
), nt AS (
  SELECT doc_id, len(toks) AS n_total FROM t
)
SELECT d.doc_id,
       md5(COALESCE(re.clean_text, '')) AS clean_md5,
       CAST(COALESCE(re.n_kept, 0) AS BIGINT) AS n_tokens_kept,
       CAST(COALESCE(nt.n_total, 0) - COALESCE(re.n_kept, 0) AS BIGINT) AS n_tokens_dropped
FROM documents d
LEFT JOIN nt ON d.doc_id = nt.doc_id
LEFT JOIN re ON d.doc_id = re.doc_id
""",
        "doc_span_dedup": r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
), spans AS (
  SELECT doc_id, i AS span_no, array_to_string(t[(i*10+1):(i*10+10)], ' ') AS span
  FROM toks, LATERAL (SELECT unnest(range(CAST(greatest(floor(len(t)/10), 0) AS BIGINT))) AS i)
), marked AS (
  SELECT doc_id,
    CAST(count(*) OVER (PARTITION BY span) > 1
         AND row_number() OVER (PARTITION BY span ORDER BY doc_id, span_no) > 1 AS BIGINT) AS dup
  FROM spans
), per_doc AS (
  SELECT doc_id, count(*) AS n_spans, sum(dup) AS n_dup FROM marked GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
  CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_spans,
  CAST(coalesce(p.n_dup, 0) AS DOUBLE) / greatest(coalesce(p.n_spans, 0), 1) AS dup_span_frac
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
        "doc_c4_filter": r"""
WITH base AS (
  SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS lines FROM documents
), f AS (
  SELECT doc_id, lines,
    list_filter(lines, l -> length(trim(l)) > 0
      AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
      AND NOT contains(lower(l), 'javascript')
      AND NOT contains(lower(l), 'lorem ipsum')
      AND NOT contains(lower(l), 'cookie policy')
      AND NOT contains(lower(l), 'privacy policy')
      AND NOT contains(lower(l), 'terms of use')
      AND NOT contains(lower(l), '{')) AS kept
  FROM base
)
SELECT doc_id,
  md5(array_to_string(kept, chr(10))) AS clean_md5,
  CAST(len(lines) AS BIGINT) AS n_lines_total,
  CAST(len(kept) AS BIGINT) AS n_lines_kept,
  CAST(len(kept) >= 1 AS BIGINT) AS passes_c4
FROM f
""",
        "doc_line_dedup": r"""
WITH base AS (
  SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS ls FROM documents
), lines AS (
  SELECT doc_id, generate_subscripts(ls, 1) - 1 AS line_no, unnest(ls) AS line FROM base
), trivial AS (
  SELECT * FROM lines WHERE length(trim(line)) < 10
), winners AS (
  SELECT doc_id, line_no, line FROM lines WHERE length(trim(line)) >= 10
  QUALIFY row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) = 1
), kept AS (
  SELECT * FROM winners UNION ALL SELECT * FROM trivial
), reasm AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
), totals AS (
  SELECT doc_id, len(string_split(coalesce(text, ''), chr(10))) AS n_total FROM documents
)
SELECT t.doc_id,
  md5(coalesce(r.clean_text, '')) AS clean_md5,
  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_lines_kept,
  CAST(t.n_total - coalesce(r.n_kept, 0) AS BIGINT) AS n_lines_dropped
FROM totals t LEFT JOIN reasm r USING (doc_id)
""",
        "doc_gopher_repetition": r"""
WITH nl AS (
  SELECT doc_id, list_filter(string_split(text, chr(10)), x -> length(trim(x)) > 0) AS lines
  FROM documents
), ex AS (
  SELECT doc_id, unnest(lines) AS l FROM nl
), cnt AS (
  SELECT doc_id, l, length(l) AS ln, count(*) OVER (PARTITION BY doc_id, l) AS c FROM ex
), agg AS (
  SELECT doc_id, sum(ln) AS total, sum(CASE WHEN c > 1 THEN ln ELSE 0 END) AS dup
  FROM cnt GROUP BY doc_id
), tk AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks,
         greatest(length(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')), 1) AS nchars
  FROM documents
), g2 AS (
  SELECT doc_id, nchars, unnest(list_transform(range(len(toks) - 1), i -> array_to_string(toks[i+1:i+2], ' '))) AS gram
  FROM tk WHERE len(toks) >= 2
), t2 AS (
  SELECT doc_id, CAST(count(*) * length(gram) AS DOUBLE) / any_value(nchars) AS frac,
         row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, gram ASC) AS rn
  FROM g2 GROUP BY doc_id, gram
), g3 AS (
  SELECT doc_id, nchars, unnest(list_transform(range(len(toks) - 2), i -> array_to_string(toks[i+1:i+3], ' '))) AS gram
  FROM tk WHERE len(toks) >= 3
), t3 AS (
  SELECT doc_id, CAST(count(*) * length(gram) AS DOUBLE) / any_value(nchars) AS frac,
         row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, gram ASC) AS rn
  FROM g3 GROUP BY doc_id, gram
), g4 AS (
  SELECT doc_id, nchars, unnest(list_transform(range(len(toks) - 3), i -> array_to_string(toks[i+1:i+4], ' '))) AS gram
  FROM tk WHERE len(toks) >= 4
), t4 AS (
  SELECT doc_id, CAST(count(*) * length(gram) AS DOUBLE) / any_value(nchars) AS frac,
         row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, gram ASC) AS rn
  FROM g4 GROUP BY doc_id, gram
)
SELECT nl.doc_id,
  CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / greatest(len(lines), 1) AS frac_dup_lines,
  COALESCE(CAST(dup AS DOUBLE) / greatest(total, 1), 0.0) AS frac_dup_line_chars,
  COALESCE((SELECT frac FROM t2 WHERE t2.doc_id = nl.doc_id AND rn = 1), 0.0) AS frac_top_2gram_chars,
  COALESCE((SELECT frac FROM t3 WHERE t3.doc_id = nl.doc_id AND rn = 1), 0.0) AS frac_top_3gram_chars,
  COALESCE((SELECT frac FROM t4 WHERE t4.doc_id = nl.doc_id AND rn = 1), 0.0) AS frac_top_4gram_chars
FROM nl LEFT JOIN agg ON nl.doc_id = agg.doc_id
""",
        "event_session_range_join": """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS tu FROM events
), g AS (
  SELECT user_id, event_id, tu,
         CASE WHEN tu - lag(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) IS NULL
                OR tu - lag(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM e
), s AS (
  SELECT user_id, tu,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY tu, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
), iv AS (
  SELECT user_id, session_id, min(tu) AS t_start, max(tu) AS t_end
  FROM s GROUP BY user_id, session_id
)
SELECT iv.user_id, CAST(iv.session_id AS BIGINT) AS session_id, count(*) AS n_assigned
FROM iv JOIN e ON e.user_id = iv.user_id AND e.tu BETWEEN iv.t_start AND iv.t_end
GROUP BY iv.user_id, iv.session_id
""",
        "purchase_and_signup_users": """
SELECT DISTINCT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d') AS week
FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT DISTINCT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d') AS week
FROM events WHERE event_type = 'signup'
""",
        "event_cube": """
SELECT event_type, CAST(hour(ts) AS BIGINT) AS hour, count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS vc_sum
FROM events GROUP BY CUBE (event_type, hour(ts))
""",
        "event_value_percentiles": """
SELECT event_type,
       quantile_cont(CAST(round(value * 100) AS BIGINT), 0.25) AS p25,
       quantile_cont(CAST(round(value * 100) AS BIGINT), 0.50) AS p50,
       quantile_cont(CAST(round(value * 100) AS BIGINT), 0.75) AS p75
FROM events GROUP BY event_type
""",
        "event_range_frame": """
SELECT event_id,
       count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN CURRENT ROW AND 300000000 FOLLOWING) AS n_next_5min
FROM events
""",
        "distinct_users_by_type": """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type
""",
        "q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       count(*) AS count_order,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_c,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_e4,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) AS BIGINT) AS sum_charge_e6
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
""",
        "q3_top_orders": """
SELECT o_orderkey,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '2000-01-01'
GROUP BY o_orderkey
ORDER BY revenue_e4 DESC, o_orderkey
LIMIT 10
""",
        "top_customers": """
SELECT c_custkey, c_name,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_c
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue_c DESC, c_custkey
LIMIT 20
""",
        "order_priority_count": """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
""",
        "nation_order_volume": """
SELECT r_name, n_name, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_c
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
        "brand_volume": """
SELECT p_brand, count(*) AS n_items,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_c
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""",
        "event_order_asof": """
WITH ord AS (
  SELECT o_custkey AS user_id, o_orderdate AS ts,
         max(CAST(round(o_totalprice * 100) AS BIGINT)) AS order_c
  FROM orders GROUP BY 1, 2
)
SELECT e.user_id, e.event_id, o.order_c AS last_order_c
FROM events e ASOF LEFT JOIN ord o
  ON e.user_id = o.user_id AND e.ts >= o.ts
""",
        "event_rollup": f"""
WITH {_TRAJ_CTE}
SELECT state, dayofweek(ts) + 1 AS dow, count(*) AS n,
       CAST(sum(vc) AS BIGINT) AS sum_vc
FROM traj
GROUP BY ROLLUP(state, dayofweek(ts) + 1)
""",
        "purchase_not_error_users": """
SELECT DISTINCT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d') AS week
FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT DISTINCT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d')
FROM events WHERE event_type = 'error'
""",
        "q5_supplier_volume": """
SELECT n_name, count(*) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c2
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1999-01-01'
GROUP BY n_name
""",
        "q6_forecast_revenue": """
SELECT count(*) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_c2
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24
""",
        "q10_returned_items": """
SELECT c_custkey, c_name, count(*) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c2
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name
ORDER BY revenue_c2 DESC, c_custkey
LIMIT 20
""",
        "q2_min_supplier": """
WITH pairs AS (
  SELECT DISTINCT p_partkey, p_name, l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size = 10 AND p_type = 'PROMO'
), ranked AS (
  SELECT p_partkey, p_name, s_suppkey, s_name,
         CAST(round(s_acctbal * 100) AS BIGINT) AS s_acctbal_c,
         row_number() OVER (PARTITION BY p_partkey
                            ORDER BY s_acctbal, s_suppkey) AS rn
  FROM pairs JOIN supplier ON l_suppkey = s_suppkey
)
SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal_c
FROM ranked WHERE rn = 1
""",
        "q4_priority_exists": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_returnflag = 'R'
                AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
        "q7_volume_shipping": """
SELECT CAST(s_nationkey AS BIGINT) AS supp_nation,
       CAST(c_nationkey AS BIGINT) AS cust_nation,
       year(l_shipdate) AS l_year, count(*) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c2
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1999-01-01'
  AND ((s_nationkey = 1 AND c_nationkey = 2)
    OR (s_nationkey = 2 AND c_nationkey = 1))
GROUP BY 1, 2, 3
""",
        "q8_market_share": """
WITH agg AS (
  SELECT year(o_orderdate) AS o_year,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_rev_c2,
         CAST(sum(CASE WHEN s_nationkey = 5
                       THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                            * (100 - CAST(round(l_discount * 100) AS BIGINT))
                       ELSE 0 END) AS BIGINT) AS nation_rev_c2
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE p_type = 'PROMO' AND r_name = 'ASIA'
  GROUP BY 1
)
SELECT o_year, total_rev_c2, nation_rev_c2,
       round(CAST(nation_rev_c2 AS DOUBLE) / CAST(total_rev_c2 AS DOUBLE), 6) AS mkt_share
FROM agg
""",
        "q9_product_profit": """
SELECT n_name AS nation, year(l_shipdate) AS o_year, count(*) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS profit_c2
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
""",
        "q12_late_shipments": """
SELECT year(l_shipdate) AS l_year,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY 1
""",
        "q13_order_distribution": """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN (SELECT * FROM orders
             WHERE o_orderdate >= TIMESTAMP '2001-01-01') o
    ON c_custkey = o.o_custkey
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count
""",
        "q14_promo_revenue": """
WITH agg AS (
  SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
                       THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                            * (100 - CAST(round(l_discount * 100) AS BIGINT))
                       ELSE 0 END) AS BIGINT) AS promo_rev_c2,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_rev_c2
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-06-01'
    AND l_shipdate <  TIMESTAMP '1997-07-01'
)
SELECT promo_rev_c2, total_rev_c2,
       round(CAST(promo_rev_c2 AS DOUBLE) / CAST(total_rev_c2 AS DOUBLE), 6) AS promo_share
FROM agg
""",
        "q15_top_supplier": """
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_rev_c2
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_rev_c2
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev_c2 = (SELECT max(total_rev_c2) FROM rev)
""",
        "q16_part_supplier_stats": """
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
GROUP BY 1, 2, 3
""",
        "q17_small_qty_revenue": """
WITH li AS (
  SELECT l_quantity, l_extendedprice, p_partkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23'
), avg_q AS (
  SELECT p_partkey AS ap, avg(l_quantity) AS avg_qty FROM li GROUP BY 1
)
SELECT count(*) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c
FROM li JOIN avg_q ON p_partkey = ap
WHERE l_quantity < 0.5 * avg_qty
""",
        "q18_large_volume_customers": """
WITH big AS (
  SELECT l_orderkey, CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(round(sum(l_quantity)) AS BIGINT) > 250
)
SELECT c_custkey, c_name, o_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS o_totalprice_c, sum_qty
FROM big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
""",
        "q19_or_predicates": """
SELECT count(*) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c2
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""",
        "q20_semi_chain": """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red%'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(l_quantity) > 60
)
""",
        "q21_waiting_supplier": """
WITH per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS ns,
         count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS nr,
         max(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS culprit
  FROM lineitem GROUP BY l_orderkey
)
SELECT s_suppkey, s_name, count(*) AS numwait
FROM per_order JOIN supplier ON culprit = s_suppkey
WHERE ns > 1 AND nr = 1
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
LIMIT 20
""",
        "q22_dormant_customers": """
WITH thr AS (
  SELECT CAST(floor(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                    / count(*)) AS BIGINT) AS thr_c
  FROM customer WHERE CAST(round(c_acctbal * 100) AS BIGINT) > 0
)
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, count(*) AS numcust,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totacctbal_c
FROM customer, thr
WHERE CAST(round(c_acctbal * 100) AS BIGINT) > thr_c
  AND c_nationkey < 10
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
""",
        "event_confidence_interval": f"""
WITH {_TRAJ_CTE}
SELECT state,
       round(quantile_cont(vc, 0.025), 6) AS ci_lo,
       round(quantile_cont(vc, 0.975), 6) AS ci_hi,
       round(avg(vc), 6) AS ci_mean
FROM traj
GROUP BY state
""",
        "vocab_stats": r"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
), per_tok AS (
  SELECT tok, count(*) AS n FROM tok GROUP BY tok
)
SELECT count(*) AS vocab_size,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singletons
FROM per_tok
""",
        "top_tokens": r"""
SELECT tok, count(*) AS n
FROM (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
)
GROUP BY tok
ORDER BY n DESC, tok
LIMIT 20
""",
        # Gaussian kernel k(x, l) = exp(-||x-l||^2 / (2 sigma^2)), sigma=4:
        # per-row deterministic fp ops (same left-to-right element sum as
        # the Spark aggregate expression) — bit-exact across engines
        "kernel_gram_events": """
WITH l0 AS (SELECT embedding AS v FROM embeddings WHERE vec_id=0),
     l1 AS (SELECT embedding AS v FROM embeddings WHERE vec_id=1),
     l2 AS (SELECT embedding AS v FROM embeddings WHERE vec_id=2)
SELECT vec_id, round(exp(-d0/32.0), 6) AS k0, round(exp(-d1/32.0), 6) AS k1,
       round(exp(-d2/32.0), 6) AS k2
FROM (
  SELECT e.vec_id,
    list_sum(list_transform(range(1, len(e.embedding)+1), i ->
      (CAST(e.embedding[i] AS DOUBLE) - CAST(l0.v[i] AS DOUBLE))
      * (CAST(e.embedding[i] AS DOUBLE) - CAST(l0.v[i] AS DOUBLE)))) AS d0,
    list_sum(list_transform(range(1, len(e.embedding)+1), i ->
      (CAST(e.embedding[i] AS DOUBLE) - CAST(l1.v[i] AS DOUBLE))
      * (CAST(e.embedding[i] AS DOUBLE) - CAST(l1.v[i] AS DOUBLE)))) AS d1,
    list_sum(list_transform(range(1, len(e.embedding)+1), i ->
      (CAST(e.embedding[i] AS DOUBLE) - CAST(l2.v[i] AS DOUBLE))
      * (CAST(e.embedding[i] AS DOUBLE) - CAST(l2.v[i] AS DOUBLE)))) AS d2
  FROM embeddings e, l0, l1, l2
)
""",
    }
    # the bucketed-sink round trip must reproduce exactly the counts of
    # the original frame — same oracle as the direct counting query
    base["bucketed_traj_counts"] = base["event_transition_counts"]
    # streaming replay of a stateless stage must equal the batch result
    # row-for-row — same oracle as the batch query
    base["streaming_c4_replay"] = base["doc_c4_filter"]
    # streaming CUSUM's end-of-stream state is pinned equal to the batch
    # query (same fixed centers, same total order), so one oracle serves both
    base["streaming_cusum"] = base["event_cusum"]
    base["event_zorder"] = _zorder_oracle_sql()
    # EWMA: identical IEEE-754 left fold — DuckDB list_reduce over the
    # deterministically ordered value list, seeded with the first element
    # exactly like the Spark F.aggregate(slice(...), element_at(1), ...)
    base["event_ewma"] = r"""
WITH s AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vals
  FROM events WHERE value IS NOT NULL GROUP BY user_id
)
SELECT user_id,
       CAST(len(vals) AS BIGINT) AS n_events,
       list_reduce(CAST(vals AS DOUBLE[]), (acc, x) -> acc * 0.75 + x * 0.25) AS ewma_value
FROM s
"""
    base["doc_quality_curriculum"] = f"""
WITH base AS (
  SELECT doc_id, lang, text,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
), m AS (
  SELECT doc_id, lang, len(toks) AS n_tok,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / greatest(length(text), 1) AS punct_ratio,
         len(list_filter(toks, t -> list_contains({_sw_list('en')}, t))) / greatest(len(toks), 1) AS stopword_ratio,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / greatest(len(toks), 1) AS mean_word_length
  FROM base
), q AS (
  SELECT doc_id, lang, n_tok,
       (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END
        + CASE WHEN punct_ratio < 0.3 THEN 1.0 - punct_ratio / 0.3 ELSE 0.0 END
        + CASE WHEN mean_word_length >= 2.0 AND mean_word_length <= 12.0 THEN 1.0 ELSE 0.0 END
        + least(stopword_ratio / 0.2, 1.0)) / 4.0 AS quality
  FROM m
), r AS (
  SELECT lang, doc_id, quality, n_tok,
         ntile(5) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS bucket
  FROM q
), per AS (
  SELECT lang, bucket, count(*) AS n_docs, SUM(n_tok) AS n_tokens,
         min(quality) AS min_score, max(quality) AS max_score
  FROM r GROUP BY lang, bucket
)
SELECT lang, CAST(bucket AS BIGINT) AS bucket,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
       min_score, max_score
FROM per
"""
    # the index probe must return exactly the conjunctive query answered
    # from the raw corpus — the persisted layout is an access path, not
    # a semantic change
    base["doc_postings_index"] = r"""
WITH t AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+'),
                            x -> x != '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM t WHERE term IN ('query', 'window', 'scan')
  GROUP BY doc_id, term
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(SUM(tf) AS BIGINT) AS total_tf
FROM tf GROUP BY doc_id HAVING count(*) = 3
"""
    # the JSONL round-trip must reproduce the corpus byte-for-byte: the
    # oracle audits the RAW parquet, so any serialization loss fails
    base["jsonl_roundtrip"] = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS chars_total,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents GROUP BY lang
"""
    base["event_top_paths"] = """
WITH o AS (
  SELECT event_type,
         lead(event_type, 1) OVER w AS e1,
         lead(event_type, 2) OVER w AS e2
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), p AS (
  SELECT event_type || '>' || e1 || '>' || e2 AS path FROM o WHERE e2 IS NOT NULL
)
SELECT path, CAST(count(*) AS BIGINT) AS n
FROM p GROUP BY path ORDER BY n DESC, path LIMIT 20
"""
    # streaming EWMA's end-of-stream state is the identical IEEE fold in
    # time order — bit-equal to the batch operator, one oracle serves both
    base["streaming_ewma"] = base["event_ewma"]
    # the streaming bottom-k sample is content-addressed, so its end
    # state equals the batch sketch for ANY chunking — the estimator
    # oracle for event_kmv_rollup serves both (aliased after the
    # estimator_oracles() update below)
    # PPJoin prefix-filter set-similarity join: the oracle replays the
    # candidate generation (rarest-first prefix equi-join + integer
    # length filter) and the integer verification decision-for-decision
    base["doc_setsim_pairs"] = r"""
WITH toks AS (
  SELECT doc_id,
         list_distinct(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                   x -> x != '')) AS ts
  FROM documents
  WHERE source = 'src0'
    AND len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '')) > 0
), ex AS (
  SELECT doc_id, unnest(ts) AS tok FROM toks
), dfr AS (
  SELECT tok, count(*) AS df FROM ex GROUP BY tok
), ord_ex AS (
  SELECT e.doc_id, e.tok,
         row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.tok) AS pos,
         count(*) OVER (PARTITION BY e.doc_id) AS sz
  FROM ex e JOIN dfr d ON e.tok = d.tok
), pref AS (
  SELECT doc_id, tok, sz FROM ord_ex
  WHERE pos <= sz - ((80 * sz + 99) // 100) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
  WHERE 100 * least(a.sz, b.sz) >= 80 * greatest(a.sz, b.sz)
), v AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(x.ts, y.ts)) AS i,
         len(x.ts) + len(y.ts) - len(list_intersect(x.ts, y.ts)) AS u
  FROM cand c JOIN toks x ON x.doc_id = c.id_a JOIN toks y ON y.doc_id = c.id_b
)
SELECT id_a, id_b,
       CAST(i AS BIGINT) AS n_intersect,
       CAST(u AS BIGINT) AS n_union,
       CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
FROM v WHERE 100 * i >= 80 * u
"""
    # estimator-pipeline oracles: independently-recomputed data path +
    # driver-finalize literals (deeptime_spark/oracle_ref.py). Builders are
    # failure-isolated; a raising builder leaves its query rows-only.
    try:
        from deeptime_spark.oracle_ref import (
            CUSTOMER_LINKAGE_PAIRS_SQL,
            estimator_oracles,
        )

        # single definition shared with the entity-resolution builder
        base["customer_record_linkage"] = CUSTOMER_LINKAGE_PAIRS_SQL
        base.update(estimator_oracles())
    except Exception:
        pass
    if "event_kmv_rollup" in base:
        base["streaming_kmv_rollup"] = base["event_kmv_rollup"]
    # batch-equality contract: the streaming probe's per-batch union ==
    # the one-shot batch probe, so the oracle is shared verbatim
    if "customer_linkage_probe" in base:
        base["streaming_linkage_probe"] = base["customer_linkage_probe"]
    return base
