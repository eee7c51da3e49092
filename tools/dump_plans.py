"""Dump formatted physical plans (``.explain("formatted")``).

Without arguments: regenerate PLANS.md, the plans of the flagship queries,
each annotated with the design claim the plan is supposed to exhibit (the
same claims tests/test_plans.py pins in CI).

With arguments: write ``<outdir>/<query>_<tag>.txt`` for every query
named. Run once in a worktree at the pre-optimization commit with tag
``before`` and once in the optimized tree with tag ``after``; the
plan-shape claims of an optimization round are checked against these
files (plans/r12, plans/r13). Many harness queries materialize eagerly
inside ``queries()`` (the returned frame is a literal built from
driver-side results); for those the file pins only the final shape, and
the returned frame's partition count is printed alongside the plan.

Both modes read the tables at $SPARK_GRAFT_SF_DIR (default sf0.001).

Usage: python tools/dump_plans.py                       # PLANS.md
       python tools/dump_plans.py <tag> <outdir> <query> [query ...]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"
SF = os.environ.get("SPARK_GRAFT_SF_DIR", SF)

# query -> what to look for in the plan (the reviewable claim)
FLAGSHIPS = {
    "q6_forecast_revenue": (
        "Scan-dominated relational query: every predicate (shipdate range, "
        "discount bounds, quantity) appears in PushedFilters; ReadSchema "
        "carries only the 4 referenced columns; one partial+final aggregate. "
        "At 100 TB this is the I/O-minimal plan — the scan does the work."
    ),
    "q5_supplier_volume": (
        "Six-table star join: every dimension side is a BroadcastHashJoin "
        "(no sort-merge, no dimension shuffle); the only Exchange is the "
        "final groupBy. The fact table streams once."
    ),
    "event_transition_counts": (
        "MSM counting: one Exchange for the per-trajectory window (lag "
        "pairing), one for the (s_from, s_to) count — lagtime never adds "
        "passes. Map-side partial aggregation keeps the count shuffle at "
        "|states|^2 rows per partition."
    ),
    "event_moments": (
        "TICA/VAMP front-end: the lagged-pair moments run as ONE scan with "
        "partial aggregation before the single merge Exchange — the "
        "reference's O(N^2 T) BLAS pass re-expressed as a tree-reduced "
        "codegen aggregate."
    ),
    "minhash_bands": (
        "MinHash LSH: explode + 32 codegen hash columns + partial-agg min "
        "signatures (shuffle carries |docs| x 32 ints, never raw shingles), "
        "band explode, bucket window with WindowGroupLimit capping hot "
        "buckets, pair self-join inside buckets only. No Python anywhere."
    ),
    "doc_gopher_quality": (
        "Quality rules as pure Column expressions: a single whole-stage-"
        "codegen projection over the scan — zero Exchange, zero Python."
    ),
    "q8_market_share": (
        "Seven-way conditional-aggregation star join: part/customer/"
        "supplier/nation/region all broadcast, ONE exchange (the year "
        "groupBy); the share is exact BIGINT numerator/denominator "
        "computed in the same pass via CASE WHEN — no second scan."
    ),
    "ivfpq_topk": (
        "IVF-PQ ANN: a bounded number of ArrowEvalPython stages (cell "
        "assignment + PQ encode) run BEFORE the probe join; ADC scoring "
        "and the two-stage top-k are pure JVM over broadcast lookup "
        "tables — no Python after the join."
    ),
    "doc_hll_shingles": (
        "HLL sketch (r6): ONE codegen xxhash64 + bit-ops pass per value, "
        "map-side partial min into <= 2^p registers per group, one "
        "Exchange; the conv-based bit length runs per REGISTER. No "
        "EvalPython anywhere in the sketch build."
    ),
    "doc_bloom_decontaminate": (
        "Bloom probe (r6): membership is k BroadcastHashJoins with AND-ed "
        "null flags — the corpus/gram side is MAP-ONLY (no explode-join "
        "groupBy; that formulation measured slope 4.69 at x8 and was "
        "rewritten). The filter build is one explode + distinct bounded "
        "by m_bits."
    ),
    "doc_cms_word_counts": (
        "Count-min (r6): sketch build is one explode + partial-agg "
        "Exchange into <= depth*width cells; candidate top-k via "
        "TakeOrdered; point queries join the broadcast sketch."
    ),
    "doc_bm25_search": (
        "BM25 (r6): the tf relation is filtered to the query terms "
        "BEFORE any aggregation; the score is one codegen expression "
        "with driver-computed idf literals; the final top-k is "
        "TakeOrderedAndProject — never a global Sort."
    ),
    "doc_edit_pairs": (
        "PassJoin edit-distance self-join (r7): segment/probe keys are "
        "codegen explode + substring arithmetic, the candidate join is an "
        "equi-join on (L, i, sub) — no CartesianProduct anywhere; the only "
        "nested-loop join is the broadcast short-string bucket; verification "
        "is Spark's threshold-banded levenshtein over candidates only."
    ),
    "doc_pmi_collocations": (
        "PMI collocations (r7): unigrams and bigrams share ONE scan + ONE "
        "count Exchange (persisted); min_count bounds the bigram relation "
        "before the two unigram joins; the top-k cut is TakeOrdered, not a "
        "global sort. The compared statistic is an exact-count ratio, so "
        "no Python evaluation appears anywhere."
    ),
    "media_ahash_pairs": (
        "Perceptual image dedup (r7): ONE ArrowEvalPython/mapInPandas stage "
        "(decode + integer aHash) dropping payloads immediately; banding is "
        "codegen shift/mask explode; pair generation is the capped bucket "
        "self-join; Hamming verify is codegen bit_count(xor). Radius 4 -> "
        "12-13 bit bands (128-value 7-bit bands measured slope 4.3 and were "
        "rejected in-round)."
    ),
    "doc_dup_substrings": (
        "Sliding-shingle exact-substring spans: ONE Generate explode of the "
        "k-gram regex pass; the duplicate-key relation comes from a "
        "partial-aggregated groupBy (map-side combine collapses hot "
        "boilerplate shingles before the shuffle); the mark join is an "
        "equi-join (AQE-skew-splittable); the islands merge is one Window "
        "per doc id. No CartesianProduct, no Python."
    ),
    "event_zorder": (
        "Z-order layout: the key is pure shift/and/or codegen (no fp, no "
        "UDF); one Exchange rangepartitioning on _zkey (the clustering "
        "pass), one Sort within partitions, one final aggregate. The min/max "
        "bounds enter as literals from the single driver agg."
    ),
    "doc_hybrid_search": (
        "Hybrid RRF: both candidate branches end in TakeOrderedAndProject "
        "(never a global sort); the fusion is a full-outer join of two "
        "<=k_each-row frames plus one fixed-order arithmetic projection. "
        "EvalPython must not appear."
    ),
    "doc_sparse_cosine": (
        "Sparse cosine (r6): rare-gram inverted index with capped "
        "join-free bucket pair expansion; exact verification joins are "
        "restricted to candidate ids (left_semi) and both persisted "
        "relations are reused across the dot/norm branches."
    ),
    "doc_hll_rollup": (
        "Mergeable-sketch rollup: the register build is one codegen "
        "hash-agg (map-side partial min, shuffle <= n_groups * 2^p "
        "rows); the merge scans ONLY the persisted register columns "
        "(ReadSchema has no text) and is one max-agg Exchange. History "
        "is never rescanned — the sketch table IS the state."
    ),
    "corpus_overlap_kmv": (
        "KMV set operations: the corpus-scale pass is one distinct on "
        "(source, xxhash64(shingle)); the bottom-k cut plans with "
        "WindowGroupLimit, so each map task ships <= k rows per source "
        "into the window Exchange; the pair algebra (broadcast pair "
        "join + union rank + one aggregate) runs on O(sources * k) "
        "sketch rows. No Python anywhere."
    ),
    "doc_postings_index": (
        "Persisted inverted index: the probe's bucket IN-list appears "
        "as PartitionFilters on the bucket-partitioned postings scan — "
        "static partition pruning, only the probed directories are "
        "read; the conjunctive check is one partial-aggregated groupBy "
        "over the pruned postings. No Python anywhere."
    ),
    "customer_record_linkage": (
        "Blocked record linkage (r10/r11): blocking is a row_number-"
        "capped equi-join per spec (WindowGroupLimit bounds hot blocks "
        "at max_block BEFORE pairing, so per-block fan-out is "
        "O(max_block) — the x32 ladder measures the resulting work "
        "plateau), comparison is codegen levenshtein + null-safe "
        "equality, the score one Column expression. No CartesianProduct "
        "and no Python anywhere (pinned by "
        "test_linkage_pipeline_no_cartesian_no_python)."
    ),
}

MANUAL_MARKER = "<!-- MANUAL SECTIONS BELOW: preserved by tools/dump_plans.py -->"


def _plan_doc_hll_rollup(spark):
    """The harness query finishes driver-side (its returned frame is a
    literal), so dump the plan that matters instead: the monoid merge
    over the persisted day-partitioned sketch table."""
    import tempfile

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from deeptime_spark.operators.sketches import hll_merge, hll_registers
    from deeptime_spark.operators.text import shingles

    docs = entrymod._read(spark, SF, "documents")
    vals = docs.select(
        "lang",
        (F.col("doc_id") % 7).alias("day"),
        F.explode(shingles(F.col("text"), 5)).alias("v"),
    )
    regs = hll_registers(vals, "v", ["lang", "day"], p=12)
    d = tempfile.mkdtemp(prefix="plans_hll_")  # tmp; OS-reclaimed
    regs.write.mode("overwrite").partitionBy("day").parquet(d)
    stored = spark.read.parquet(d)
    return hll_merge([stored.drop("day")], ["lang"])


def _plan_doc_postings_index(spark):
    """The harness query finishes driver-side (the tmp index dir is
    deleted in its finally block), so dump the probe plan over a
    just-written index instead — the partition pruning is the claim."""
    import tempfile

    import __spark_entry__ as entrymod
    from deeptime_spark.operators.retrieval import (
        probe_postings_index,
        write_postings_index,
    )

    docs = entrymod._read(spark, SF, "documents")
    d = tempfile.mkdtemp(prefix="plans_pidx_")  # tmp; OS-reclaimed
    write_postings_index(docs, d, n_buckets=16)
    return probe_postings_index(spark, d, ["query", "window", "scan"], mode="and")


# harness queries whose returned frame is a driver-side literal dump a
# purpose-built plan instead
PLAN_BUILDERS = {
    "doc_hll_rollup": _plan_doc_hll_rollup,
    "doc_postings_index": _plan_doc_postings_index,
}


def explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def write_plans_md(spark, qs) -> None:
    out = [
        "# PLANS — flagship physical plans, annotated",
        "",
        "Auto-generated by `tools/dump_plans.py` (re-run after plan-affecting",
        "changes). Each plan is shown with the design claim it must exhibit;",
        "`tests/test_plans.py` pins the same claims in CI so they cannot",
        f"silently regress. Plans captured at {os.path.basename(SF)} — the SHAPE is scale-",
        "invariant (AQE may re-plan exchanges at runtime, which is the point).",
        "",
    ]
    for name, claim in FLAGSHIPS.items():
        builder = PLAN_BUILDERS.get(name)
        df = builder(spark) if builder else qs[name](spark, SF)
        plan = explain(df).strip()
        out += [f"## {name}", "", claim, "", "```", plan, "```", ""]

    path = os.path.join(ROOT, "PLANS.md")
    # hand-written sections (regression adjudications, pinned multi-trial
    # profiles) live after the marker and survive regeneration
    manual = ""
    if os.path.exists(path):
        prev = open(path).read()
        if MANUAL_MARKER in prev:
            manual = prev.split(MANUAL_MARKER, 1)[1]
    with open(path, "w") as fh:
        fh.write("\n".join(out))
        fh.write("\n" + MANUAL_MARKER + "\n")
        fh.write(manual)
    print(f"wrote PLANS.md ({len(FLAGSHIPS)} plans)")


def write_query_plans(spark, qs, tag: str, outdir: str, names: list[str]) -> None:
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"SKIP unknown query {name}", file=sys.stderr)
            continue
        df = fn(spark, SF)
        plan = explain(df)
        npart = df.rdd.getNumPartitions()
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} ({tag}) — sf_dir={SF}\n")
            fh.write(f"# returned-frame partitions: {npart}\n\n")
            fh.write(plan)
        print(f"wrote {path} (partitions={npart})")


def main() -> int:
    args = sys.argv[1:]
    if 0 < len(args) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod
    from deeptime_spark.session import get_spark

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    if args:
        write_query_plans(spark, qs, args[0], args[1], args[2:])
    else:
        write_plans_md(spark, qs)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
