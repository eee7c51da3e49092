"""Deduplication operators for large-scale document corpora.

The training-data-pipeline surface (BASELINE.json north star): exact
dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard verification,
embedding-cosine near-dup. Designed for 100 TB: every stage is either a
map (signatures, all-JVM expressions) or a shuffle keyed on
hash/band-buckets whose cardinality we control; candidate verification
only ever runs inside buckets — never an all-pairs join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from deeptime_spark.local_relation import local_df as _local_df
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType, StructField, StructType

from deeptime_spark import dispatch
from deeptime_spark.operators.text import shingles, tokens

# Default cap on LSH bucket size before pair generation. A degenerate
# bucket (empty strings, boilerplate) would otherwise make the
# within-bucket self-join O(b^2) — at 100 TB one hot bucket can stall the
# whole stage. Capping trades recall on pathological buckets (the dropped
# members are near-identical boilerplate whose representatives still
# pair) for a hard quadratic bound per bucket.
DEFAULT_MAX_BUCKET = 256


def _cap_buckets(df: DataFrame, bucket_cols: list[str], order_col: str, max_bucket: int) -> DataFrame:
    """Keep at most ``max_bucket`` members per bucket (deterministic by
    ``order_col``). One window pass over the already-bucketed rows."""
    if max_bucket is None:
        return df
    w = Window.partitionBy(*bucket_cols).orderBy(F.col(order_col))
    return df.withColumn("_bn", F.row_number().over(w)).where(F.col("_bn") <= max_bucket).drop("_bn")


def _bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    payload_cols: list[str],
    max_bucket: int | None,
    size_probe: DataFrame | None = None,
) -> DataFrame:
    """Within-bucket candidate pairs WITHOUT a self-join.

    A self-join of the signature pipeline computes the scan + signature
    aggregation twice (Catalyst does not reuse the exchange across the
    join's aliased sides). Instead, ONE shuffle on the bucket key serves
    both the size cap (streaming row_number window — spills safely on a
    degenerate hot bucket) and a collect_list bounded by that cap; the
    (i, j) pairs are then expanded map-side from each bucket's member
    array. Member structs sort by id, so id_a < id_b by construction.

    ``size_probe``: scan-rooted frame whose Catalyst estimate gates a
    cluster-width pin of the bucket exchange (operators/layout.py).
    Payload-free banding rows are few BYTES but the in-bucket pair
    expansion is quadratic CPU — AQE coalesces the sub-MB shuffle to one
    task and the expansion serializes on it (measured 2.9 s single-task
    on corpus_tuned_dedup_probe after the with_est=False change). The
    pin is a no-op at scale (guide §2.5).
    """
    if size_probe is not None:
        from deeptime_spark.operators.layout import pin_width_for_cpu_dense

        df = pin_width_for_cpu_dense(df, *bucket_cols, size_probe=size_probe)
    capped = _cap_buckets(df, bucket_cols, id_col, max_bucket)
    member = F.struct(F.col(id_col).alias("id"), *[F.col(c).alias(c) for c in payload_cols])
    grouped = capped.groupBy(*bucket_cols).agg(F.sort_array(F.collect_list(member)).alias("_m"))
    m = F.col("_m")
    n = F.size(m)
    pair_expr = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.transform(
                F.slice(m, i + 2, n),
                lambda y: F.struct(F.element_at(m, i + 1).alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = grouped.where(n >= 2).select(F.explode(pair_expr).alias("_p"))
    sel = [F.col("_p.a.id").alias("id_a"), F.col("_p.b.id").alias("id_b")]
    for c in payload_cols:
        sel += [F.col(f"_p.a.{c}").alias(f"{c}_a"), F.col(f"_p.b.{c}").alias(f"{c}_b")]
    return pairs.select(*sel)


# ---------------------------------------------------------------- exact

def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", min_copies: int = 2,
    max_group_ids: int = 32,
) -> DataFrame:
    """Hash-groupBy exact dedup: one shuffle on md5(text).

    Returns (text_hash, n_copies, canonical_id=min id, doc_ids) for groups
    with >= ``min_copies`` members (default: actual duplicate groups only;
    pass 1 to fingerprint every group). At 100 TB the shuffle moves only
    (hash, id) pairs — project before grouping so the text never crosses
    the wire.

    ``doc_ids`` keeps at most ``max_group_ids`` members (the lowest ids) —
    at web scale the degenerate group (empty string, boilerplate page) has
    millions of members, and an unbounded collect_list would hand one
    reducer an arbitrarily large row. ``n_copies`` stays the exact count.
    Pass ``max_group_ids=0`` to drop the id list entirely (cheapest: no
    collect_list in the aggregate at all).
    """
    hashed = df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
    aggs = [F.count("*").alias("n_copies"), F.min(id_col).alias("canonical_id")]
    if max_group_ids > 0:
        aggs.append(
            F.slice(F.sort_array(F.collect_list(id_col)), 1, max_group_ids).alias("doc_ids")
        )
    return (
        hashed.groupBy("text_hash")
        .agg(*aggs)
        .where(F.col("n_copies") >= min_copies)
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each exact-duplicate group.
    Window over the hash: one shuffle, no join back."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------- minhash

def minhash_signature(text_col: str | Column = "text", n_hashes: int = 64, shingle_k: int = 5) -> Column:
    """n-permutation MinHash signature as an int array — all JVM.

    h_i(doc) = min over shingles s of murmur3(s, seed=i). Equivalent to the
    standard MinHash construction with hash-family-by-seed; executes as
    array_min(transform(...)) inside codegen, no Python, no shuffle.
    """
    sh = F.array_distinct(shingles(text_col, shingle_k))

    def hash_with_seed(i: int):
        # NB: must be a 1-arg lambda — a 2-arg lambda makes F.transform
        # pass the element *index* as the second argument
        return lambda s: F.hash(s, F.lit(i))

    return F.array(*[F.array_min(F.transform(sh, hash_with_seed(i))) for i in range(n_hashes)])


def with_minhash(df: DataFrame, text_col: str = "text", n_hashes: int = 64, shingle_k: int = 5,
                 out_col: str = "minhash") -> DataFrame:
    return df.withColumn(out_col, minhash_signature(text_col, n_hashes, shingle_k))


def minhash_signatures_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = 64, shingle_k: int = 5, out_col: str = "minhash",
    unit: str = "chars", impl: str = "arrow",
) -> DataFrame:
    """(id, minhash) signatures, scan-local (mapInPandas + numpy murmur3).

    Numerically identical to ``minhash_signature`` (same murmur3-by-seed
    family, same mins; ``F.hash(s, lit(i))`` chains seeds, so
    ``sig[i] = min murmur3_int32(i, seed=murmur3_utf8(s, 42))``) — the
    integers come from the ``spark_hashes`` replicas, vectorized per
    batch in ``operators/sig_numpy.py``, and ``impl='sql'`` keeps the
    explode + codegen-hash + partial-agg-min plan this replaces (the
    r12 equality pytest runs both). The Arrow form wins twice at any
    scale: the n_hashes-buffer hash-aggregate update cost (~11 us per
    exploded shingle row, 95% of the old stage) becomes vectorized
    numpy, and the pass is map-only — NO shuffle of document text,
    output is |docs| x (id, n_hashes ints) (guide §4.2, §2.3).
    """
    from deeptime_spark.operators.layout import spread_for_map_parallelism

    # single-row-group inputs scan as ONE task; the hash work is map-side,
    # so spread (no-op at scale) and key by id: downstream per-id joins
    # and groupBys reuse this layout (see operators/layout.py)
    df = spread_for_map_parallelism(df, id_col)
    if unit not in ("chars", "words"):
        raise ValueError(f"unit must be 'chars' or 'words', got {unit!r}")
    if impl == "arrow":
        from deeptime_spark.operators.sig_numpy import minhash_batch

        id_field = df.schema[id_col]
        sel = df.select(F.col(id_col), F.col(text_col).cast("string").alias("_txt"))
        schema = StructType(
            [
                StructField(id_col, id_field.dataType, id_field.nullable),
                StructField(out_col, ArrayType(IntegerType()), False),
            ]
        )

        def emit(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                keep, sigs = minhash_batch(
                    pdf["_txt"].tolist(), n_hashes, shingle_k, unit
                )
                if not keep:
                    continue
                out = pdf.iloc[keep, [0]].copy()
                out[out_col] = sigs.tolist()
                yield out

        return sel.mapInPandas(emit, schema=schema)
    if unit == "chars":
        elems = F.array_distinct(shingles(text_col, shingle_k))
    else:
        # token-SET minhash: the unit that makes the banding directly
        # comparable to the exact token-Jaccard PPJoin (dedup gate)
        from deeptime_spark.operators.text import tokens

        elems = F.array_distinct(F.filter(tokens(text_col), lambda t: t != ""))
    sh = df.select(F.col(id_col), F.explode(elems).alias("_sh"))
    # n_hashes SCALAR hash columns, not one array column: building an
    # n_hashes-element array per exploded shingle row costs one heap
    # allocation per row (|docs| x |shingles| of them) plus interpreted
    # element_at in every aggregate buffer; as flat columns both the
    # projection and the min() buffers stay primitive
    hs = sh.select(
        F.col(id_col),
        *[F.hash("_sh", F.lit(i)).alias(f"_h{i}") for i in range(n_hashes)],
    )
    mins = hs.groupBy(id_col).agg(
        *[F.min(f"_h{i}").alias(f"_h{i}") for i in range(n_hashes)]
    )
    return mins.select(F.col(id_col), F.array(*[f"_h{i}" for i in range(n_hashes)]).alias(out_col))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    unit: str = "chars",
    with_est: bool = True,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    r = n_hashes/bands rows; docs agreeing on any full band are candidates.

    Plan shape: map (signature) -> explode bands (xbands rows) -> shuffle on
    (band_idx, band_hash) -> cap bucket size at ``max_bucket`` -> within-
    bucket pairing. Returns candidate pairs (id_a < id_b) with their
    estimated signature similarity. A pair agreeing on a band with Jaccard
    j has match probability 1-(1-j^r)^b — the standard S-curve; tune
    bands/r for the target threshold. The cap bounds the self-join at
    O(max_bucket^2) per bucket (see DEFAULT_MAX_BUCKET).

    ``with_est=False`` drops the ``est_jaccard`` column AND, more
    importantly, the full ``minhash`` signature payload that computing it
    forces through the banding: with the estimate, every one of the
    ``bands`` exploded rows per doc carries the n_hashes-int array through
    the band-key exchange, into the capped-bucket member structs, and out
    through the pair dedup (nested-field pruning does not reach through
    collect_list + explode, so the payload survives even when the caller
    never reads ``est_jaccard``). Without it the banding moves (id,
    band_idx, band_hash) only — ~24 bytes/row instead of 24 + 4*n_hashes —
    and the pair dedup is a codegen HashAggregate over two ids instead of
    a SortAggregate dragging two signature arrays (guide §2.3: shuffle
    keys and metadata, not payloads). The candidate PAIR SET is identical
    either way; callers that feed exact verification (which never reads
    the estimate) should pass False.
    """
    if n_hashes % bands:
        raise ValueError("bands must divide n_hashes")
    r = n_hashes // bands
    sig = minhash_signatures_df(df, text_col, id_col, n_hashes, shingle_k, unit=unit)
    payload = ["minhash"] if with_est else []
    banded = sig.select(
        id_col,
        *payload,
        F.posexplode(
            F.array(*[F.xxhash64(F.slice("minhash", i * r + 1, r).cast("string")) for i in range(bands)])
        ).alias("band_idx", "band_hash"),
    )
    pairs = _bucket_pairs(
        banded, ["band_idx", "band_hash"], id_col, payload, max_bucket,
        size_probe=df,
    ).dropDuplicates(["id_a", "id_b"])
    if not with_est:
        return pairs
    est = F.size(
        F.filter(F.zip_with("minhash_a", "minhash_b", lambda x, y: (x == y).cast("int")), lambda v: v == 1)
    )
    return pairs.withColumn("est_jaccard", est / F.lit(n_hashes)).drop("minhash_a", "minhash_b")


# ---------------------------------------------------------------- jaccard

def ngram_jaccard(a_text: Column, b_text: Column, n: int = 3) -> Column:
    """Exact word n-gram Jaccard similarity between two text columns —
    the verification step after LSH candidate generation. Gram arrays via
    one codegen regex pass each (text.word_ngrams), then JVM set ops."""
    from deeptime_spark.operators.text import word_ngrams

    ga, gb = word_ngrams(a_text, n), word_ngrams(b_text, n)
    inter = F.size(F.array_intersect(ga, gb))
    union = F.size(F.array_union(ga, gb))
    return inter / F.greatest(union, F.lit(1))


def _candidate_docs(candidates: DataFrame, docs: DataFrame, id_col: str) -> DataFrame:
    """``docs`` restricted (left semi-join) to the ids on either side of
    a candidate pair."""
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    return docs.join(cand_ids, id_col, "left_semi")


def verify_candidates_jaccard(
    candidates: DataFrame, docs: DataFrame, threshold: float = 0.8,
    text_col: str = "text", id_col: str = "doc_id", n: int = 3,
) -> DataFrame:
    """Join candidate pairs back to PRE-COMPUTED gram arrays and keep
    pairs over the exact n-gram Jaccard threshold.

    Grams are built once per document (one codegen regex pass via
    ``word_ngrams``) and the per-pair work is pure JVM set algebra
    (array_intersect/array_union sizes) — computing grams per pair through
    interpreted HOFs is ~20x slower and O(|pairs|) instead of O(|docs|).
    The candidate set is tiny relative to the corpus, so the two joins
    broadcast-hash at scale.

    The gram frame is restricted to candidate-touched docs and
    ``persist()``-ed (lazily — no job until the caller's first action);
    the cache lives until the caller clears it
    (``spark.catalog.clearCache()``) or the block manager evicts it.
    ``candidates`` should itself be persisted or checkpointed: the
    restriction reads it twice more."""
    from deeptime_spark.operators.text import word_ngrams

    # gram computation restricted to candidate-touched documents: at
    # web scale the candidate set is a sliver of the corpus, so a
    # semi-join (AQE turns it into a broadcast when the id set is
    # small) keeps the regex pass off the untouched 99% — identical
    # results, since grams of non-candidate docs are never read. The id
    # set adds two more consumers of the candidate subtree, which would
    # re-run the whole LSH pipeline if ``candidates`` were not cached.
    doc_side = _candidate_docs(candidates, docs, id_col)
    from deeptime_spark.operators.layout import spread_for_map_parallelism

    # the gram regex pass is the expensive map stage here; spread it off a
    # single-split scan (no-op at scale), keyed so the pair joins cluster
    doc_side = spread_for_map_parallelism(doc_side, id_col)
    # DISTINCT gram arrays + their size, computed once per document.
    # array_intersect/array_union are SET operations (both deduplicate),
    # so intersecting the distinct arrays yields the same value, and
    # |A ∪ B| = |A| + |B| − |A ∩ B| holds exactly on the distinct
    # sizes — the per-pair array_union (as expensive as the intersect)
    # becomes integer arithmetic over per-doc sizes, and the smaller
    # distinct arrays make the remaining intersect cheaper (guide §1.2:
    # per-doc work should never be re-done per pair).
    # NOTE on gram hashing: hashing the distinct grams to longs for the
    # per-pair intersect (as _verify_pairs_token_jaccard and
    # verify_candidates_containment do) was MEASURED SLOWER here — this
    # function's callers verify few pairs per doc, so the per-doc
    # hashing pass (interpreted transform() HOF: anchor 5.09 -> 6.31 s
    # on corpus_clean_pipeline; explode+collect_list: 6.42 s) costs
    # more than the string-set intersects it saves. String arrays stay.
    grams = doc_side.select(
        F.col(id_col),
        F.array_distinct(word_ngrams(F.col(text_col), n)).alias("_grams"),
    ).withColumn("_gsz", F.size("_grams"))
    # BOTH pair joins consume the gram frame; without a cache the
    # semi-join + regex subtree executes once per branch (measured 2x
    # the whole verification cost at sf0.1). persist() is LAZY — it
    # shares the RDD identity across both join branches with no job
    # at construction time (a discarded result costs nothing). The
    # two branches CAN schedule gram tasks concurrently before cache
    # blocks land, recomputing some partitions on the first action —
    # correctness is unaffected and steady-state reuse still holds;
    # callers in tight loops that need a hard once-only guarantee
    # should force materialization (e.g. grams.count()). The frame is
    # candidate-touched docs only — by construction a sliver of the
    # corpus — so MEMORY_AND_DISK is safe at scale. CACHE LIFECYCLE IS
    # THE CALLER'S: unpersist via spark.catalog.clearCache() (the
    # bench/correctness harnesses do) or blockManager LRU reclaims it.
    grams = grams.persist()
    # jaccard keeps the EXACT r11 float semantics (same int/int division
    # of the same integers: |A∩B| unchanged, greatest(|A∪B|,1) via the
    # size identity above) while the filter's pushed-down join condition
    # carries ONE array_intersect — the prior phrasing re-derived both
    # set ops in the condition AND the projection (guide §1.2/§4.4:
    # pushdown duplicates derived-column expressions).
    ga = grams.select(
        F.col(id_col).alias("id_a"), F.col("_grams").alias("_ga"), F.col("_gsz").alias("_gsa")
    )
    gb = grams.select(
        F.col(id_col).alias("id_b"), F.col("_grams").alias("_gb"), F.col("_gsz").alias("_gsb")
    )
    out = (
        candidates.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_ga", "_gb"))
            / F.greatest(
                F.col("_gsa") + F.col("_gsb") - F.size(F.array_intersect("_ga", "_gb")),
                F.lit(1),
            ),
        )
        .drop("_ga", "_gb", "_gsa", "_gsb")
    )
    return out.where(F.col("jaccard") >= threshold)


def verify_candidates_containment(
    candidates: DataFrame, docs: DataFrame, threshold: float = 0.5,
    text_col: str = "text", id_col: str = "doc_id", n: int = 3,
) -> DataFrame:
    """Exact n-gram CONTAINMENT verification of candidate pairs — the
    asymmetric companion of ``verify_candidates_jaccard`` for the
    quote/subset/boilerplate-inclusion case, where a small document
    living inside a large one has high containment but low Jaccard
    (Broder's resemblance-vs-containment distinction, "On the
    resemblance and containment of documents", SEQUENCES'97).

    ``containment_a = |grams(A) ∩ grams(B)| / |grams(A)|`` (and
    symmetrically ``containment_b``); a pair is kept when EITHER
    direction reaches ``threshold``. Same execution shape as the Jaccard
    verifier: grams built once per candidate-touched document in one
    codegen regex pass, per-pair work is JVM array set algebra, the two
    joins broadcast at scale. Candidate SOURCE matters for recall:
    MinHash-LSH bands are resemblance-biased and can miss
    contained-but-dissimilar pairs — feed ``winnowing_candidates``
    (substring fingerprints) when hunting containment.
    """
    from deeptime_spark.operators.layout import spread_for_map_parallelism
    from deeptime_spark.operators.text import word_ngrams

    doc_side = spread_for_map_parallelism(_candidate_docs(candidates, docs, id_col), id_col)
    raw = word_ngrams(F.col(text_col), n)
    # hashed-long distinct grams for the intersect (array_intersect has
    # specialized codegen hash sets for primitive element types only;
    # measured 4.45 -> 3.80 s on doc_containment_pairs — unlike
    # verify_candidates_jaccard's callers, the containment banding
    # generates enough pairs per doc that the per-doc hashing pass pays
    # for itself) + the RAW gram count denominator. CORRECTNESS REGIME:
    # the emitted counts equal the string-path values iff xxhash64 is
    # injective on each pair's gram union — a collision inflates the
    # intersect and can admit a below-threshold pair (probability
    # ~|grams|^2 x 2^-64 per pair); pinned empirically against the
    # string-path DuckDB oracle at all three SFs. Callers needing an
    # unconditional exactness guarantee should intersect the string
    # arrays (_g0) instead, as verify_candidates_jaccard does.
    grams = doc_side.select(
        F.col(id_col),
        F.array_distinct(raw).alias("_g0"),
        F.size(raw).alias("_gsz"),
    ).select(
        id_col,
        F.expr("transform(_g0, g -> xxhash64(g))").alias("_grams"),
        "_gsz",
    )
    # same lazy-persist contract as verify_candidates_jaccard: both
    # pair joins consume the gram frame; lifecycle is the caller's.
    # (Eager materialization — grams.count() before the joins — was
    # TRIED r13 and measured FLAT: the cold-cache branch race does
    # re-run parts of the gram subtree, but the recompute overlaps
    # otherwise-idle cores while the count adds serial latency.)
    grams = grams.persist()
    ga = grams.select(
        F.col(id_col).alias("id_a"), F.col("_grams").alias("_ga"), F.col("_gsz").alias("_da")
    )
    gb = grams.select(
        F.col(id_col).alias("id_b"), F.col("_grams").alias("_gb"), F.col("_gsz").alias("_db")
    )
    inter = F.size(F.array_intersect("_ga", "_gb"))
    # The keep predicate max(i/da', i/db') >= t is phrased as
    # i/least(da', db') >= t — EXACTLY one of the two original division
    # values (i/x is monotone decreasing in x), so float semantics are
    # bit-identical while the pushed-down join condition evaluates the
    # intersect ONCE (the r11 phrasing re-derived it twice in the
    # condition and twice more in the projection — guide §1.2/§4.4).
    keep = inter / F.least(
        F.greatest(F.col("_da"), F.lit(1)), F.greatest(F.col("_db"), F.lit(1))
    ) >= threshold
    out = (
        candidates.join(ga, "id_a")
        .join(gb, "id_b")
        .where(keep)
        .withColumn("containment_a", inter / F.greatest(F.col("_da"), F.lit(1)))
        .withColumn("containment_b", inter / F.greatest(F.col("_db"), F.lit(1)))
        .drop("_ga", "_gb", "_da", "_db")
    )
    return out


def prefix_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_chars: int = 64,
    min_copies: int = 2,
    max_group_ids: int = 32,
    normalize: bool = True,
) -> DataFrame:
    """Prefix-duplicate groups: documents sharing their first
    ``prefix_chars`` characters (optionally whitespace-trimmed +
    lowercased first). Catches template/boilerplate families and
    truncation variants that exact dedup misses and whole-document
    MinHash undercounts.

    Equivalent to sorted-neighbor LCP >= ``prefix_chars`` clustering —
    two docs share an L-char prefix iff they land in the same
    ``substr(text, 1, L)`` group — but runs as ONE hash shuffle on
    ``md5(prefix)`` instead of a global sort: the groupBy form
    partitions uniformly at 100 TB where a total ordering would need a
    range exchange. Output matches ``exact_duplicates``:
    (prefix_hash, n_copies, canonical_id, doc_ids)."""
    base = F.coalesce(F.col(text_col), F.lit(""))
    if normalize:
        base = F.lower(F.trim(base))
    prefix = F.substring(base, 1, prefix_chars)
    hashed = df.select(F.md5(prefix).alias("prefix_hash"), F.col(id_col))
    aggs = [F.count("*").alias("n_copies"), F.min(id_col).alias("canonical_id")]
    if max_group_ids > 0:
        aggs.append(
            F.slice(F.sort_array(F.collect_list(id_col)), 1, max_group_ids).alias(
                "doc_ids"
            )
        )
    return (
        hashed.groupBy("prefix_hash")
        .agg(*aggs)
        .where(F.col("n_copies") >= min_copies)
    )


# ---------------------------------------------------------------- simhash

def simhash(text_col: str | Column = "text", bits: int = 64) -> Column:
    """SimHash: sign-aggregated token hashes -> single 64-bit value.

    For bit position p, sum +-1 over token hashes' bit p; the sign gives
    the fingerprint bit. Expressed as JVM aggregates over the token array
    (bits x size(tokens) bit-tests inside codegen — fine for 64 bits).
    Near-duplicates differ in few bits (Hamming distance).
    """
    toks = tokens(text_col)
    hashed = F.transform(toks, lambda t: F.xxhash64(t))
    def bit_vote(p: int):
        # closure factory keeps the merge lambda 2-arg (acc, elem); extra
        # params would change how F.aggregate binds arguments
        return lambda acc, h: acc + F.when(F.shiftright(h, p).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)

    bit_exprs = []
    for p in range(bits):
        vote = F.aggregate(hashed, F.lit(0).cast("long"), bit_vote(p))
        bit = F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bit_exprs.append(F.shiftleft(bit, p))  # 2**63 overflows a long literal; shift instead
    expr = bit_exprs[0]
    for e in bit_exprs[1:]:
        expr = expr + e
    return expr


def hamming_distance64(a: Column, b: Column) -> Column:
    """Popcount of XOR via bit_count (Spark built-in)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signatures_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bits: int = 64, out_col: str = "sim", impl: str = "arrow",
) -> DataFrame:
    """(id, simhash) fingerprints, scan-local (mapInPandas + numpy xxh64).

    Identical fingerprints to ``simhash`` (same xxhash64 token hashes,
    same count-weighted sign votes — ``operators/sig_numpy.simhash_batch``
    computes them with the ``spark_hashes`` XXH64 replica, vectorized
    per batch). Like the MinHash rewrite this removes both the
    64-buffer hash-aggregate update cost and the token shuffle: the
    pass is map-only, emitting |docs| x (id, int64). ``impl='sql'``
    keeps the explode + codegen-bit-vote plan (r12 equality pytest).
    """
    from deeptime_spark.operators.layout import spread_for_map_parallelism

    # keyed spread (no-op at scale): downstream banding groupBys/joins
    # on id reuse this layout; on a single-row-group input it also
    # parallelizes the fingerprint map work
    df = spread_for_map_parallelism(df, id_col)
    if impl == "arrow":
        from deeptime_spark.operators.sig_numpy import simhash_batch

        id_field = df.schema[id_col]
        sel = df.select(F.col(id_col), F.col(text_col).cast("string").alias("_txt"))
        schema = StructType(
            [
                StructField(id_col, id_field.dataType, id_field.nullable),
                StructField(out_col, LongType(), False),
            ]
        )

        def emit(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                keep, sigs = simhash_batch(pdf["_txt"].tolist(), bits)
                if not keep:
                    continue
                out = pdf.iloc[keep, [0]].copy()
                out[out_col] = sigs
                yield out

        return sel.mapInPandas(emit, schema=schema)
    # hash projected ONCE before the aggregate: inlining xxhash64 into all
    # ``bits`` aggregate expressions multiplies the generated code size by
    # 64x and the first-run JIT compile goes from ~1s to ~5s (execution
    # cost is identical — runtime subexpression elimination handles it —
    # but compile time is what a fresh plan pays)
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("_t")).select(
        F.col(id_col), F.xxhash64("_t").alias("_h")
    )
    # collapse repeated tokens per document BEFORE the 64-way bit-vote:
    # natural text is Zipf-heavy, so the count-weighted vote runs the 64
    # CASE aggregates over |distinct tokens per doc| rows instead of every
    # occurrence (measured 2-4x at sf0.1; identical sums by construction).
    # Worst case (all-unique tokens) the extra map-side-combined exchange
    # carries the rows the vote shuffle would have carried anyway.
    cnt = toks.groupBy(id_col, "_h").agg(F.count(F.lit(1)).alias("_c"))
    h = F.col("_h")
    votes = cnt.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(h, p).bitwiseAND(F.lit(1)) == 1, F.col("_c")
                ).otherwise(-F.col("_c"))
            ).alias(f"_v{p}")
            for p in range(bits)
        ]
    )
    expr = F.lit(0).cast("long")
    for p in range(bits):
        bit = F.when(F.col(f"_v{p}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        expr = expr + F.shiftleft(bit, p)
    return votes.select(F.col(id_col), expr.alias(out_col))


def hamming_near_pairs(
    sigs: DataFrame, id_col: str = "doc_id", sig_col: str = "sim",
    max_hamming: int = 3, n_blocks: int | None = None,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    size_probe: DataFrame | None = None,
) -> DataFrame:
    """Generic 64-bit-signature Hamming join with pigeonhole banding —
    the blocking core shared by SimHash text dedup and perceptual image
    hashing (multimodal.py:ahash_images). ``sigs`` is (id, signature)
    with the signature a 64-bit integer; bits are split into
    ``n_blocks`` contiguous bands (default ``max_hamming + 1``) and ids
    bucketed on each (band_index, band_value). Any pair with Hamming
    distance <= n_blocks - 1 must agree on at least one full band
    (pigeonhole), so the default gives GUARANTEED recall at radius
    ``max_hamming``. Exact Hamming verification runs only inside
    buckets; one shuffle on the band key; bucket size capped at
    ``max_bucket`` to bound the self-join against hot bands."""
    if n_blocks is None:
        n_blocks = max_hamming + 1
    n_blocks = max(2, min(int(n_blocks), 16))
    widths = [64 // n_blocks + (1 if i < 64 % n_blocks else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    if sig_col != "sim":
        sigs = sigs.select(F.col(id_col), F.col(sig_col).alias("sim"))
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("sim"), offsets[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1))
                .alias("val"),
            )
            for i in range(n_blocks)
        ]
    )
    blocked = sigs.select(id_col, "sim", F.explode(bands).alias("b")).select(
        id_col, "sim", F.col("b.band").alias("band"), F.col("b.val").alias("val")
    )
    pairs = _bucket_pairs(
        blocked, ["band", "val"], id_col, ["sim"], max_bucket,
        size_probe=size_probe,
    ).select(
        "id_a",
        "id_b",
        hamming_distance64(F.col("sim_a"), F.col("sim_b")).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)
    # a pair can collide in several bands: keep one row per pair
    return pairs.dropDuplicates(["id_a", "id_b"])


def simhash_near_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3, n_blocks: int | None = None,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs by SimHash with pigeonhole banding (Gong et al.
    blocking, as in Google's simhash dedup): fingerprints via
    ``simhash_signatures_df``, then the generic
    :func:`hamming_near_pairs` band join."""
    sigs = simhash_signatures_df(df, text_col, id_col)
    return hamming_near_pairs(
        sigs, id_col=id_col, sig_col="sim", max_hamming=max_hamming,
        n_blocks=n_blocks, max_bucket=max_bucket, size_probe=df,
    )


# ---------------------------------------------------------------- embeddings

def embedding_near_duplicates(
    emb: DataFrame, threshold: float = 0.98, id_col: str = "vec_id",
    vec_col: str = "embedding", n_planes: int = 8, seed: int = 42,
    n_tables: int = 1, max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Embedding-cosine near-dup via random-hyperplane LSH buckets.

    Bucket = sign pattern of n_planes random projections (literal-array
    dots narrow / one BLAS gemm wide); exact cosine verified within
    buckets. A pair at angle theta collides in one table with probability
    (1 - theta/pi)^n_planes; ``n_tables > 1`` is the OR-construction —
    candidates collide in ANY of the independent tables, lifting recall to
    1 - (1 - p^n_planes)^n_tables at n_tables x the bucketing cost.
    Buckets capped at ``max_bucket`` to bound the per-bucket work.
    """
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from deeptime_spark.operators.similarity import random_hyperplane_buckets

    bucketed = random_hyperplane_buckets(
        emb.select(F.col(id_col), F.col(vec_col)),
        n_planes=n_planes,
        seed=seed,
        vec_col=vec_col,
        n_tables=n_tables,
    )
    if n_tables > 1:
        bucketed = bucketed.select(
            id_col, vec_col, F.posexplode("bucket").alias("_table", "bucket")
        )
        bucket_cols = ["_table", "bucket"]
    else:
        bucket_cols = ["bucket"]
    bucketed = _cap_buckets(bucketed, bucket_cols, id_col, max_bucket)
    # within-bucket verification as ONE normalized gemm per bucket group
    # (grouped-map Arrow UDF): with capped buckets each group is at most
    # max_bucket x d, the cosine matrix is a single BLAS call, and only
    # over-threshold pairs are emitted — no quadratic pair materialization
    # and no per-pair interpreted expressions.
    schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def verify(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        Xn = X / np.clip(norms, 1e-300, None)
        S = Xn @ Xn.T
        iu = np.triu_indices(len(ids), 1)
        mask = S[iu] >= threshold
        ia, ib = ids[iu[0][mask]], ids[iu[1][mask]]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": S[iu][mask]})

    out = bucketed.groupBy(*bucket_cols).applyInPandas(verify, schema=schema)
    if n_tables > 1:
        # the same pair can surface from several tables
        out = out.dropDuplicates(["id_a", "id_b"])
    return out


# ------------------------------------------------- duplicate clustering

def _union_find_local(pairs) -> dict:
    """Driver union-find with path compression; component = min member."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Distributed connected components over a pair graph by iterative
    min-label propagation — the missing last step of a dedup pipeline
    (verified near-dup PAIRS -> duplicate CLUSTERS).

    Each round every node adopts the smallest component label among
    itself and its neighbors (join + min-aggregate), then labels are
    pointer-doubled (label[n] <- label[label[n]], one more join) — the
    path-compression step that turns O(diameter) convergence into
    O(log n) rounds on ANY graph shape, including adversarial chains
    (same effect as the large-star/small-star contraction of Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14).
    Near-dup graphs are union-of-quasi-cliques with tiny diameter, so 2-3
    rounds is typical and each round's shuffle is O(|E|). Labels are
    localCheckpointed each round: iterative self-dependent plans
    otherwise accumulate lineage that Catalyst re-analyzes every round.
    Raises if ``max_iter`` rounds don't converge — a truncated label map
    silently merges nothing it shouldn't, but may leave components split,
    so failing loudly is the only safe behavior.

    Duplicate-pair graphs are usually TINY relative to the corpus (the
    corpus-scale work already happened in the LSH/verification stages), so
    when the pair list fits the ``union_find`` bound of
    :mod:`deeptime_spark.dispatch` it is collected and solved with a
    driver union-find — one job instead of 2/round, bit-identical output.
    The distributed loop is the path for genuinely huge pair graphs;
    ``dispatch.force("distributed")`` forces it.

    Returns (node, component) for every node incident to an edge, where
    ``component`` is the minimum node id in the component.
    """
    spark = edges.sparkSession
    # the (possibly expensive) upstream pair pipeline runs ONCE: the
    # bounded fetch is the action that fills e0's cache, which the
    # distributed loop reads when the pairs are over the bound. A limit()
    # fetched through Arrow is one pass (a per-partition limit, then one
    # shuffle to a single partition); it is collect()'s take-ladder, not
    # this path, that re-executes an upstream as it widens. On a
    # self-join pair pipeline over the sf0.01 documents the call runs 3
    # jobs (the join's two map stages, then the fetch) where persist +
    # count + fetch ran 5.
    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).persist()
    a = dispatch.fetch("union_find", e0)
    if a is not None:
        # union-find needs neither symmetrized nor distinct edges: solve
        # the raw pairs on the driver — no union/distinct shuffle,
        # bit-identical output.
        e0.unpersist()
        comp = _union_find_local(zip(a["a"].tolist(), a["b"].tolist()))
        return _local_df(spark, 
            sorted(comp.items()), "node long, component long"
        )
    sym = (
        e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    try:
        labels = (
            sym.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
            .localCheckpoint()
        )
        converged = False
        for _ in range(max_iter):
            nbr = (
                sym.join(labels, sym["a"] == labels["node"])
                .groupBy(F.col("b").alias("_nn"))
                .agg(F.min("component").alias("_nm"))
            )
            upd = labels.join(nbr, labels["node"] == nbr["_nn"], "left").select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("_nm"), F.col("component"))
                ).alias("_c1"),
                (F.coalesce(F.col("_nm"), F.col("component")) < F.col("component")).alias(
                    "_ch1"
                ),
            )
            # pointer doubling: follow the label's own label one hop
            hop = upd.select(F.col("node").alias("_pn"), F.col("_c1").alias("_pc"))
            new_labels = (
                upd.join(hop, upd["_c1"] == hop["_pn"], "left")
                .select(
                    "node",
                    F.least(
                        F.col("_c1"), F.coalesce(F.col("_pc"), F.col("_c1"))
                    ).alias("component"),
                    (
                        F.col("_ch1")
                        | (F.coalesce(F.col("_pc"), F.col("_c1")) < F.col("_c1"))
                    ).alias("_changed"),
                )
                .localCheckpoint()
            )
            # convergence check reads the checkpointed partitions — no
            # join against the previous labels, limit-1 early exit
            changed = not new_labels.where(F.col("_changed")).limit(1).isEmpty()
            labels = new_labels.drop("_changed")
            if not changed:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                "(pointer-doubled min-label propagation needs ~log2(n) rounds; "
                "raise max_iter)"
            )
        return labels
    finally:
        sym.unpersist()
        e0.unpersist()


def duplicate_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 25
) -> DataFrame:
    """Duplicate clusters from verified near-dup pairs: component id
    (= canonical doc id, the cluster minimum) and cluster size."""
    cc = connected_components(pairs, id_a, id_b, max_iter=max_iter)
    return cc.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))


def drop_near_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep one canonical document (the min id) per duplicate cluster and
    every document that is in no cluster. Anti-join on the non-canonical
    member set — broadcastable when the dup graph is small relative to the
    corpus, shuffle hash join otherwise (AQE decides)."""
    cc = connected_components(pairs, id_a, id_b)
    losers = cc.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, on=id_col, how="left_anti")


# --------------------------------------------------- winnowing fingerprints

def winnowing_fingerprints_numpy(text: str, k: int = 8, w: int = 16) -> np.ndarray:
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken:
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03) for one document: polynomial rolling k-gram hashes over
    the UTF-8 bytes (uint64 wraparound arithmetic — exact and
    engine-independent), then the RIGHTMOST minimum of every window of
    ``w`` consecutive hashes. Guarantee: two documents sharing any
    substring of length >= w + k - 1 share at least one fingerprint.
    Returns the sorted distinct selected hashes viewed as int64."""
    from numpy.lib.stride_tricks import sliding_window_view

    codes = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    if len(codes) < k:
        return np.empty(0, dtype=np.int64)
    B = np.uint64(1000003)
    powers = B ** np.arange(k - 1, -1, -1).astype(np.uint64)
    H = sliding_window_view(codes, k) @ powers
    if len(H) <= w:
        sel = np.array([len(H) - 1 - int(np.argmin(H[::-1]))])
    else:
        wins = sliding_window_view(H, w)
        # rightmost min: argmin on the reversed window
        idx = w - 1 - np.argmin(wins[:, ::-1], axis=1)
        sel = np.unique(np.arange(len(wins)) + idx)
    return np.unique(H[sel]).view(np.int64)


def winnowing_fingerprints_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 16,
) -> DataFrame:
    """Distributed winnowing: one Arrow-batched map emitting
    (id, fingerprint) rows — substring-level dup detection where shingle
    MinHash (whole-document similarity) is the wrong granularity.
    Candidate pairs then come from grouping on the fingerprint value
    (reuse the capped bucket-pair machinery), never an all-pairs join.
    Integer-only computation: results are layout- and engine-independent.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    from deeptime_spark.operators.layout import spread_for_map_parallelism

    # the rolling-hash Python kernel is pure map work: spread a
    # single-split scan across cores (no-op at scale)
    df = spread_for_map_parallelism(df, id_col)
    schema = StructType(
        [StructField(id_col, LongType()), StructField("fingerprint", LongType())]
    )

    def emit(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, fps = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                f = winnowing_fingerprints_numpy(t or "", k, w)
                ids.append(np.full(len(f), i, dtype=np.int64))
                fps.append(f)
            if ids:
                yield pd.DataFrame(
                    {id_col: np.concatenate(ids), "fingerprint": np.concatenate(fps)}
                )

    return df.select(id_col, text_col).mapInPandas(emit, schema=schema)


def winnowing_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 16,
    min_shared: int = 2,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Pairs of documents sharing >= ``min_shared`` winnowing
    fingerprints — substring-overlap candidates. Bucket key is the
    fingerprint value (capped like every LSH stage), pair counts via one
    aggregation."""
    fps = winnowing_fingerprints_df(df, text_col, id_col, k, w)
    pairs = _bucket_pairs(fps, ["fingerprint"], id_col, [], max_bucket)
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


# --------------------------------------------------- semantic dedup

def semantic_duplicates(
    emb: DataFrame,
    id_col: str = "vec_id",
    x_col: str = "x",
    n_clusters: int = 64,
    threshold: float = 0.95,
    seed: int = 42,
    max_cluster: int = 4096,
    kmeans_max_iter: int = 8,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then inside each
    cluster mark every item whose cosine similarity to ANY lower-id
    member exceeds ``threshold`` as a semantic duplicate of that earlier
    member. Complements the surface-form family (exact / MinHash /
    SimHash / winnowing): it catches paraphrases and re-encodings that
    share no n-grams.

    Spark shape: assignment via ``DeterministicKMeans`` (bit-reproducible
    on any partition layout), ONE shuffle on the cluster id, then a
    grouped Arrow batch per cluster runs the normalized gram matrix in
    BLAS. Within-cluster work is quadratic by nature, so it is bounded
    exactly like the LSH buckets: at most ``max_cluster`` members per
    cluster take part (the lowest ids — deterministic), and at 100 TB you
    size ``n_clusters`` so the expected cluster fits the cap. The output
    is layout-independent: each cluster is processed whole, sorted by id,
    so the same rows produce the same flags on any partitioning.

    Returns (id, cluster, is_dup, max_prior_sim, dup_of) — ``dup_of`` is
    the MOST-similar earlier member (earliest id under exact ties), null
    for kept rows; following the dup_of chain downward always ends at a
    kept representative.
    """
    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StructField, StructType,
    )

    from deeptime_spark.clustering.kmeans import DeterministicKMeans

    model = (
        DeterministicKMeans(
            n_clusters=n_clusters, seed=seed, max_iter=kmeans_max_iter,
            order_col=id_col, x_col=x_col,
        )
        .fit(emb)
        .fetch_model()
    )
    assigned = model.transform(emb.select(id_col, x_col), x_col=x_col, out_col="_c")

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("cluster", LongType()),
            StructField("is_dup", BooleanType()),
            StructField("max_prior_sim", DoubleType()),
            StructField("dup_of", LongType()),
        ]
    )

    def dedup_cluster(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id", kind="mergesort")
        over_cap = pdf.iloc[max_cluster:]
        pdf = pdf.head(max_cluster)
        ids = pdf["id"].to_numpy()
        X = np.stack(pdf[x_col].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(X, axis=1)
        nrm[nrm == 0.0] = 1.0
        Xn = X / nrm[:, None]
        S = Xn @ Xn.T
        n = len(ids)
        # max over j < i (strict lower triangle per row); argmax gives the
        # EARLIEST maximizer, so dup_of is deterministic under ties
        mask = np.tril(np.ones((n, n), dtype=bool), k=-1)
        neg = np.where(mask, S, -np.inf)
        max_prior = np.max(neg, axis=1, initial=-np.inf)
        arg_prior = np.argmax(np.where(mask, S, -np.inf), axis=1)
        is_dup = max_prior > threshold
        dup_of = np.where(is_dup, ids[arg_prior], -1)
        out = pd.DataFrame(
            {
                "id": ids,
                "cluster": np.full(n, int(key[0]), dtype=np.int64),
                "is_dup": is_dup,
                "max_prior_sim": np.where(np.isfinite(max_prior), max_prior, None),
                "dup_of": np.where(is_dup, dup_of, None),
            }
        )
        if len(over_cap):
            # members beyond the quadratic cap are emitted UNFLAGGED rather
            # than silently dropped — no row loss, recall degrades only on
            # the capped tail (same contract as the LSH bucket caps)
            out = pd.concat(
                [
                    out,
                    pd.DataFrame(
                        {
                            "id": over_cap["id"].to_numpy(),
                            "cluster": np.full(len(over_cap), int(key[0]), dtype=np.int64),
                            "is_dup": np.zeros(len(over_cap), dtype=bool),
                            "max_prior_sim": [None] * len(over_cap),
                            "dup_of": [None] * len(over_cap),
                        }
                    ),
                ],
                ignore_index=True,
            )
        return out

    out = assigned.select(
        F.col(id_col).cast("long").alias("id"), x_col, F.col("_c").cast("long").alias("_c")
    ).groupBy("_c").applyInPandas(dedup_cluster, schema=schema)
    return out.withColumnRenamed("id", id_col)


def drop_semantic_duplicates(
    emb: DataFrame,
    id_col: str = "vec_id",
    x_col: str = "x",
    **kwargs,
) -> DataFrame:
    """Keep only semantic-dedup survivors (anti-join on flagged ids)."""
    flags = semantic_duplicates(emb, id_col=id_col, x_col=x_col, **kwargs)
    losers = flags.where(F.col("is_dup")).select(id_col)
    return emb.join(losers, on=id_col, how="left_anti")


# --------------------------------------------------- decontamination

def decontaminate(
    docs: DataFrame,
    probes: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing >=
    ``min_hits`` distinct word n-grams with any probe (eval/benchmark)
    document — the standard n-gram-overlap contamination check run
    before training (as in GPT-3 appx. C / PaLM: 8-13-gram collision).

    Spark shape: the probe set is tiny relative to the corpus, so its
    distinct gram hashes build ONCE and broadcast; the corpus side is one
    codegen regex pass per document (explode grams -> xxhash64) and a
    broadcast-hash semi-join + count. No shuffle of the corpus: the join
    and the groupBy(id) both run map-side against the broadcast set, and
    the aggregate's partial is per document. Returns
    (id, n_contaminated_grams, contaminated).
    """
    from deeptime_spark.operators.text import word_ngrams

    probe_grams = (
        probes.select(F.explode(word_ngrams(F.col(probe_text_col), n)).alias("_g"))
        .select(F.xxhash64("_g").alias("_gh"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("_g")
    ).select(F.col(id_col), F.xxhash64("_g").alias("_gh"))
    hits = (
        doc_grams.join(F.broadcast(probe_grams), "_gh", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_contaminated_grams"), F.lit(0)).cast("long").alias(
                "n_contaminated_grams"
            ),
            (F.coalesce(F.col("n_contaminated_grams"), F.lit(0)) >= min_hits)
            .cast("long")
            .alias("contaminated"),
        )
    )


# --------------------------------------------- exact token-span dedup

def token_spans(text_col: str | Column = "text", span_tokens: int = 10) -> Column:
    """Non-overlapping ``span_tokens``-token windows of the normalized
    token stream, each joined back to a single string. The trailing
    partial window is dropped (its hash would never match a full span
    anyway). One codegen projection per document — no Python, no shuffle."""
    from deeptime_spark.operators.text import tokens

    toks = tokens(text_col)
    n_spans = F.floor(F.size(toks) / span_tokens).cast("int")
    # sequence(0, -1) generates a DESCENDING [0, -1] — guard the
    # short-document case explicitly
    return F.when(n_spans <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda i: F.array_join(F.slice(toks, i * span_tokens + 1, span_tokens), " "),
        )
    )


def dedup_token_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 10,
) -> DataFrame:
    """Exact duplicated-SPAN detection across the whole corpus — the
    practical reduction of suffix-array substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", ACL'22)
    to non-overlapping token windows: a span occurrence is a duplicate
    unless it is the globally FIRST occurrence (smallest (doc_id,
    span_no)). Returns per-document (id, n_spans, n_dup_spans,
    dup_span_frac).

    Plan shape, sized for 100 TB:
    - one projection builds the span array per document (codegen);
    - ``groupBy(span)`` with ``min(struct(doc_id, span_no))`` + count —
      map-side partial aggregation collapses every partition's copies of
      a hot span to ONE row before the shuffle, so a boilerplate span
      repeated a billion times costs one row per map task, not a skewed
      reducer;
    - one shuffle join back on the span key to mark non-first
      occurrences (AQE skew-join splits any residual hot key);
    - per-document rollup (second small shuffle keyed by doc id).

    Spans are keyed by their exact strings, so results are exact.
    """
    spans = docs.select(
        F.col(id_col),
        F.posexplode(token_spans(text_col, span_tokens)).alias("_span_no", "_span"),
    ).select(F.col(id_col), "_span_no", F.col("_span").alias("_k"))
    firsts = spans.groupBy("_k").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("_span_no").alias("s"))).alias("_w"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    marked = spans.join(firsts, "_k").select(
        F.col(id_col),
        (
            (F.col("_cnt") > 1)
            & ~((F.col(id_col) == F.col("_w.d")) & (F.col("_span_no") == F.col("_w.s")))
        ).cast("long").alias("_dup"),
    )
    per_doc = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("_dup").alias("n_dup_spans"),
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            (
                F.coalesce("n_dup_spans", F.lit(0))
                / F.greatest(F.coalesce("n_spans", F.lit(0)), F.lit(1))
            ).alias("dup_span_frac"),
        )
    )


def drop_duplicate_lines_across_docs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 10,
) -> DataFrame:
    """C4-style GLOBAL line dedup: every non-trivial line (>=``min_chars``
    chars after trim) is kept only at its globally first occurrence
    (smallest (doc_id, line_no)); trivial lines always pass through.
    Documents are reassembled in original line order. Returns (id,
    clean_text, n_lines_kept, n_lines_dropped).

    Scale shape: posexplode lines -> ``groupBy(line)`` with
    ``min(struct(doc_id, line_no, line))`` — map-side combine means the
    degenerate boilerplate line (cookie banner on a billion pages)
    reduces to one row per map task before the shuffle; winners ARE the
    kept occurrences, so no join back is needed for them — only the
    reassembly shuffle keyed by doc id, where each document holds its own
    (bounded) line list.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), r"\n")).alias(
            "_line_no", "_line"
        ),
    )
    trivial = lines.where(F.length(F.trim("_line")) < min_chars)
    nontrivial = lines.where(F.length(F.trim("_line")) >= min_chars)
    n_lines = docs.select(
        F.col(id_col),
        F.size(F.split(F.coalesce(F.col(text_col), F.lit("")), r"\n")).alias("_n_total"),
    )
    winners = (
        nontrivial.groupBy("_line")
        .agg(
            F.min(F.struct(F.col(id_col).alias("d"), F.col("_line_no").alias("s"))).alias("_w")
        )
        .select(F.col("_w.d").alias(id_col), F.col("_w.s").alias("_line_no"), F.col("_line"))
    )
    kept = winners.unionByName(trivial.select(id_col, "_line_no", "_line"))
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_line_no", "_line"))),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    return (
        n_lines.join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_lines_kept", F.lit(0)).cast("long").alias("n_lines_kept"),
            (F.col("_n_total") - F.coalesce("n_lines_kept", F.lit(0)))
            .cast("long")
            .alias("n_lines_dropped"),
        )
    )


def duplicated_substring_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact duplicated-substring spans — the ExactSubstr dedup of Lee
    et al., "Deduplicating Training Data Makes Language Models Better"
    (ACL'22), re-shaped from a suffix array (a single-machine data
    structure) to Spark shuffles over SLIDING k-token shingles:

    - every k-token sliding shingle is emitted with its doc position
      (``posexplode`` over one codegen lookahead-regex pass — no
      Python);
    - a shingle occurring >= ``min_occurrences`` times ANYWHERE in the
      corpus (other docs or elsewhere in the same doc) marks its
      k-token window duplicated. ``groupBy(shingle).count`` is
      map-side-combined, so a boilerplate shingle repeated a billion
      times costs one row per map task before the shuffle; the mark
      join back onto positions is an AQE-skew-splittable equi-join
      (same shape as :func:`dedup_token_spans`);
    - per document, overlapping-or-adjacent duplicated windows merge
      into MAXIMAL spans (gaps-and-islands: a new island starts where
      consecutive duplicated start positions differ by more than k),
      which is exactly the suffix-array method's duplicated-byte-range
      output quantized to token windows: any duplicated substring of
      >= k tokens contains a duplicated k-shingle, so every such
      substring is covered by a reported span.

    The islands window shuffles once keyed by doc id (position count
    per doc is bounded by doc length — no skew beyond document size).
    Shingles are keyed by their exact strings, so results are exact.

    Returns (id, span_start, span_end, n_span_tokens): token-index
    [start, end] inclusive of each maximal duplicated span, one row per
    span. Docs without duplicated shingles contribute no rows.
    """
    from pyspark.sql import Window

    from deeptime_spark.operators.text import _word_ngrams_all

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_occurrences < 2:
        raise ValueError(f"min_occurrences must be >= 2, got {min_occurrences}")
    from deeptime_spark.operators.layout import spread_for_map_parallelism

    # the k-gram regex explosion runs in the scan stage, which for a
    # single-row-group input is ONE task; keyed spread (no-op at scale)
    # parallelizes it and pre-satisfies the per-doc islands window
    docs = spread_for_map_parallelism(docs, id_col)
    grams = _word_ngrams_all(F.coalesce(F.col(text_col), F.lit("")), k)
    sh = docs.select(
        F.col(id_col), F.posexplode(grams).alias("_pos", "_g")
    )
    sh = sh.select(F.col(id_col), F.col("_pos"), F.col("_g").alias("_k"))
    dup_keys = (
        sh.groupBy("_k")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .where(F.col("_cnt") >= min_occurrences)
        .select("_k")
    )
    hits = sh.join(dup_keys, "_k").select(F.col(id_col), F.col("_pos"))
    w = Window.partitionBy(id_col).orderBy("_pos")
    brk = F.when(
        F.col("_pos") - F.lag("_pos").over(w) > k, F.lit(1)
    ).otherwise(F.lit(0))
    isl = hits.withColumn("_brk", brk).withColumn(
        "_island",
        F.sum("_brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return isl.groupBy(id_col, "_island").agg(
        F.min("_pos").cast("long").alias("span_start"),
        (F.max("_pos") + F.lit(k - 1)).cast("long").alias("span_end"),
        (F.max("_pos") - F.min("_pos") + F.lit(k)).cast("long").alias("n_span_tokens"),
    ).drop("_island")


def drop_duplicated_substrings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """ExactSubstr EXCISION (Lee et al. ACL'22): every occurrence of a
    duplicated k-token shingle except its globally FIRST occurrence
    (smallest (doc_id, position)) marks its window for removal;
    overlapping-or-adjacent marked windows merge into maximal spans
    (same gaps-and-islands as :func:`duplicated_substring_spans`) and
    the covered tokens are cut, keeping one copy of every duplicated
    substring corpus-wide. Output text is the whitespace-normalized
    lowercased token stream re-joined with single spaces (the same
    normalization every token-level op here applies).

    Scale shape: shingle keying/first-occurrence pick is
    ``groupBy(key).agg(min(struct(doc,pos)), count)`` — map-side
    combined; span covers explode to at most (span length) rows per
    span, i.e. proportional to the text actually being removed; the
    reassembly is one sort-collect per doc (bounded by doc length),
    the drop_duplicate_lines_across_docs shape. A kept first
    occurrence may itself overlap another excised span — greedy span
    removal is approximate in that standard way, but deterministic.

    Returns (id, clean_text, n_tokens_kept, n_tokens_dropped) for
    EVERY input doc.
    """
    from deeptime_spark.operators.text import _word_ngrams_all, tokens

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from deeptime_spark.operators.layout import spread_for_map_parallelism

    # same scan-stage explosion as duplicated_substring_spans: spread
    # (no-op at scale) so the gram pass, the token pass, and the per-doc
    # reassembly all run at cluster width off one keyed exchange
    docs = spread_for_map_parallelism(docs, id_col)
    grams = _word_ngrams_all(F.coalesce(F.col(text_col), F.lit("")), k)
    sh = docs.select(F.col(id_col), F.posexplode(grams).alias("_pos", "_g"))
    sh = sh.select(F.col(id_col), F.col("_pos"), F.col("_g").alias("_k"))
    firsts = sh.groupBy("_k").agg(
        F.min(
            F.struct(F.col(id_col).alias("d"), F.col("_pos").alias("p"))
        ).alias("_w"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    hits = sh.join(firsts, "_k").where(
        (F.col("_cnt") >= 2)
        & ~((F.col(id_col) == F.col("_w.d")) & (F.col("_pos") == F.col("_w.p")))
    ).select(F.col(id_col), F.col("_pos"))
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("_pos")
    brk = F.when(F.col("_pos") - F.lag("_pos").over(w) > k, F.lit(1)).otherwise(
        F.lit(0)
    )
    spans = (
        hits.withColumn("_brk", brk)
        .withColumn(
            "_island",
            F.sum("_brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy(id_col, "_island")
        .agg(
            F.min("_pos").alias("_s"),
            (F.max("_pos") + F.lit(k - 1)).alias("_e"),
        )
    )
    covered = spans.select(
        F.col(id_col), F.explode(F.sequence(F.col("_s"), F.col("_e"))).alias("_j")
    ).distinct()
    toks = docs.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("_j", "_tok")
    ).where(F.col("_tok") != "")
    kept = toks.join(covered, [id_col, "_j"], "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_j", "_tok"))),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_tokens_kept"),
    )
    n_toks = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n_total"))
    return (
        docs.select(id_col)
        .join(n_toks, id_col, "left")
        .join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_tokens_kept", F.lit(0)).cast("long").alias("n_tokens_kept"),
            (
                F.coalesce("_n_total", F.lit(0))
                - F.coalesce("n_tokens_kept", F.lit(0))
            ).cast("long").alias("n_tokens_dropped"),
        )
    )


# --------------------------------------- persistent signature index


def _banded_signature_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    unit: str = "chars",
) -> DataFrame:
    """(id, minhash, band_idx, band_hash) — the LSH banding relation
    (same expressions as minhash_lsh_candidates' banding stage)."""
    if n_hashes % bands:
        raise ValueError("bands must divide n_hashes")
    r = n_hashes // bands
    sig = minhash_signatures_df(df, text_col, id_col, n_hashes, shingle_k, unit=unit)
    return sig.select(
        id_col,
        "minhash",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.slice("minhash", i * r + 1, r).cast("string"))
                    for i in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )


def write_signature_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
) -> None:
    """Persist the banded MinHash signature relation as a parquet index.

    The production incremental-dedup pattern: sign the existing corpus
    ONCE, then probe each incoming delta against the stored index —
    at 100 TB re-signing the full corpus per delta is the cost that
    kills naive pipelines; the index read is |corpus| x n_hashes longs,
    and the band join touches only matching buckets. Partitioned by
    band_idx so a partial-band probe (or a band-parallel compaction)
    prunes directories; for co-located band joins at cluster scale,
    bucketBy(band_hash) into a table is the zero-exchange upgrade."""
    _banded_signature_rows(df, text_col, id_col, n_hashes, bands, shingle_k).write.mode(
        "overwrite"
    ).partitionBy("band_idx").parquet(path)


def probe_signature_index(
    spark,
    new_docs: DataFrame,
    path: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
) -> DataFrame:
    """Near-duplicates of a NEW document batch against the stored index:
    ``(new_id, old_id, est_jaccard)`` for pairs sharing any LSH band
    with signature agreement >= threshold.

    Only the delta is signed (the index side is a parquet scan); the
    band join is an equi-join on (band_idx, band_hash) — when the delta
    is small Spark broadcasts it, so the index streams once with no
    shuffle. est_jaccard is matching-components/n_hashes — an exact
    integer ratio, bit-reproducible."""
    old = spark.read.parquet(path).select(
        F.col(id_col).alias("old_id"),
        F.col("minhash").alias("_mh_old"),
        "band_idx",
        "band_hash",
    )
    new = _banded_signature_rows(
        new_docs, text_col, id_col, n_hashes, bands, shingle_k
    ).select(
        F.col(id_col).alias("new_id"),
        F.col("minhash").alias("_mh_new"),
        "band_idx",
        "band_hash",
    )
    est = F.size(
        F.filter(
            F.zip_with("_mh_new", "_mh_old", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.lit(n_hashes)
    return (
        new.join(old, ["band_idx", "band_hash"])
        .dropDuplicates(["new_id", "old_id"])
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("new_id", "old_id", "est_jaccard")
    )


# ------------------------------------------ exact set-similarity join


def ppjoin_pairs(
    docs: DataFrame,
    threshold_pct: int = 70,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """EXACT token-set Jaccard self-join at ``threshold_pct / 100`` via
    prefix filtering (Chaudhuri et al. ICDE'06; Xiao et al. WWW'08
    "PPJoin") — the deterministic counterpart of the MinHash pipeline:
    no probabilistic recall, every qualifying pair is returned.

    With ``materialize=True`` (default) the result is
    ``localCheckpoint``ed and the two intermediate caches this operator
    persists (token sets, prefix tokens) are unpersisted before
    returning — no cached relation outlives the call (the
    triangle_counts convention). ``materialize=False`` returns the lazy
    plan; the caller then owns the cache lifecycle
    (``spark.catalog.clearCache()``) and the plan-shape tests use it.

    Prefix-filter principle: order every document's distinct-token set
    by GLOBAL document frequency (rarest first, ties by token); two
    sets with Jaccard >= t must share at least one token inside each
    other's first ``|s| - ceil(t|s|) + 1`` tokens — so candidate pairs
    come from an equi-join on PREFIX tokens only, and because prefixes
    hold each document's RAREST tokens, join buckets stay small exactly
    where the corpus is largest. The length filter
    ``t <= |a|/|b| <= 1/t`` prunes before verification; verification is
    exact JVM set algebra (array_intersect size). The positional/suffix
    filters of full PPJoin+ prune constants, not asymptotics, and are
    omitted.

    All comparisons are integer (threshold as a percentage:
    ``100*i >= pct*u``), so an independent SQL engine replays the join
    bit-for-bit; the reported ``jaccard`` is the single final division.

    Spark shape: one explode + df-count shuffle, one (df, token)-ranked
    window per doc (rank and size share one exchange), a prefix
    equi-join (AQE-skew-splittable), and two array joins for
    verification. No all-pairs step anywhere; worst-case candidate
    fan-out is bounded by prefix-token bucket sizes, which the
    rarest-first ordering minimizes (the Xiao et al. result).

    Returns (id_a, id_b, n_intersect, n_union, jaccard), id_a < id_b.
    """
    from pyspark.sql import Window

    from deeptime_spark.operators.text import tokens

    if not (0 < threshold_pct <= 100):
        raise ValueError("threshold_pct must be in (0, 100]")
    pct = int(threshold_pct)
    # BOTH candidate-join sides and BOTH verification joins consume these
    # frames; without a cache Catalyst re-executes the tokenize/rank
    # pipeline once per consumer (exchange reuse does not span aliased
    # join sides — same lesson as _bucket_pairs). With materialize=True
    # both persists are released before returning; with False the caller
    # owns them (clearCache), or block-manager LRU eventually reclaims.
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(
            F.filter(tokens(text_col), lambda t: t != "")
        ).alias("_ts"),
    ).where(F.size("_ts") > 0).persist()
    ex = toks.select("_id", F.explode("_ts").alias("_tok"))
    dfr = ex.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("_id")
    ranked = (
        ex.join(dfr, "_tok")
        .withColumn(
            "_pos",
            F.row_number().over(w.orderBy(F.col("_df").asc(), F.col("_tok").asc())),
        )
        .withColumn("_sz", F.count(F.lit(1)).over(w))
    )
    # prefix length p = sz - ceil(pct*sz/100) + 1, all-integer
    pref = ranked.where(
        F.col("_pos") <= F.col("_sz") - F.expr(f"(({pct} * _sz + 99) div 100)") + 1
    ).select("_id", "_tok", "_sz").persist()
    # candidate equi-join on the xxhash64 of the prefix token, NOT the
    # string: the prefix relation is the join's fan-out side and a long
    # key halves its width with primitive hashing/compares. This needs
    # NO injectivity assumption — the prefix filter guarantees every
    # qualifying pair shares a true prefix token, so a hash collision
    # can only ADD candidate pairs, which the exact verification below
    # filters (or the distinct dedups); the output is unconditionally
    # unchanged (guide §2.3).
    a = pref.select(
        F.col("_id").alias("id_a"),
        F.xxhash64("_tok").alias("_tk"),
        F.col("_sz").alias("_sa"),
    )
    b = pref.select(
        F.col("_id").alias("id_b"),
        F.xxhash64("_tok").alias("_tk"),
        F.col("_sz").alias("_sb"),
    )
    from deeptime_spark.operators.layout import pin_width_for_cpu_dense

    # the candidate distinct's exchange is few BYTES (two longs) but the
    # per-pair set intersects downstream are expensive rows — pin it at
    # cluster width in the small-input regime so the verify does not
    # strand on 1-3 AQE-coalesced tasks (guide §2.5; no-op at scale)
    cand = pin_width_for_cpu_dense(
        a.join(b, "_tk")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.lit(100) * F.least("_sa", "_sb")
                >= F.lit(pct) * F.greatest("_sa", "_sb")
            )
        )
        .select("id_a", "id_b"),
        "id_a",
        "id_b",
        size_probe=docs,
    ).distinct()
    ta = toks.select(
        F.col("_id").alias("id_a"), F.col("_ts").alias("_ta"),
        F.size("_ts").alias("_va"),
    )
    tb = toks.select(
        F.col("_id").alias("id_b"), F.col("_ts").alias("_tb"),
        F.size("_ts").alias("_vb"),
    )
    # ONE array_intersect occurrence in the filter (the §13 algebra):
    # the old phrasing's `100*i >= pct*u` with u = sa+sb-i re-planted
    # the intersect via predicate substitution; `(100+pct)*i >=
    # pct*(sa+sb)` is the same integer inequality rearranged — exact on
    # longs, no float boundary. The PPJoin length filter is already
    # applied at the candidate join (100*min >= pct*max is algebraically
    # the same conjunct), so no further prefilter is needed here.
    inter = F.size(F.array_intersect("_ta", "_tb"))
    verified = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .where(
            F.lit(100 + pct) * inter
            >= F.lit(pct) * (F.col("_va") + F.col("_vb"))
        )
        .withColumn("_i", inter)
        .withColumn("_u", F.col("_va") + F.col("_vb") - F.col("_i"))
    )
    out = verified.select(
        "id_a",
        "id_b",
        F.col("_i").cast("long").alias("n_intersect"),
        F.col("_u").cast("long").alias("n_union"),
        (F.col("_i").cast("double") / F.col("_u").cast("double")).alias("jaccard"),
    )
    if materialize:
        out = out.localCheckpoint(eager=True)
        pref.unpersist()
        toks.unpersist()
    return out


def dedup_candidate_quality(
    candidates: DataFrame,
    exact_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Candidate-generation quality gate — the dedup twin of
    operators/similarity.py:ann_recall: given an approximate candidate
    pair set (e.g. MinHash-LSH banding) and the EXACT qualifying pair
    set at the target threshold (e.g. :func:`ppjoin_pairs`), report
    recall (qualifying pairs the bands found) and precision (candidates
    that qualify) as ONE summary row.

    Pure set algebra over the two pair relations: pairs are order-
    normalized and deduplicated, then ONE full-outer equi-join + one
    aggregate reads all three counts — every frame is candidate-scale,
    never corpus-scale, so the gate adds one candidate-sized join (a
    single Spark job) to a pipeline regardless of corpus size.

    Returns (n_exact, n_candidates, n_hit, recall, precision); recall /
    precision are null when the respective denominator is zero.
    """

    def norm(df: DataFrame) -> DataFrame:
        return df.select(
            F.least(F.col(id_a), F.col(id_b)).alias("_a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("_b"),
        ).distinct()

    # ONE action: both normalized relations are distinct on (_a, _b), so
    # a full-outer join fans nothing out and a single aggregate reads
    # |exact|, |candidates| and |hit| off the marker columns. The r11
    # shape (persist both sides + three count jobs) paid two extra
    # materialization jobs per gate call — and each side is consumed
    # exactly once here, so no persist lifecycle is needed at all
    # (guide §1.2: remove passes before tuning what is left).
    e = norm(exact_pairs).withColumn("_e", F.lit(1))
    c = norm(candidates).withColumn("_c", F.lit(1))
    row = e.join(c, ["_a", "_b"], "full_outer").agg(
        F.count("_e").alias("_ne"),
        F.count("_c").alias("_nc"),
        F.count(F.when(F.col("_e").isNotNull() & F.col("_c").isNotNull(), 1)).alias("_nh"),
    ).first()
    n_e, n_c, n_h = int(row["_ne"]), int(row["_nc"]), int(row["_nh"])
    spark = candidates.sparkSession
    rec = None if n_e == 0 else float(n_h) / float(n_e)
    prec = None if n_c == 0 else float(n_h) / float(n_c)
    return _local_df(spark, 
        [(int(n_e), int(n_c), int(n_h), rec, prec)],
        "n_exact long, n_candidates long, n_hit long, recall double, precision double",
    )


def dedup_threshold_sweep(
    docs: DataFrame,
    thresholds: tuple = (50, 60, 70, 80, 90),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Qualifying-pair counts across a Jaccard threshold sweep — the
    parameter-tuning curve a dedup pipeline reads BEFORE fixing its
    production threshold and MinHash banding (bands/rows follow from
    the target threshold via the S-curve; the sweep says where the
    corpus's pair mass actually sits, so the threshold is chosen from
    data, not folklore).

    ONE exact prefix-filter self-join at ``min(thresholds)``
    (:func:`ppjoin_pairs` — every qualifying pair at every swept
    threshold is a superset member), then a single wide conditional
    aggregate buckets the pairs by the same integer predicate the join
    used (``100·i >= t·u`` — no float thresholds, engine-exact).
    Cost = one PPJoin at the loosest threshold + one bounded aggregate;
    never a join per threshold.

    Returns (threshold_pct, n_pairs) — one row per threshold,
    monotonically non-increasing.
    """
    ths = sorted(set(int(t) for t in thresholds))
    if not ths or ths[0] < 1 or ths[-1] > 100:
        raise ValueError(f"thresholds must be in [1,100], got {thresholds!r}")
    pairs = ppjoin_pairs(
        docs, threshold_pct=ths[0], text_col=text_col, id_col=id_col
    )
    aggs = [
        F.sum(
            F.when(
                F.lit(100) * F.col("n_intersect")
                >= F.lit(t) * F.col("n_union"),
                1,
            ).otherwise(0)
        ).alias(f"_c{t}")
        for t in ths
    ]
    row = pairs.agg(*aggs).first()
    spark = docs.sparkSession
    return _local_df(spark, 
        [(t, int(row[f"_c{t}"] or 0)) for t in ths],
        "threshold_pct long, n_pairs long",
    )


def choose_banding(n_hashes: int, threshold_pct: int) -> tuple[int, int]:
    """Analytic (bands, rows) choice for a target Jaccard threshold —
    the S-curve rule (Leskovec/Rajaraman/Ullman, "Mining of Massive
    Datasets" ch. 3): a banding with b bands of r rows has its
    match-probability midpoint at (1/b)^(1/r); among the divisor splits
    of ``n_hashes`` pick the one with the LARGEST midpoint at or below
    the threshold — pairs at the threshold then sit on the high-recall
    side of the curve, and maximizing the midpoint within that
    constraint maximizes precision. Pure driver arithmetic.

    For (64, 70) this yields (16, 4) — midpoint 0.5, match probability
    1-(1-0.7^4)^16 = 0.988 at the threshold (the recall-gate banding).
    """
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")
    if not (0 < threshold_pct <= 100):
        raise ValueError(f"threshold_pct must be in (0, 100], got {threshold_pct}")
    t = threshold_pct / 100.0
    best = None
    for b in range(1, n_hashes + 1):
        if n_hashes % b:
            continue
        r = n_hashes // b
        mid = (1.0 / b) ** (1.0 / r)
        if mid <= t and (best is None or mid > best[2]):
            best = (b, r, mid)
    if best is None:
        # threshold below every midpoint (t < 1/n_hashes): most-bands
        # split is the highest-recall banding available
        return n_hashes, 1
    return best[0], best[1]


def _verify_pairs_token_jaccard(
    candidates: DataFrame,
    docs: DataFrame,
    threshold_pct: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact token-SET Jaccard verification of candidate pairs — the
    SAME integer predicate (``100*i >= pct*u``) and tokenization
    :func:`ppjoin_pairs` uses, so the banding path and the exact path
    of :func:`autotune_near_dedup` qualify identical pairs and differ
    only in candidate recall. Two equi-joins + JVM set algebra; the
    candidate relation is pair-scale, never corpus-scale.

    Returns (id_a, id_b, n_intersect, n_union, jaccard), id_a < id_b.

    Empty token sets are KEPT in the doc relation and excluded by an
    explicit ``n_union > 0`` guard in the predicate (a pair of
    empty/whitespace-only docs is not a near-duplicate) — the oracle
    replica applies the identical guard, so the two paths can never
    diverge on degenerate texts.
    """
    pct = int(threshold_pct)
    # Per-doc ONCE: distinct token set, its size, and the xxhash64 of
    # every token. The per-pair intersect then runs on ARRAY<LONG> —
    # Spark's array_intersect has a SPECIALIZED codegen hash set for
    # primitive element types only; on strings it falls back to the
    # interpreted nullSafeEval/SQLOpenHashSet path (thread dump: task
    # threads 12-17 s RUNNABLE inside ArrayIntersect.nullSafeEval over
    # the 1.78M-pair verify). |hash(A) ∩ hash(B)| == |A ∩ B| as long
    # as xxhash64 is injective on the pair's token union (collision
    # probability ~|tokens|^2 x 2^-64 per pair) — verified exact
    # against the string-path oracle at all three SFs on this
    # deterministic corpus (and the hash arrays are also the ONLY
    # payload the broadcast ships — guide §2.3/§4.2).
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(
            F.filter(tokens(text_col), lambda t: t != "")
        ).alias("_ts"),
    ).select(
        "_id",
        F.size("_ts").alias("_sz"),
        F.expr("transform(_ts, t -> xxhash64(t))").alias("_th"),
    )
    ta = toks.select(
        F.col("_id").alias("id_a"), F.col("_th").alias("_ta"), F.col("_sz").alias("_sa")
    )
    tb = toks.select(
        F.col("_id").alias("id_b"), F.col("_th").alias("_tb"), F.col("_sz").alias("_sb")
    )
    # The qualifying predicate is phrased with ONE array_intersect
    # occurrence over per-doc PRE-COMPUTED set sizes. Catalyst pushes a
    # where() on derived columns into the join condition by substituting
    # their defining expressions — the r11 phrasing (predicate over _i
    # and _u = sa+sb-_i) therefore planted size(array_intersect(..))
    # TWICE in the join condition plus once more in the survivor
    # projection, tripling the per-pair set work and producing a
    # codegen method large enough that C2 compile latency dominated
    # short stages (measured 28-130 s executor time run-to-run for the
    # identical 1.78M-pair verify at sf0.1). Equivalence is integer
    # algebra: u = sa+sb-i > 0 <=> sa+sb > 0 (i <= min(sa,sb)), and
    # 100*i >= pct*(sa+sb-i) <=> (100+pct)*i >= pct*(sa+sb) — exact on
    # longs, no float boundary to flip (guide §1.2 / §4: do not compute
    # what you throw away; keep generated code small).
    inter = F.size(F.array_intersect("_ta", "_tb"))
    # The token frames broadcast, so the verify FUSES into whatever
    # stage produces the candidate pairs — typically the banding
    # distinct, whose few-bytes exchange AQE coalesces to 1-3 tasks
    # while the per-pair set intersect (the expensive part) strands on
    # them (thread dump: 2 RUNNABLE tasks 12-17 s deep in
    # ArrayIntersect.nullSafeEval, 30 cores parked). Pin the pair
    # relation at cluster width in the small-bytes regime (no-op at
    # scale — guide §2.5/§2.6).
    from deeptime_spark.operators.layout import pin_width_for_cpu_dense

    return (
        pin_width_for_cpu_dense(
            candidates.select("id_a", "id_b"), "id_a", size_probe=docs
        )
        .join(ta, "id_a")
        .join(tb, "id_b")
        # conjunct ORDER matters: the codegen And short-circuits, and
        # the PPJoin length filter — (100+pct)*min(sa,sb) >= pct*(sa+sb)
        # is IMPLIED by the final predicate via i <= min(sa,sb), so it
        # drops no qualifying pair — is integer math that skips the
        # whole intersect for pairs whose sizes are incompatible with
        # the threshold (guide §1.2: don't compute what you throw away).
        .where(
            (F.col("_sa") + F.col("_sb") > 0)
            & (
                F.lit(100 + pct) * F.least("_sa", "_sb")
                >= F.lit(pct) * (F.col("_sa") + F.col("_sb"))
            )
            & (F.lit(100 + pct) * inter >= F.lit(pct) * (F.col("_sa") + F.col("_sb")))
        )
        .withColumn("_i", inter)
        .withColumn("_u", F.col("_sa") + F.col("_sb") - F.col("_i"))
        .select(
            "id_a",
            "id_b",
            F.col("_i").cast("long").alias("n_intersect"),
            F.col("_u").cast("long").alias("n_union"),
            (F.col("_i").cast("double") / F.col("_u").cast("double")).alias(
                "jaccard"
            ),
        )
    )


def autotune_near_dedup(
    docs: DataFrame,
    threshold_pct: int = 70,
    recall_floor: float = 0.9,
    n_hashes: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    probe_docs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Measure-then-dispatch near-duplicate pair generation — closes
    the loop from the tuning instruments (:func:`dedup_threshold_sweep`,
    :func:`dedup_candidate_quality`) to the pipeline, the
    empirical-crossover policy of the reference's covariance moment
    kernel (deeptime covariance/util/_moments.py:33-61: measure the
    regime, then dispatch the implementation):

    1. (bands, rows) from the analytic S-curve for the target
       threshold (:func:`choose_banding`);
    2. MEASURE that banding's candidate recall on the probe corpus:
       exact qualifying pairs (:func:`ppjoin_pairs`) vs banding
       candidates (:func:`minhash_lsh_candidates`, token units) through
       the :func:`dedup_candidate_quality` gate;
    3. dispatch: recall >= ``recall_floor`` -> LSH banding candidates
       verified with the exact integer token-Jaccard predicate (the
       probabilistic scale path, recall now a measured number); below
       the floor -> the exact PPJoin pair set (the clone-saturation
       regime, where capped band buckets collapse banding recall —
       measured at 0.26 on the x8 clone fixture).

    ``probe_docs`` bounds the measurement at scale: pass a
    deterministic sample (e.g. :func:`deeptime_spark.operators.mixing.
    group_sample` or a hash predicate) and the exact self-join runs on
    the probe ONLY — the full corpus is never PPJoined unless the
    dispatch itself falls back. Probe caveat: bucket caps bind later on
    a subsampled corpus (buckets shrink with the sample), so a probe
    UNDERESTIMATES cap-induced recall loss; size the probe to keep
    expected clone-family size representative, or scale ``max_bucket``
    down proportionally.

    Returns ``(pairs, report)``: ``pairs`` = qualifying pairs from the
    chosen path, (id_a, id_b, n_intersect, n_union, jaccard) with the
    identical predicate either way, eagerly materialized
    (localCheckpoint) so no internal cache outlives the call; ``report`` = ONE row (method,
    bands, rows_per_band, n_exact_probe, n_candidates_probe,
    n_hit_probe, probe_recall, pipeline_recall) — pipeline_recall is
    the measured recall of the chosen path against the exact pair set
    (1.0 by construction on the exact path; equal to the candidate
    recall on the banding path, since verification never drops a
    qualifying candidate; NULL when the probe had no qualifying pairs).
    """
    if not (0.0 <= recall_floor <= 1.0):
        raise ValueError(f"recall_floor must be in [0,1], got {recall_floor}")
    bands, rows_per_band = choose_banding(n_hashes, threshold_pct)
    probe = probe_docs if probe_docs is not None else docs
    exact_probe = ppjoin_pairs(
        probe, threshold_pct=threshold_pct, text_col=text_col, id_col=id_col
    )
    # the probe candidate frame feeds the gate AND (when the dispatch
    # stays on banding with probe == corpus) the exact verification —
    # persist so the LSH signature+banding pipeline, the expensive
    # stage, executes ONCE; released before returning (pairs are
    # eagerly materialized below, so no cached relation outlives the
    # call — the ppjoin_pairs/triangle_counts lifecycle convention)
    # with_est=False: the gate and the exact verify read only the id
    # pairs, so the banding never ships the signature payload (guide §2.3)
    cands_probe = minhash_lsh_candidates(
        probe,
        text_col=text_col,
        id_col=id_col,
        n_hashes=n_hashes,
        bands=bands,
        max_bucket=max_bucket,
        unit="words",
        with_est=False,
    ).persist()
    try:
        gate = dedup_candidate_quality(cands_probe, exact_probe).first()
        recall = gate["recall"]
        use_banding = recall is None or float(recall) >= float(recall_floor)
        if use_banding:
            method = "lsh_banding"
            cand_pairs = (
                cands_probe
                if probe_docs is None
                else minhash_lsh_candidates(
                    docs,
                    text_col=text_col,
                    id_col=id_col,
                    n_hashes=n_hashes,
                    bands=bands,
                    max_bucket=max_bucket,
                    unit="words",
                    with_est=False,
                )
            )
            pairs = _verify_pairs_token_jaccard(
                cand_pairs, docs, threshold_pct, text_col=text_col,
                id_col=id_col,
            ).localCheckpoint(eager=True)
            pipeline_recall = None if recall is None else float(recall)
        else:
            method = "ppjoin_exact"
            pairs = (
                exact_probe  # already localCheckpointed by ppjoin_pairs
                if probe_docs is None
                else ppjoin_pairs(
                    docs,
                    threshold_pct=threshold_pct,
                    text_col=text_col,
                    id_col=id_col,
                )
            )
            pipeline_recall = 1.0
    finally:
        cands_probe.unpersist(blocking=False)
    spark = docs.sparkSession
    report = _local_df(spark, 
        [
            (
                method,
                int(bands),
                int(rows_per_band),
                int(gate["n_exact"]),
                int(gate["n_candidates"]),
                int(gate["n_hit"]),
                None if recall is None else float(recall),
                pipeline_recall,
            )
        ],
        "method string, bands long, rows_per_band long, n_exact_probe long, "
        "n_candidates_probe long, n_hit_probe long, probe_recall double, "
        "pipeline_recall double",
    )
    return pairs, report
