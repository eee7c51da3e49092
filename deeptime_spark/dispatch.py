"""The one place that says whether a gated operator finishes on the driver,
and the one Arrow path that brings its input there.

An input small enough to collect finishes on the driver with numpy: short
iterative Spark loops are bound by per-round scheduling, not data. Both
paths return bit-identical results (tests/test_forced_distributed.py), so
a bound only moves time. ``force("distributed")`` sends every decision to
the distributed path; its only state is ``DEEPTIME_DISPATCH=distributed``,
read at each decision, so a subprocess or ``monkeypatch.setenv`` works too.

``arrays`` fetches a frame as numpy columns in one Arrow job. ``fetch`` is
the bounded form every size-gated site uses: it fetches at most the
bound's rows plus one and decides from the count it got back, so a site
runs one job where it ran a ``count()`` and then a collect. Driver results
go back to Spark through ``local_relation.local_df`` as a JVM local
relation, so the hop is one Arrow transfer each way.
"""

from __future__ import annotations

import contextlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

ENV = "DEEPTIME_DISPATCH"

# decision -> closed range of input sizes that runs on the driver, with the
# warm-min crossover SCALE.md's round-13 table measured (x1 = sf0.1, 32 cores)
BOUNDS = {
    # triangle_counts, canonical edges: driver 1.55 vs 2.95 s at x1; x8 is
    # above the bound and ties (8.56 vs 8.60 s)
    "triangles": (1, 500_000),
    # oriented wedges the driver triangle kernel may expand (its memory
    # budget); above it the kernel hands back to the distributed join
    "triangle_wedges": (0, 20_000_000),
    # k_core / bfs_distances / label_propagation, collected edge rows: driver
    # ~4x faster at x1, still ahead at x8 (label propagation 3.51 vs 3.68 s)
    "graph": (1, 500_000),
    # VAMPNet / TAE / TVAE fits, rows x features: driver replay ~2.05 s/100k
    # elems, distributed epochs ~0.75 s/100k over a ~4 s floor; they cross
    # near 270k (100k: 2.64 vs 4.84 s, 800k: 17.0 vs 10.1 s)
    "deep_fit": (0, 262_144),
    # connected_components union-find, pair rows: driver 3.59 vs 5.43 s at
    # x1, 6.52 vs 10.75 s at x8
    "union_find": (0, 2_000_000),
    # DeterministicKMeans Lloyd, 1 if the init sample came back full, 0 if it
    # holds the whole relation: driver 0.39 vs 3.07 s at x1
    "kmeans": (0, 0),
    # MaximumLikelihoodHMM.fit and HiddenMarkovModel.viterbi_df /
    # state_probabilities_df, trajectory frames. hmm_viterbi_events, warm-min
    # on 4 cores: driver 1.63 vs 2.45 s at x1 (100k frames), 6.81 vs 4.76 s
    # at x8 (800k); the lines through both cross near 300k. The distributed
    # E-step reduces the same per-trajectory rows as the driver: against a
    # per-partition sum it cost 1.28 vs 1.24 s at x1 and 2.28 vs 2.14 s at
    # x8 (medians of 4 forced-distributed fits), inside the sum's spread.
    # Above the bound the dropped fetches (the query's, then the fit's and
    # the decode's) slow the distributed path at x8 from 3.88 to 4.39 s on
    # 4 cores (SCALE.md), still well ahead of the driver
    "hmm": (0, 300_000),
    # TRAM bias energies, samples with state >= 0: collected as per-state
    # blocks for the driver fold, else persisted by state and folded by one
    # mapInPandas job per iteration. tram_events, warm-min on 4 cores: driver
    # 2.76 vs 12.26 s at x1 (100k samples), 12.54 vs 29.84 s at x8 (800k).
    # The driver wins at both sizes, so the bound is a memory cap: the
    # arrays fetch (the state column and the flat bias buffer, no Row
    # objects) raises the Python peak RSS by 40 MB at x1 and 85 MB at x8,
    # ~64 bytes per added sample (the Row collect it replaced: 83 and 452 MB)
    "tram_bias": (0, 2_000_000),
}


def on_driver(decision: str, size: int) -> bool:
    """True when ``decision`` on an input of ``size`` units runs on the driver."""
    mode = os.environ.get(ENV, "")
    if mode and mode != "distributed":
        raise ValueError(f"{ENV}={mode!r}: expected unset or 'distributed'")
    lo, hi = BOUNDS[decision]
    return not mode and lo <= size <= hi


def fetch(decision: str, df, width: int = 1):
    """The one bounded fetch: ``dispatch.arrays(df)`` when ``df`` has at most
    the bound's rows, else None. ``width`` converts a bound counted in
    elements (``deep_fit``: rows x features) to rows. Forced distributed
    returns None without running a job; otherwise it costs one Arrow job of
    at most ``hi // width + 1`` rows, and the fetched row count decides, so
    no ``count()`` runs before it. On a persisted ``df`` the fetch is the
    action that fills the cache for a distributed fallback."""
    lo, hi = BOUNDS[decision]
    if not on_driver(decision, lo):
        return None
    a = arrays(df.limit(hi // width + 1))
    n = len(next(iter(a.values())))
    return a if on_driver(decision, n * width) else None


def arrays(df) -> dict:
    """Every column of ``df`` as one contiguous, writeable numpy array,
    ``{name: array}``, from one Arrow job (``toArrow``, whatever the
    session's Arrow setting) in the collect's row order, so an ``orderBy``
    keeps its meaning. An array column comes back ``(rows, width)``, the
    width read from its Arrow offsets (``(0, 0)`` for no rows). A NULL in an
    integer column, a NULL array or arrays of unequal length raise
    ``ValueError`` naming the column; a NULL double comes back NaN."""
    table = df.toArrow()
    return {name: _numpy(name, table.column(name)) for name in table.column_names}


def _numpy(name: str, col) -> np.ndarray:
    if pa.types.is_list(col.type):
        col = col.combine_chunks()
        width = pc.min_max(col.value_lengths()).as_py()
        if col.null_count or width["min"] != width["max"]:
            raise ValueError(f"arrays: array column {name!r} holds a NULL or unequal lengths")
        return _numpy(name, col.flatten()).reshape(len(col), width["max"] or 0)
    if pa.types.is_integer(col.type) and col.null_count:
        raise ValueError(f"arrays: integer column {name!r} holds a NULL")
    a = col.to_numpy(zero_copy_only=False)
    return a if a.flags.writeable else a.copy()


@contextlib.contextmanager
def force(mode: str):
    """Run every gated operator on the distributed path inside the block."""
    if mode != "distributed":
        raise ValueError(f"force({mode!r}): the only forced mode is 'distributed'")
    old = os.environ.get(ENV)
    os.environ[ENV] = mode
    try:
        yield
    finally:
        if old is None:
            del os.environ[ENV]
        else:
            os.environ[ENV] = old
