"""Seeded input generator for the benchmark, written with numpy and pyarrow only.

The rows are the sf0.01 test tables (``TESTDATA.md``), kept unchanged under
``tables/sf0.01`` so a run reads nothing outside its checkout. The seed sets
the physical row order of every table, which is the layout Spark partitions
and scans; the rows themselves, their values and the column types stay the
test tables', so each query does the same work from seed to seed. Each table is
written as one ``<table>.parquet`` file (the layout ``__spark_entry__``
queries and the DuckDB oracles read), split into several row groups so Spark
splits the scan. The same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2
SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables", "sf0.01")
ROW_GROUPS = 8


def build_tables(seed: int) -> dict[str, pa.Table]:
    """Every source table, its rows in the order ``seed`` sets."""
    rng = np.random.default_rng(seed)
    out = {}
    for f in sorted(os.listdir(SOURCE)):
        t = pq.read_table(os.path.join(SOURCE, f))
        out[f.removesuffix(".parquet")] = t.take(pa.array(rng.permutation(t.num_rows)))
    return out


def write_tables(out_dir: str, seed: int) -> None:
    """Write every table to ``out_dir/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in build_tables(seed).items():
        rg = max(1, -(-t.num_rows // ROW_GROUPS))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=rg)
