"""Tests of the seeded input generator: run with ``python3 -m pytest perfbench/tests``."""

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import gen


def _digests(d):
    return {
        name: hashlib.sha256(open(os.path.join(d, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(d))
    }


def _parquet_columns(path):
    schema = pq.ParquetFile(path).schema
    return [
        (c.path, c.physical_type, str(c.logical_type))
        for c in (schema.column(i) for i in range(len(schema)))
    ]


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    d = tmp_path_factory.mktemp("gen")
    gen.write_tables(str(d), 7)
    return d


def test_same_seed_gives_identical_files(tables, tmp_path):
    gen.write_tables(str(tmp_path), 7)
    assert _digests(tables) == _digests(tmp_path)


def test_other_seed_reorders_the_same_rows(tables, tmp_path):
    gen.write_tables(str(tmp_path), 8)
    a, b = _digests(tables), _digests(tmp_path)
    assert a.keys() == b.keys() == {f for f in os.listdir(gen.SOURCE)}
    for name in ("lineitem", "events", "documents", "embeddings"):
        assert a[f"{name}.parquet"] != b[f"{name}.parquet"], name
        rows = [
            sorted(map(repr, pq.read_table(os.path.join(d, f"{name}.parquet")).to_pylist()))
            for d in (tables, tmp_path, gen.SOURCE)
        ]
        assert rows[0] == rows[1] == rows[2], name


def test_schema_equals_source_tables(tables):
    for f in os.listdir(gen.SOURCE):
        want = pq.read_schema(os.path.join(gen.SOURCE, f))
        assert pq.read_schema(tables / f).equals(want, check_metadata=True), f
        # the parquet column types too (timestamp unit, list layout)
        assert _parquet_columns(tables / f) == _parquet_columns(os.path.join(gen.SOURCE, f)), f


def test_several_row_groups(tables):
    for name in ("lineitem", "orders", "events", "documents", "customer"):
        assert pq.ParquetFile(tables / f"{name}.parquet").num_row_groups > 1, name


def _col(tables, name, col):
    return pq.read_table(tables / f"{name}.parquet", columns=[col]).column(col)


@pytest.mark.parametrize(
    "child,fk,parent,pk",
    [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ],
)
def test_foreign_keys_hold(tables, child, fk, parent, pk):
    keys = _col(tables, parent, pk)
    assert pc.count_distinct(keys).as_py() == len(keys)
    assert pc.all(pc.is_in(_col(tables, child, fk), value_set=keys)).as_py()


def test_seed_sets_row_order(tables):
    order = _col(tables, "orders", "o_orderkey").to_numpy()
    assert not np.all(np.diff(order) > 0)
    assert np.array_equal(np.sort(order), np.sort(pq.read_table(
        os.path.join(gen.SOURCE, "orders.parquet"), columns=["o_orderkey"]
    ).column(0).to_numpy()))


def test_events_keep_the_source_timestamp_type(tables):
    want = pq.read_schema(os.path.join(gen.SOURCE, "events.parquet")).field("ts").type
    assert pa.types.is_timestamp(want)
    assert pq.read_schema(tables / "events.parquet").field("ts").type == want
