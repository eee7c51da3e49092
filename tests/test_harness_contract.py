"""Driver-contract invariants for __spark_entry__ — the round-3 lesson:
a NameError inside queries() silently zeroes the whole correctness round,
so the dict must BUILD (and stay oracle-complete) under plain pytest,
no Spark session required."""

import pytest

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def oracles():
    """oracle_sql() takes ~18 s to build; build it once per module."""
    return entrymod.oracle_sql()


def test_queries_dict_builds_and_is_callable():
    qs = entrymod.queries()
    assert len(qs) >= 80
    for name, fn in qs.items():
        assert callable(fn), name


def test_every_query_has_an_oracle_and_vice_versa(oracles):
    qs = set(entrymod.queries())
    assert set(oracles) == qs, (
        set(oracles) ^ qs
    )
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_oracle_sql_is_parseable_by_duckdb(oracles):
    """Every oracle must at least PARSE in DuckDB (tables mocked as empty
    views) — catches syntax errors (reserved words, dialect slips) that
    would degrade a query to rows-only at driver time."""
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        sf = "/root/testdata/sf0.001"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet') LIMIT 0"
        )
    for name, sql in oracles.items():
        try:
            con.execute(f"SELECT * FROM ({sql}) LIMIT 0")
        except Exception as exc:  # pragma: no cover - failure carries name
            raise AssertionError(f"oracle for {name} failed to parse: {exc}")


def test_every_query_is_registered_once_where_it_is_defined():
    """``@query`` is the one inventory: every module-level ``_q_<name>``
    carries exactly one ``@query`` decorator and is ``queries()[name]``;
    the driver window leads; the bench/scale/dispatch sets are views of
    the registry, and the tools keep no list of their own."""
    import ast
    import importlib.util
    import inspect
    import os

    qs = entrymod.queries()
    tree = ast.parse(inspect.getsource(entrymod))
    defs = [
        node for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("_q_")
    ]
    assert len(defs) == len(qs)
    for node in defs:
        decorators = [ast.unparse(d).split("(")[0] for d in node.decorator_list]
        assert decorators == ["query"], (node.name, decorators)
        assert qs[node.name.removeprefix("_q_")] is getattr(entrymod, node.name)
    with pytest.raises(ValueError):
        entrymod.query(entrymod._q_tica_events)

    assert list(qs)[:50] == entrymod._WINDOW_ORDER
    for names in (entrymod.BENCH, entrymod.SCALE, entrymod.DISPATCH):
        assert names and len(set(names)) == len(names)
        assert set(names) <= set(qs)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for rel in ("bench.py", "tools/scale_bench.py", "tools/forced_distributed_bench.py"):
        spec = importlib.util.spec_from_file_location("registry_check", os.path.join(root, rel))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert not hasattr(mod, "HEADLINE") and not hasattr(mod, "QUERIES"), rel
