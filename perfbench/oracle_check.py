"""Correctness check of query results against their DuckDB oracles.

The comparison follows ``tools/verify_local.py``: same row count and column
names, then order-insensitive values (columns sorted by name, rows sorted by
every column), exact for floats, and the same dtype kind (an int column
never matches a float one). A query without an oracle is checked for
running only and reported as ``rows-only``.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd


def oracles_for(entry, names: list[str]) -> dict[str, str]:
    """``entry.oracle_sql()`` restricted to ``names``.

    ``oracle_sql()`` builds all of its ~230 oracles, and the literal-value
    estimator ones (``oracle_ref.estimator_oracles``) cost ~20 s together.
    This builds the cheap SQL part as ``oracle_sql()`` does and runs only
    the estimator builders of the named queries, failure-isolated the same
    way, so each entry equals the one ``oracle_sql()`` returns.
    """
    from deeptime_spark import oracle_ref

    build_all = oracle_ref.estimator_oracles
    oracle_ref.estimator_oracles = dict
    try:
        sql = entry.oracle_sql()
    finally:
        oracle_ref.estimator_oracles = build_all
    out = {}
    for name in names:
        builder = oracle_ref._BUILDERS.get(name)
        if builder is not None:
            try:
                sql[name] = builder()
            except Exception:  # noqa: BLE001 — oracle_sql() skips it too
                pass
        if name in sql:
            out[name] = sql[name]
    return out


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _kind(k: str) -> str:
    return {"i": "int", "u": "int", "f": "float"}.get(k, k)


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Problems found comparing a Spark result with its oracle result."""
    if len(sdf) != len(odf):
        return [f"rowcount spark={len(sdf)} oracle={len(odf)}"]
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    problems = []
    a, b = _normalize(sdf), _normalize(odf)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        ka, kb = _kind(av.dtype.kind), _kind(bv.dtype.kind)
        if ka != kb and ({"int", "float"} & {ka, kb}):
            problems.append(f"col {c}: dtype kind spark={av.dtype} oracle={bv.dtype}")
            continue
        if ka == "float":
            av, bv = av.astype(float), bv.astype(float)
            keep = ~(np.isnan(av) & np.isnan(bv))
            n_bad = int((av[keep] != bv[keep]).sum())
        else:
            n_bad = int((av.astype(str) != bv.astype(str)).sum())
        if n_bad:
            problems.append(f"col {c}: {n_bad} value mismatches")
    return problems


def check_results(entry, results: dict, data_dir: str) -> dict[str, dict]:
    """Compare each collected query result (a DataFrame, or the exception
    the query or its collection raised) with the query's oracle."""
    con = duckdb.connect()
    for f in os.listdir(data_dir):
        table = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{data_dir}/{f}'")
    oracles = oracles_for(entry, list(results))
    out = {}
    for name, sdf in results.items():
        if isinstance(sdf, Exception):
            out[name] = {"status": "fail", "detail": f"spark: {type(sdf).__name__}: {str(sdf)[:300]}"}
            continue
        if name not in oracles:
            out[name] = {"status": "rows-only", "detail": f"{len(sdf)} rows"}
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            out[name] = {"status": "fail", "detail": f"duckdb: {type(e).__name__}: {str(e)[:300]}"}
            continue
        problems = compare(sdf, odf)
        out[name] = {
            "status": "fail" if problems else "pass",
            "detail": "; ".join(problems) or f"{len(sdf)} rows",
        }
    con.close()
    return out
