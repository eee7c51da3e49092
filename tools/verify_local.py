"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir and compares them with
``perfbench/oracle_check.compare``, the one comparison rule: row count,
column names, dtype kind, and order-insensitive values (columns sorted
by name, rows sorted by all columns), floats exact — the driver hashes
values, so exact is the bar.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    # literal-value estimator oracles (oracle_ref) must be built against
    # the same sf dir the queries run at
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir
    import __spark_entry__ as entrymod

    from deeptime_spark.session import TABLES, get_spark
    from perfbench.oracle_check import compare

    spark = get_spark("verify-local", "bare")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows ({dt:.1f}s) [rows-only]")
            n_rows_only += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = compare(sdf, odf)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"pass  {name}: {len(sdf)} rows ({dt:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
