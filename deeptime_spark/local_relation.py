"""Literal DataFrames from driver-side results, built in the JVM.

Reports, gate rows, collected model tables and driver-kernel outputs are
small by construction. ``local_df`` hands them to Spark as one Arrow table
(``createDataFrame(pyarrow.Table, struct)``), which the JVM turns into a
``LocalRelation``: the plan reads a ``LocalTableScan`` and every consumer
runs JVM-only tasks, whatever the session's Arrow setting. A frame built
from a Python row list (``createDataFrame(list)`` or ``parallelize``) is a
Python RDD instead, so each consumer starts a Python worker; a noop sink
over such a frame measured 0.13-0.21 s against 0.03-0.06 s for the
``LocalTableScan`` of the same rows (4 cores).
"""

from __future__ import annotations

import functools

import pyarrow as pa
from pyspark.sql.pandas.types import from_arrow_type, to_arrow_type
from pyspark.sql.types import DataType, StructField, StructType


@functools.lru_cache(maxsize=None)
def _ddl(schema: str) -> StructType:
    return DataType.fromDDL(schema)


def local_df(spark, rows, schema):
    """``spark.createDataFrame(rows, schema)`` as a JVM local relation.

    ``rows`` is a driver-side list (or other sized iterable) of
    tuples/Rows; ``schema`` a DDL string, a StructType, or a list of column
    names whose types are inferred from the values (as ``createDataFrame``
    infers them: int -> long, float -> double, list -> array).
    """
    rows = rows if isinstance(rows, list) else list(rows)
    if isinstance(schema, (list, tuple)):
        cols = list(zip(*rows))
        if not cols:
            raise ValueError("local_df: cannot infer column types from no rows")
        arrays = [pa.array(c) for c in cols]
        schema = StructType(
            [StructField(n, from_arrow_type(a.type)) for n, a in zip(schema, arrays)]
        )
        return spark.createDataFrame(pa.table(arrays, names=schema.names), schema)
    struct = _ddl(schema) if isinstance(schema, str) else schema
    cols = list(zip(*rows)) or [()] * len(struct.fields)
    return columns_df(spark, dict(zip(struct.names, cols)), struct)


def columns_df(spark, columns: dict, schema):
    """``local_df`` for column-major data: ``{name: sequence or numpy
    array}``, each converted to the schema field's Arrow type."""
    struct = _ddl(schema) if isinstance(schema, str) else schema
    table = pa.table(
        [pa.array(columns[f.name], type=to_arrow_type(f.dataType)) for f in struct.fields],
        names=struct.names,
    )
    return spark.createDataFrame(table, struct)
