"""Rows held in Python, as a JVM ``LocalRelation``.

In classic PySpark, ``createDataFrame(list, schema)`` is
``sc.parallelize`` plus a Python ``map``: every scan of the frame runs
Python-worker tasks, and its size statistics are unknown, so a static
join against it plans as sort-merge and only AQE rescues the broadcast.
``local_frame`` ships the rows as one Arrow table instead; the JVM turns
it into a ``LocalRelation`` with exact row counts and sizes (also for zero
rows), scanned without a Python worker.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(
    spark: SparkSession, rows: Iterable, schema: str | T.StructType
) -> DataFrame:
    """``rows`` (tuples, or bare values for a one-column schema) under the
    DDL or ``StructType`` ``schema``, as a ``LocalRelation``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = [r if isinstance(r, (tuple, list)) else (r,) for r in rows]
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
