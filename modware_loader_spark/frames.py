"""The three boundaries of a frame: rows held in Python into the JVM,
the split count a Python or vector map stage inherits, and per-row
Python over Arrow batches.

In classic PySpark, ``createDataFrame(list, schema)`` is
``sc.parallelize`` plus a Python ``map``: every scan of the frame runs
Python-worker tasks, and its size statistics are unknown, so a static
join against it plans as sort-merge and only AQE rescues the broadcast.
``local_frame`` ships the rows as one Arrow table instead; the JVM turns
it into a ``LocalRelation`` with exact row counts and sizes (also for zero
rows), scanned without a Python worker.

``map_rows`` is the one JVM→Python→JVM crossing of the package: every
media, crawl, BLAST and PubMed operator is a plain row function handed
to it, so the batch loop, the output assembly and the corrupt-input
policy exist once.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _struct(schema: str | T.StructType) -> T.StructType:
    return T._parse_datatype_string(schema) if isinstance(schema, str) else schema


def local_frame(
    spark: SparkSession, rows: Iterable, schema: str | T.StructType
) -> DataFrame:
    """``rows`` (tuples, or bare values for a one-column schema) under the
    DDL or ``StructType`` ``schema``, as a ``LocalRelation``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = _struct(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = [r if isinstance(r, (tuple, list)) else (r,) for r in rows]
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def ensure_min_partitions(df: DataFrame) -> DataFrame:
    """Rebalance a frame that arrives as fewer splits than cores.

    Map stages (Python row functions, argmin assignment, PQ encode,
    Lloyd scans) inherit the source's split count; ONE local parquet
    file would serialize them onto one core. Guarded on the actual
    partition count, so a production corpus with real split counts never
    pays the shuffle. (`.rdd.getNumPartitions()` costs a plan analysis,
    not a job — cheap next to any of these scans.)"""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable[tuple]],
    schema: str | T.StructType,
    carry: Sequence[str] = (),
    on_error: str = "raise",
    max_payload_bytes: int | None = None,
    null_row: tuple | None = None,
) -> DataFrame:
    """One Arrow map stage (``mapInPandas``) running ``fn`` per row.

    ``fn`` receives the values of ``df``'s non-``carry`` columns, in
    column order, and returns zero or more output tuples; each output
    row is the row's ``carry`` values followed by one such tuple, under
    the full output ``schema`` (carry fields first). Each output batch is
    built once, from the rows of one input batch.

    Corrupt input policy, shared by every media operator:
    ``on_error='raise'`` fails the stage on the first exception of
    ``fn``; ``'null'`` replaces that row's outputs by one ``null_row``
    (default: all NULL), so one bad payload cannot kill a 100 TB run.
    ``max_payload_bytes`` bounds every binary argument before ``fn``
    sees it: Arrow ships ``spark.sql.execution.arrow.maxRecordsPerBatch``
    rows per batch, so one runaway payload would take the Python worker
    down. An oversized row raises under ``'raise'`` and becomes
    ``null_row``, undecoded, under ``'null'``.
    """
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")
    schema = _struct(schema)
    names = schema.fieldNames()
    cols = list(carry) + [c for c in df.columns if c not in carry]
    k = len(carry)
    empty = (None,) * (len(names) - k) if null_row is None else tuple(null_row)
    what = fn.__qualname__.split(".<locals>")[0]

    def outputs(args: tuple) -> Iterable[tuple]:
        if max_payload_bytes is not None:
            for v in args:
                if isinstance(v, (bytes, bytearray)) and len(v) > max_payload_bytes:
                    if on_error == "null":
                        return (empty,)
                    raise ValueError(
                        f"{what}: payload of {len(v)} bytes exceeds "
                        f"max_payload_bytes={max_payload_bytes}; raise the cap "
                        "(and lower spark.sql.execution.arrow.maxRecordsPerBatch) "
                        "for large-media tables"
                    )
        if on_error == "raise":
            return fn(*args)
        try:
            return list(fn(*args))
        except Exception:
            return (empty,)

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for vals in pdf.itertuples(index=False, name=None):
                head = vals[:k]
                rows.extend(head + tuple(out) for out in outputs(vals[k:]))
            yield pd.DataFrame.from_records(rows, columns=names)

    return df.select(*cols).mapInPandas(batches, schema)
