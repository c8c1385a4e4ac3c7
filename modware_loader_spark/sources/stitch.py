"""Positions in a global order without a single-partition window.

Order-dependent numbering runs through the whole engine: line numbers
of a text scan, the records a multi-line format groups its lines into,
surrogate ids (``merge.generate_ids``) and prefix sums
(``packing.exclusive_prefix_sum``). The naive expression is an
*unpartitioned* window (``row_number/sum/last OVER (ORDER BY idx)``) that
funnels the whole input through one task. Two primitives compute the
same values partition-parallel, both on one driver fold
(:func:`_fold_join`): per-group totals are collected (a dim-sized
summary, the same class as header fetches), folded in group order on
the driver into one carry row per group, and broadcast-joined back as a
``local_frame``.

- :func:`dense_index` numbers rows densely in (group, monotonic id)
  order; the groups are whole scan blocks or range partitions, so the
  local value is the row's monotonic id and the carry is a shift.
- :func:`running_stitch` decorates rows that already carry a unique,
  increasing long index with running counts/sums and running "last
  non-null" values. Rows are bucketed into fixed ``idx div chunk_size``
  chunks (deterministic from the data, independent of physical
  partitioning), local running values come from a window partitioned by
  chunk, and the carry is each chunk's offset / carry-in. At 10⁹ dense
  lines the summary is ~2.4×10⁵ rows (a few MB on the driver).

:func:`line_index` is :func:`dense_index` over the file blocks of one
JVM text scan: the indexes ``zipWithIndex`` would give, without a Python
worker.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from modware_loader_spark.frames import local_frame

DEFAULT_CHUNK = 4096


def _fold_join(
    df: DataFrame,
    summary: DataFrame,
    keys: Sequence[str],
    fold: Callable[[list[Row]], Iterable[tuple]],
    carry: Sequence[T.StructField],
) -> DataFrame:
    """Collect ``summary`` (one row per ``keys`` group), let ``fold`` walk
    its rows in ``keys`` order yielding one ``carry`` tuple per row, and
    broadcast-join the ``keys + carry`` rows back onto ``df``."""
    keys = list(keys)
    rows = sorted(summary.collect(), key=lambda r: tuple(r[k] for k in keys))
    carries = [tuple(r[k] for k in keys) + c for r, c in zip(rows, fold(rows))]
    schema = T.StructType([summary.schema[k] for k in keys] + list(carry))
    frame = local_frame(df.sparkSession, carries, schema)
    return df.join(F.broadcast(frame), keys, "left")


def dense_index(
    df: DataFrame,
    group: Sequence[str],
    id_col: str,
    out: str,
    start: int = 0,
) -> DataFrame:
    """``df`` plus ``out``: each row's position in (``group``, ``id_col``)
    order, dense from ``start``.

    ``id_col`` is a ``monotonically_increasing_id`` taken where each group
    lies inside one partition. Those ids are consecutive inside a
    partition, so a row's position in its group is its id minus the
    group's smallest id; one small aggregate counts the rows per group and
    the fold turns the counts into one shift per group."""

    def shifts(rows):
        acc = start
        for r in rows:
            yield (acc - r["__first"],)
            acc += r["__n"]

    summary = df.groupBy(*group).agg(
        F.count(F.lit(1)).alias("__n"), F.min(id_col).alias("__first")
    )
    shift = [T.StructField("__shift", T.LongType())]
    return (
        _fold_join(df, summary, group, shifts, shift)
        .withColumn(out, F.col(id_col) + F.col("__shift"))
        .drop("__shift")
    )


def line_index(spark: SparkSession, path: str) -> DataFrame:
    """``(line, idx)`` for every line of the text file(s) at ``path``, with
    ``idx`` dense from 0 in file order (files by path). Each file block is
    read by exactly one scan partition, so the blocks are the groups of
    :func:`dense_index`."""
    raw = spark.read.text(path).select(
        F.col("value").alias("line"),
        F.col("_metadata.file_path").alias("__file"),
        F.col("_metadata.file_block_start").alias("__block"),
        F.monotonically_increasing_id().alias("__id"),
    )
    return dense_index(raw, ["__file", "__block"], "__id", "idx").select("line", "idx")


def running_stitch(
    lines: DataFrame,
    counts: dict[str, Column] | None = None,
    lasts: dict[str, Column] | None = None,
    chunk_size: int = DEFAULT_CHUNK,
    idx_col: str = "idx",
) -> DataFrame:
    """Decorate ``lines`` (must carry a unique long ``idx_col``) with
    running columns, without a global single-partition window.

    ``counts``: name → boolean flag or integer column; output = inclusive
    running sum (flags count as 1), equal to
    ``sum(value) OVER (ORDER BY idx ROWS UNBOUNDED PRECEDING)``.

    ``lasts``: name → value column (null = no marker on this line);
    output = last non-null value at-or-before the row, equal to
    ``last(value, ignorenulls) OVER (ORDER BY idx ROWS UNBOUNDED
    PRECEDING)``.
    """
    counts = counts or {}
    lasts = lasts or {}
    chunked = lines.withColumn("__chunk", F.expr(f"{idx_col} div {int(chunk_size)}"))

    # Local running values inside each chunk (parallel window).
    wl = (
        Window.partitionBy("__chunk")
        .orderBy(idx_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = chunked
    for name, flag in counts.items():
        local = local.withColumn(f"__loc_{name}", F.sum(flag.cast("long")).over(wl))
    for name, val in lasts.items():
        local = local.withColumn(f"__loc_{name}", F.last(val, ignorenulls=True).over(wl))

    # Per-chunk totals/finals, folded into each chunk's offset / carry-in.
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, flag in counts.items():
        aggs.append(F.sum(flag.cast("long")).alias(f"__tot_{name}"))
    for name, val in lasts.items():
        aggs.append(
            F.max_by(val, F.when(val.isNotNull(), F.col(idx_col))).alias(f"__fin_{name}")
        )
    summary = chunked.groupBy("__chunk").agg(*aggs)

    def carries(rows):
        offs = {n: 0 for n in counts}
        lastv: dict[str, object] = {n: None for n in lasts}
        for r in rows:
            yield tuple(offs[n] for n in counts) + tuple(lastv[n] for n in lasts)
            for n in counts:
                offs[n] += r[f"__tot_{n}"] or 0
            for n in lasts:
                if r[f"__fin_{n}"] is not None:
                    lastv[n] = r[f"__fin_{n}"]

    carry = [T.StructField(f"__off_{n}", T.LongType(), False) for n in counts] + [
        T.StructField(f"__in_{n}", summary.schema[f"__fin_{n}"].dataType, True)
        for n in lasts
    ]
    out = _fold_join(local, summary, ["__chunk"], carries, carry)
    for name in counts:
        out = out.withColumn(name, F.col(f"__off_{name}") + F.col(f"__loc_{name}"))
    for name in lasts:
        out = out.withColumn(name, F.coalesce(f"__loc_{name}", f"__in_{name}"))
    drop = (
        ["__chunk"]
        + [f"__loc_{n}" for n in counts]
        + [f"__loc_{n}" for n in lasts]
        + [f"__off_{n}" for n in counts]
        + [f"__in_{n}" for n in lasts]
    )
    return out.drop(*drop)
