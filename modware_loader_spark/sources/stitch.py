"""Scale-safe record stitching for line-oriented multi-line formats.

The OBO / GenBank / BibTeX / FASTA parsers all need two order-dependent
line decorations to group physical lines into logical records:

- ``running count``: how many marker lines (stanza header, ``>`` header,
  ``@entry{`` line, feature-key line) occur at-or-before each line — the
  record id;
- ``running last``: the most recent non-null marker value at-or-before
  each line — the carried record attribute (stanza type, seq id, …).

The naive expression is ``sum/last OVER (ORDER BY idx)`` — an
*unpartitioned* window that funnels the entire file through one task
(fine for a 2 MB ontology, wrong for a genome-sized FASTA tail; flagged
as a scale-killer in round-3 review). This module computes the identical
result with the classic two-phase chunked prefix pattern:

1. bucket lines into fixed ``idx div chunk_size`` chunks (deterministic
   from the data, independent of physical partitioning);
2. per-chunk *local* running values via a window partitioned by chunk —
   fully parallel;
3. per-chunk totals/finals aggregated into a tiny summary frame
   (``n_lines / chunk_size`` rows) whose exclusive prefix
   (offset / carry-in) is folded driver-side — a dim-sized collect, the
   same class as header fetches; no window anywhere;
4. broadcast-join the carry-ins back and combine map-side.

At 10⁹ input lines the summary frame is ~2.4×10⁵ rows (a few MB on the
driver) while every full-data operator stays partition-parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from modware_loader_spark.frames import local_frame

DEFAULT_CHUNK = 4096


def running_stitch(
    lines: DataFrame,
    counts: dict[str, Column] | None = None,
    lasts: dict[str, Column] | None = None,
    chunk_size: int = DEFAULT_CHUNK,
    idx_col: str = "idx",
) -> DataFrame:
    """Decorate ``lines`` (must carry a unique long ``idx_col``) with
    running columns, without a global single-partition window.

    ``counts``: name → boolean flag column; output = inclusive running
    count of flagged rows, equal to
    ``sum(flag) OVER (ORDER BY idx ROWS UNBOUNDED PRECEDING)``.

    ``lasts``: name → value column (null = no marker on this line);
    output = last non-null value at-or-before the row, equal to
    ``last(value, ignorenulls) OVER (ORDER BY idx ROWS UNBOUNDED
    PRECEDING)``.
    """
    counts = counts or {}
    lasts = lasts or {}
    chunked = lines.withColumn("__chunk", F.expr(f"{idx_col} div {int(chunk_size)}"))

    # Phase 1 — local running values inside each chunk (parallel window).
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

    # Phase 2 — per-chunk totals/finals: a summary frame of
    # n_lines/chunk_size rows.
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, flag in counts.items():
        aggs.append(F.sum(flag.cast("long")).alias(f"__tot_{name}"))
    for name, val in lasts.items():
        aggs.append(
            F.max_by(val, F.when(val.isNotNull(), F.col(idx_col))).alias(f"__fin_{name}")
        )
    summary = chunked.groupBy("__chunk").agg(*aggs)

    # Phase 3 — exclusive prefix over the summary, computed driver-side:
    # the summary is bounded at rows ≈ n_lines/chunk_size (~2.4×10⁵ for
    # 10⁹ lines, a few MB), the same dim-sized class as header fetches
    # and generate_ids' offset collect. A window here would be the one
    # remaining single-partition WindowExec in the engine; a linear fold
    # over collected rows is cheaper and warning-free.
    fin_types = {f.name: f.dataType for f in summary.schema.fields}
    offs = {n: 0 for n in counts}
    lastv: dict[str, object] = {n: None for n in lasts}
    carry_rows = []
    for r in sorted(summary.collect(), key=lambda r: r["__chunk"]):
        row = [r["__chunk"]]
        for n in counts:
            row.append(offs[n])
            offs[n] += r[f"__tot_{n}"] or 0
        for n in lasts:
            row.append(lastv[n])
            if r[f"__fin_{n}"] is not None:
                lastv[n] = r[f"__fin_{n}"]
        carry_rows.append(tuple(row))
    carry_schema = T.StructType(
        [T.StructField("__chunk", T.LongType(), False)]
        + [T.StructField(f"__off_{n}", T.LongType(), False) for n in counts]
        + [T.StructField(f"__in_{n}", fin_types[f"__fin_{n}"], True) for n in lasts]
    )
    carries = local_frame(lines.sparkSession, carry_rows, carry_schema)

    # Phase 4 — broadcast the carries back; combine map-side.
    out = local.join(F.broadcast(carries), "__chunk", "left")
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
