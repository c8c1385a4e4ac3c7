"""``sources.stitch.running_stitch`` against a plain-Python fold over the
same rows, with chunks small enough that every running value crosses
chunk boundaries."""

from __future__ import annotations

from pyspark.sql import functions as F

from modware_loader_spark.frames import local_frame
from modware_loader_spark.sources.stitch import running_stitch

SCHEMA = "idx long, w long, tag string"


def _rows(n: int) -> list[tuple]:
    """``n`` rows with unique, gapped indexes in shuffled order; ``tag``
    is null on the first rows and on most later ones."""
    rows = []
    for i in range(n):
        idx = 3 * i + (i % 2)
        tag = f"t{i}" if i >= 10 and i % 6 == 0 else None
        rows.append((idx, (i * 37) % 11 - 4, tag))
    return sorted(rows, key=lambda r: (r[0] * 7919) % 1009)


def _fold(rows: list[tuple]) -> list[tuple]:
    """``(idx, flags, sums, last)`` by a serial walk in idx order."""
    out, flags, sums, last = [], 0, 0, None
    for idx, w, tag in sorted(rows):
        flags += w > 0
        sums += w
        last = tag if tag is not None else last
        out.append((idx, flags, sums, last))
    return out


def _stitch(spark, rows: list[tuple]) -> list[tuple]:
    lines = local_frame(spark, rows, SCHEMA).repartition(3)
    got = running_stitch(
        lines,
        counts={"flags": F.col("w") > 0, "sums": F.col("w")},
        lasts={"last": F.col("tag")},
        chunk_size=7,
    )
    assert sorted(got.columns) == ["flags", "idx", "last", "sums", "tag", "w"]
    return sorted(tuple(r) for r in got.select("idx", "flags", "sums", "last").collect())


def test_running_stitch_matches_serial_fold(spark):
    rows = _rows(120)
    want = _fold(rows)
    assert want[9][3] is None and want[-1][3] is not None
    assert _stitch(spark, rows) == want


def test_running_stitch_on_empty_input(spark):
    assert _stitch(spark, []) == []
