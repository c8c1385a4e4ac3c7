"""The Chado load and export path runs on the JVM: rows held in Python are
``LocalRelation``s (``frames.local_frame``), text files are read with a
JVM scan whose line index equals ``zipWithIndex``'s, and neither
``gff3tochado`` nor ``chado2gff3`` reaches a list-backed
``createDataFrame`` or ``SparkContext.textFile``."""

from __future__ import annotations

import glob
import os
from argparse import Namespace

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from modware_loader_spark.frames import local_frame
from modware_loader_spark.sources.gff3 import _lines_with_index

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def _relation(df) -> str:
    return df._jdf.queryExecution().analyzed().nodeName()


def test_local_frame_zero_rows(spark):
    df = local_frame(spark, [], "a long, b string, c double")
    assert _relation(df) == "LocalRelation"
    assert dict(df.dtypes) == {"a": "bigint", "b": "string", "c": "double"}
    assert df.collect() == []


def test_local_frame_n_rows(spark):
    hosts = ["a.example.org", "b%20c.example.org", "xn--bcher-kva.example", "it's"]
    rows = [(h, i * 7 - 3) for i, h in enumerate(hosts)] + [(None, None)]
    df = local_frame(spark, rows, "host string, w long")
    assert _relation(df) == "LocalRelation"
    assert dict(df.dtypes) == {"host": "string", "w": "bigint"}
    assert [tuple(r) for r in df.collect()] == rows
    # exact size statistics: a static broadcast join, no AQE needed
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    assert stats.rowCount().get() == len(rows)
    single = local_frame(spark, hosts, "host string")
    assert [r.host for r in single.collect()] == hosts


@pytest.fixture()
def text_file(tmp_path):
    lines = []
    for i in range(400):
        kind = i % 5
        if kind == 0:
            lines.append("")
        elif kind == 1:
            lines.append(f"gène {i} — 日本語 ✓")
        else:
            lines.append(f"line\t{i}\t{'x' * (i % 13)}")
    path = tmp_path / "mixed.txt"
    # CRLF endings, except a bare LF every seventh line; no final newline
    body = "".join(
        line + ("\n" if i % 7 == 0 else "\r\n") for i, line in enumerate(lines[:-1])
    ) + lines[-1]
    path.write_bytes(body.encode("utf-8"))
    return str(path)


@pytest.mark.parametrize("max_bytes", [None, 512])
def test_lines_with_index_equals_zip_with_index(spark, text_file, max_bytes):
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    if max_bytes:
        spark.conf.set(key, str(max_bytes))
    try:
        raw = spark.read.text(text_file)
        parts = raw.rdd.getNumPartitions()
        got = sorted((r.idx, r.line) for r in _lines_with_index(spark, text_file).collect())
    finally:
        spark.conf.set(key, old)
    assert parts == 1 if max_bytes is None else parts >= 8
    want = sorted(
        (i, line) for line, i in spark.sparkContext.textFile(text_file).zipWithIndex().collect()
    )
    assert got == want
    assert [i for i, _ in got] == list(range(400))


def test_chado_commands_stay_off_the_python_worker(spark, tmp_path, monkeypatch):
    from modware_loader_spark import cli

    real = SparkSession.createDataFrame

    def no_list(self, data, *args, **kwargs):
        if isinstance(data, (list, tuple)):
            raise AssertionError("list-backed createDataFrame on the Chado path")
        return real(self, data, *args, **kwargs)

    def no_text_file(self, *args, **kwargs):
        raise AssertionError("SparkContext.textFile on the Chado path")

    monkeypatch.setattr(SparkSession, "createDataFrame", no_list)
    monkeypatch.setattr(SparkContext, "textFile", no_text_file)
    catalog = str(tmp_path / "catalog")
    out = str(tmp_path / "out.gff3")
    counts = cli.cmd_gff3tochado(
        Namespace(input=os.path.join(FIXTURES, "pinned_genome.gff3"), catalog=catalog,
                  dry_run=False)
    )
    assert counts["new_feature"] == 18
    exported = cli.cmd_chado2gff3(Namespace(catalog=catalog, output=out, dry_run=False))
    assert exported == {"features_exported": 15}
    assert glob.glob(os.path.join(out, "part-*"))
