"""Round-5 rim: the stdlib .xlsx sink (reference dictypub.pm's
Spreadsheet::WriteExcel mirror) and the CanCompress gzip/tar.gz
post-step on chado2gaf."""

from __future__ import annotations

import gzip
import json
import os
import tarfile
import zipfile

import pytest

from modware_loader_spark import cli
from modware_loader_spark.sinks.xlsx import read_xlsx_rows, write_xlsx, write_xlsx_rows

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def _run(capsys, argv):
    rc = cli.main(argv)
    assert rc == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_xlsx_roundtrip_plain_rows(tmp_path):
    path = str(tmp_path / "t.xlsx")
    n = write_xlsx_rows(
        [("13319664", "abcA", "DDB0001"), ("158<>&", "b", None), (7, 1.5, True)],
        path,
        header=["pubmed", "gene_name", "dictyBase id"],
    )
    assert n == 3
    assert zipfile.is_zipfile(path)
    rows = read_xlsx_rows(path)
    assert rows[0] == ["pubmed", "gene_name", "dictyBase id"]
    assert rows[1] == ["13319664", "abcA", "DDB0001"]
    assert rows[2][:2] == ["158<>&", "b"]  # XML escaping round-trips
    assert rows[3][0] == 7 and rows[3][1] == 1.5


def test_xlsx_from_dataframe_streams(spark, tmp_path):
    df = spark.range(250).selectExpr("id", "concat('name', id) AS name")
    path = str(tmp_path / "df.xlsx")
    n = write_xlsx(df, path)
    assert n == 250
    rows = read_xlsx_rows(path)
    assert rows[0] == ["id", "name"]
    assert len(rows) == 251


def test_legacydump_xls_option(capsys, tmp_path, spark):
    """--xls mirrors the dictypub report into the spreadsheet, like the
    reference's dual TSV+xls output."""
    cat = str(tmp_path / "legacy")
    spark.createDataFrame(
        [(1, 10)], "feature_id long, pub_id long"
    ).write.parquet(os.path.join(cat, "feature_pub"))
    spark.createDataFrame(
        [(1, "gA", 5, 100)],
        "feature_id long, name string, type_id long, dbxref_id long",
    ).write.parquet(os.path.join(cat, "feature"))
    spark.createDataFrame(
        [(10, "13319664", "PUBMED")], "pub_id long, uniquename string, pubplace string"
    ).write.parquet(os.path.join(cat, "pub"))
    spark.createDataFrame(
        [(100, "DDB_G0001")], "dbxref_id long, accession string"
    ).write.parquet(os.path.join(cat, "dbxref"))
    spark.createDataFrame(
        [(5, "gene")], "cvterm_id long, name string"
    ).write.parquet(os.path.join(cat, "cvterm"))
    out = str(tmp_path / "pub.tsv")
    xls = str(tmp_path / "pub.xlsx")
    res = _run(
        capsys,
        ["legacydump", "--which", "dictypub", "--catalog", cat,
         "--output", out, "--xls", xls],
    )
    assert res["rows"] == 1 and res["xls_rows"] == 1
    rows = read_xlsx_rows(xls)
    assert rows[1][0] == "13319664"
    assert "DDB" in str(rows[1][2])


def test_chado2gaf_compress(capsys, tmp_path, spark):
    """--compress produces the CanCompress post-step artifact."""
    cat = str(tmp_path / "gafcat")
    spark.createDataFrame(
        [(1, "DDB_G1")], "feature_id long, uniquename string"
    ).write.parquet(os.path.join(cat, "feature"))
    spark.createDataFrame(
        [(5, 100)], "cvterm_id long, dbxref_id long"
    ).write.parquet(os.path.join(cat, "cvterm"))
    spark.createDataFrame(
        [(100, "0008150", 1)], "dbxref_id long, accession string, db_id long"
    ).write.parquet(os.path.join(cat, "dbxref"))
    spark.createDataFrame([(1, "GO")], "db_id long, name string").write.parquet(
        os.path.join(cat, "db")
    )
    spark.createDataFrame(
        [(10, "PMID:1")], "pub_id long, uniquename string"
    ).write.parquet(os.path.join(cat, "pub"))
    spark.createDataFrame(
        [(1, 1, 5, 10, 0, False)],
        "feature_cvterm_id long, feature_id long, cvterm_id long, pub_id long, "
        "rank int, is_not boolean",
    ).write.parquet(os.path.join(cat, "feature_cvterm"))
    spark.createDataFrame(
        [(1, "evidence", "IDA")],
        "feature_cvterm_id long, type string, value string",
    ).write.parquet(os.path.join(cat, "feature_cvtermprop"))
    out = str(tmp_path / "out.gaf")
    res = _run(
        capsys,
        ["chado2gaf", "--catalog", cat, "--output", out, "--compress"],
    )
    assert res["annotations"] > 0
    comp = res["compressed_output"]
    assert os.path.exists(comp)
    if comp.endswith(".tar.gz"):
        with tarfile.open(comp) as tf:
            names = tf.getnames()
        assert any("part-" in n or n.endswith(".gaf") for n in names)
    else:
        with gzip.open(comp, "rt") as fh:
            assert fh.readline().startswith("!gaf-version")


def test_xlsx_nonfinite_and_scientific(tmp_path):
    """NaN/Inf become inline strings (valid OOXML); scientific-notation
    floats round-trip through the reader."""
    path = str(tmp_path / "edge.xlsx")
    write_xlsx_rows([(float("nan"), float("inf"), 1e-05, 3)], path)
    rows = read_xlsx_rows(path)
    assert rows[0][0] == "nan" and rows[0][1] == "inf"
    assert rows[0][2] == 1e-05 and rows[0][3] == 3


def test_xlsx_control_chars_stripped(tmp_path):
    """XML-invalid control bytes in string cells are dropped (the OOXML
    spec cannot represent them); legal controls (tab/newline) survive."""
    path = str(tmp_path / "ctl.xlsx")
    write_xlsx_rows([("a\x00b\x08c", "t\tn\nok", "\x1f\x7f")], path)
    rows = read_xlsx_rows(path)
    assert rows[0][0] == "abc"
    assert rows[0][1] == "t\tn\nok"
    assert rows[0][2] == "\x7f"  # DEL is XML-legal; \x1f is not


def test_single_text_sink_null_rows(spark, tmp_path):
    """NULL text renders as an empty record instead of failing the text
    datasource write with a null-value error."""
    from modware_loader_spark.sinks.text import write_single_text

    df = spark.createDataFrame(
        [("a", "first"), ("b", None), ("c", "third")], "k string, text string"
    )
    out = str(tmp_path / "n.txt")
    assert write_single_text(df, "text", out, order_by="k") == 3
    assert open(out).read() == "first\n\n\n\nthird\n"


def test_single_text_sink_byte_format(spark, tmp_path):
    """Records separated by ONE blank line; file ends with a single
    newline (the join()-style byte format the collect writer produced)."""
    from modware_loader_spark.sinks.text import write_single_text

    df = spark.createDataFrame(
        [("b", "@x{1,\ny = {2}\n}"), ("a", "@w{3,\nz = {4}\n}")],
        "k string, text string",
    )
    out = str(tmp_path / "o.bib")
    n = write_single_text(df, "text", out, order_by="k")
    assert n == 2
    data = open(out).read()
    assert data == "@w{3,\nz = {4}\n}\n\n@x{1,\ny = {2}\n}\n"
