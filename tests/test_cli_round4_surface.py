"""Round-4 CLI surface: the long-tail reference commands exposed as
subcommands (blast2chadogff3, bibtex2chado/dictybib/dictynonpub2bib,
organism2chado, stock dumps + imports, legacydump, chado2gaf), driven
through ``cli.main`` to cover the cross-process catalog paths.
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from modware_loader_spark import cli

REF = "/root/reference/t/test_data"
FIX = os.path.join(os.path.dirname(__file__), "fixtures")

needs_ref = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference test data absent"
)


def _run(capsys, argv):
    rc = cli.main(argv)
    assert rc == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_blast2chadogff3_cli(capsys, tmp_path):
    out = str(tmp_path / "blast.gff3")
    res = _run(
        capsys,
        ["blast2chadogff3", "--input", os.path.join(FIX, "blastn_report.txt"),
         "--output", out],
    )
    assert res["features"] > 0
    if os.path.isdir(out):
        parts = [f for f in os.listdir(out) if f.startswith("part-")]
        text = "".join(open(os.path.join(out, p)).read() for p in parts)
    else:
        text = open(out).read()
    assert "match_part" in text


@needs_ref
def test_bibtex_pub_round_trip(capsys, tmp_path, spark):
    cat = str(tmp_path / "pubcat")
    res = _run(
        capsys,
        ["bibtex2chado", "--input",
         os.path.join(REF, "literature", "test.bib"), "--catalog", cat],
    )
    assert res["pub"] > 0 and res["pubauthor"] > 0

    # non-PubMed pubs render back as BibTeX articles
    out = str(tmp_path / "nonpub.bib")
    res2 = _run(
        capsys, ["dictynonpub2bib", "--catalog", cat, "--output", out]
    )
    assert res2["entries"] > 0
    text = open(out).read()
    assert text.startswith("@article{")
    assert "PUBMED" not in text.upper().replace("PUBMED)", "")


def test_dictybib_cli(capsys, tmp_path, spark):
    cat = str(tmp_path / "cat")
    spark.createDataFrame(
        [("111", "2010-05-10")], "uniquename string, created_at string"
    ).write.parquet(os.path.join(cat, "pub"))
    bib = tmp_path / "in.bib"
    bib.write_text(
        "@article{pmid111,\njournal = {J1},\ntitle = {T1},\n"
        "status = {ppublish},\nnlmuniqueid = {N1},\npmid = {111},\n"
        "year = {2010},\nauthor = {A One},\n}\n"
        "@article{pmid222,\njournal = {J2},\ntitle = {T2},\npmid = {222},\n"
        "timestamp = {2009.1.1},\nauthor = {B Two},\n}\n"
    )
    out = str(tmp_path / "out.bib")
    res = _run(
        capsys,
        ["dictybib", "--input", str(bib), "--catalog", cat, "--output", out],
    )
    # stamped entry skipped; unknown-pub entries skipped
    assert res["entries"] == 1
    text = open(out).read()
    assert "timestamp = {2010.5.10}" in text and "pmid222" not in text


def test_organism2chado_cli(capsys, tmp_path):
    cat = str(tmp_path / "orgcat")
    res = _run(
        capsys,
        ["organism2chado", "--input", os.path.join(FIX, "amoebozoa.tsv"),
         "--catalog", cat],
    )
    assert res["organisms"] > 0
    assert os.path.isdir(os.path.join(cat, "organism"))


@needs_ref
def test_dictystrain_dump_cli(capsys, tmp_path):
    out = str(tmp_path / "strains")
    res = _run(
        capsys,
        ["dictystrain", "--input", os.path.join(REF, "strain_strain.tsv"),
         "--props", os.path.join(REF, "strain_props.tsv"), "--output", out],
    )
    assert res["strains"] == 50 and res["invalid"] == 0
    part = [f for f in os.listdir(out) if f.startswith("part-")]
    assert part and "DSC_G0000001" in open(os.path.join(out, part[0])).read()


@needs_ref
def test_dictystrain2chado_cli(capsys, tmp_path, spark):
    cat = str(tmp_path / "stockcat")
    res = _run(
        capsys,
        ["dictystrain2chado", "--input", os.path.join(REF, "strain_strain.tsv"),
         "--props", os.path.join(REF, "strain_props.tsv"), "--catalog", cat],
    )
    # strain_import.t goldens: 50 new stocks, 85 props (15 rows miss)
    assert res["new"] == 50 and res["props"] == 85
    stock = spark.read.parquet(os.path.join(cat, "stock"))
    assert stock.count() == 50


def test_legacydump_colleague_cli(capsys, tmp_path, spark):
    cat = str(tmp_path / "legacy")
    spark.createDataFrame(
        [(1, "Ann", "Ator", None, "prof", "PI", "U", "a1", None, None, None,
          "C", "S", None, "US", "11111", 1)],
        "colleague_no long, first_name string, last_name string, suffix string, "
        "profession string, job_title string, institution string, "
        "address1 string, address2 string, address3 string, address4 string, "
        "city string, state string, region string, country string, "
        "postal_code string, is_subscribed int",
    ).write.parquet(os.path.join(cat, "colleague"))
    spark.createDataFrame(
        [(1, 7)], "colleague_no long, email_no long"
    ).write.parquet(os.path.join(cat, "coll_email"))
    spark.createDataFrame(
        [(7, "ann@u.edu")], "email_no long, email string"
    ).write.parquet(os.path.join(cat, "email"))
    out = str(tmp_path / "colleague_out")
    res = _run(
        capsys,
        ["legacydump", "--which", "colleague", "--catalog", cat,
         "--output", out],
    )
    assert res["rows"] == 1
    part = [f for f in os.listdir(out) if f.startswith("part-")]
    assert "ann@u.edu" in open(os.path.join(out, part[0])).read()


@needs_ref
def test_chado2gaf_cli(capsys, tmp_path, spark):
    cat = str(tmp_path / "gafcat")
    frames = {
        "feature": spark.createDataFrame(
            [(1, "DDB_G0277399"), (2, "DDB_G0286355")],
            "feature_id long, uniquename string",
        ),
        "db": spark.createDataFrame([(1, "GO")], "db_id long, name string"),
        "dbxref": spark.createDataFrame(
            [(100, "0005515", 1), (101, "0000910", 1), (102, "0000146", 1)],
            "dbxref_id long, accession string, db_id long",
        ),
        "cvterm": spark.createDataFrame(
            [(10, 100), (11, 101), (12, 102)], "cvterm_id long, dbxref_id long"
        ),
        "cvtermsynonym": spark.createDataFrame(
            [(10, "IPI"), (11, "IMP"), (12, "IDA")],
            "cvterm_id long, synonym string",
        ),
        "pub": spark.createDataFrame(
            [(5, "PMID:16079174"), (6, "PMID:2721503"), (7, "PMID:19955408")],
            "pub_id long, uniquename string",
        ),
    }
    for name, df in frames.items():
        df.write.parquet(os.path.join(cat, name))
    res = _run(
        capsys,
        ["gaf2chado", "--input", os.path.join(REF, "testdicty.gaf2"),
         "--catalog", cat],
    )
    assert res["loaded"] == 4
    out = str(tmp_path / "out.gaf")
    res2 = _run(capsys, ["chado2gaf", "--catalog", cat, "--output", out])
    assert res2["annotations"] == 4
    part = [f for f in os.listdir(out) if f.startswith("part-")]
    lines = open(os.path.join(out, part[0])).read().splitlines()
    assert lines[0] == "!gaf-version: 2.0" and len(lines) == 5


def test_exportjsonl_cli(capsys, tmp_path):
    out = str(tmp_path / "jexp")
    res = _run(
        capsys,
        ["exportjsonl", "--input", "/root/testdata/sf0.001/documents.parquet",
         "--output", out, "--shards", "4", "--no_compress", "--count"],
    )
    assert res == {"shards": 4, "rows": 500}
    import glob

    dirs = sorted(os.path.basename(d) for d in glob.glob(os.path.join(out, "shard=*")))
    assert dirs == ["shard=0", "shard=1", "shard=2", "shard=3"]


def test_ivfindex_cli_lifecycle(capsys, spark, tmp_path):
    """build → append → compact through cli.main: the bucketed index +
    centroid side table materialize, the append lands the held-out
    batch without retraining, and compaction reduces file count while
    preserving row count."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base_dir = str(tmp_path / "base")
    batch_dir = str(tmp_path / "batch")
    emb.filter(F.col("vec_id") % 5 != 0).write.parquet(base_dir)
    emb.filter(F.col("vec_id") % 5 == 0).write.parquet(batch_dir)
    table = "ivf_cli_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}__centroids")
    try:
        res = _run(
            capsys,
            ["ivfindex", "--action", "build", "--table", table,
             "--input", base_dir, "--nlist", "8"],
        )
        n_base = emb.filter(F.col("vec_id") % 5 != 0).count()
        assert res == {"rows": n_base, "cells": 8}
        res = _run(
            capsys,
            ["ivfindex", "--action", "append", "--table", table,
             "--input", batch_dir],
        )
        assert res["rows"] == emb.count()
        res = _run(capsys, ["ivfindex", "--action", "compact", "--table", table])
        assert res["rows"] == emb.count()
        assert res["files_after"] <= res["n_buckets"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__centroids")
