"""gaf2chado CLI (reference dictygaf2chado.pm): GAF load against catalog
state with the dicty appender flags, exercised through cli.main to cover
the cross-process catalog read path. The input is the in-repo GAF 2.0
fixture ``tests/fixtures/dicty_annotations.gaf``."""

from __future__ import annotations

import json
import os

import pytest

from modware_loader_spark import cli

GAF = os.path.join(os.path.dirname(__file__), "fixtures", "dicty_annotations.gaf")


@pytest.fixture()
def mini_catalog(spark, tmp_path):
    root = str(tmp_path / "cat")
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
        df.write.parquet(os.path.join(root, name))
    return root


def test_gaf2chado_cli(mini_catalog, capsys):
    rc = cli.main(
        ["gaf2chado",
         "--input", GAF,
         "--catalog", mini_catalog]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # resolvable rows: 2× piaA GO:0005515 IPI (ranks 0/1), mhcA GO:0000910
    # IMP, mhcA GO:0000146 IDA — the actin/roco annotations miss their
    # features or terms and drop (Row.is_valid semantics)
    assert out["loaded"] == 4 and out["total"] == 4

    # persisted: a fresh catalog read sees the rows
    import pyspark.sql.functions as F
    from modware_loader_spark.catalog import ChadoCatalog
    from modware_loader_spark.session import get_spark

    cat = ChadoCatalog(get_spark("t"), mini_catalog)
    fc = cat.load(["feature_cvterm"])["feature_cvterm"]
    assert fc.count() == 4
    ranks = sorted(
        r.rank
        for r in fc.filter(F.col("cvterm_id") == 10).collect()
    )
    assert ranks == [0, 1]
