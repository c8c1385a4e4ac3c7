"""Stock importer goldens against the reference's own fixtures
(``t/stock/strain_import.t``: 50 strains, 85 props;
``t/stock/plasmid_import.t``: 50 plasmids, 85 props, 2 sequence
features — ABCSGFES.fasta skipped for lacking a DBP id).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from modware_loader_spark.plans.stock_import import StockImporter
from modware_loader_spark.sources.genbank import parse_genbank
from modware_loader_spark.sources.gff3 import parse_fasta
from modware_loader_spark.sources.tsv_stock import parse_plasmids, parse_strains

DATA = "/root/reference/t/test_data"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(DATA), reason="reference test data absent"
)


def _props(spark, path, id_col):
    df = (
        spark.read.option("sep", "\t")
        .csv(path)
        .toDF(id_col, "prop_type", "value")
    )
    return df.withColumn("line_idx", F.monotonically_increasing_id())


def test_strain_import_goldens(spark):
    imp = StockImporter(spark)
    strains, invalid = parse_strains(spark, os.path.join(DATA, "strain_strain.tsv"))
    assert invalid.count() == 0
    r = imp.import_stock(strains)
    # strain_import.t:56-57
    assert r == {"new": 50, "existing": 0}
    type_row = imp.tables["cvterm"].filter(F.col("name") == "strain").first()
    in_type = imp.tables["stock"].filter(F.col("type_id") == type_row.cvterm_id)
    assert in_type.count() == 50

    props = _props(spark, os.path.join(DATA, "strain_props.tsv"), "strain_id")
    r2 = imp.import_props(props, "dicty_stockcenter_props")
    # strain_import.t:62-65: 15 of the 100 prop rows name stocks outside
    # the loaded 50 → dropped
    assert r2 == {"props": 85, "missed": 15}
    assert imp.tables["stockprop"].count() == 85


def test_plasmid_import_goldens(spark):
    imp = StockImporter(spark)
    plasmids, invalid = parse_plasmids(spark, os.path.join(DATA, "plasmid_plasmid.tsv"))
    assert invalid.count() == 0
    r = imp.import_stock(
        plasmids,
        stock_type="plasmid",
        id_col="plasmid_id",
        name_col="plasmid_name",
        species_col=None,
        descr_col="plasmid_descr",
    )
    # plasmid_import.t:58
    assert r == {"new": 50, "existing": 0}

    props = _props(spark, os.path.join(DATA, "plasmid_props.tsv"), "strain_id")
    r2 = imp.import_props(props, "dicty_stockcenter_props")
    # plasmid_import.t:66
    assert r2["props"] == 85

    # sequences: the 2 DBP-named files; ABCSGFES.fasta has no DBP id
    seq_dir = os.path.join(DATA, "plasmid_sequence")
    fasta = parse_fasta(spark, os.path.join(seq_dir, "DBP0000034.fasta")).select(
        F.lit("DBP0000034").alias("dbp_id"), "seq_id", "sequence"
    )
    gb = parse_genbank(spark, os.path.join(seq_dir, "DBP0000011.genbank"))
    gbseq = gb["sequence"].select(
        F.lit("DBP0000011").alias("dbp_id"), "seq_id", "sequence"
    )
    r3 = imp.import_plasmid_sequences(fasta.unionByName(gbseq))
    # plasmid_import.t:82
    assert r3["sequence_features"] == 2
    feats = imp.tables["feature"]
    assert feats.count() == 2
    # the genbank record's accession differs from the DBP id → GenBank xref
    xrefs = feats.join(imp.tables["dbxref"], "dbxref_id")
    assert xrefs.filter(F.col("accession") == "AF269237").count() == 1
    # residues landed with real lengths
    assert feats.filter(F.col("seqlen") > 1000).count() >= 1
    # only the two DBP stocks got a plasmid_vector prop
    seq_type = imp.tables["cvterm"].filter(F.col("name") == "plasmid_vector").first()
    links = imp.tables["stockprop"].filter(F.col("type_id") == seq_type.cvterm_id)
    assert links.count() == 2
