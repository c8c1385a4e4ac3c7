"""gbassembly2chado (reference gbassembly2chado.pm +
Loader/Genome/GenBank/Assembly.pm:292-474): CONTIG join walk → contig/gap
features with running interbase coordinates on the scaffold.

Expected coordinates for the fixture join
``CTG0001.1:5..100, gap(20), CTG0002.2:1..80, gap(unk100), CTG0003.1:10..50``:
base = 5-1 = 4, then lengths 96/20/80/100/41 stack:
CTG0001 4..100, gap 100..120, CTG0002 120..200, gap 200..300,
CTG0003 300..341 (all interbase).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from modware_loader_spark.plans.genbank_assembly import (
    load_assembly,
    parse_contig_joins,
)
from modware_loader_spark.plans.genbank_load import GenBankChadoLoader

FIX = os.path.join(os.path.dirname(__file__), "fixtures")
SCAFFOLD = os.path.join(FIX, "mini.genbank")
ASSEMBLY = os.path.join(FIX, "mini_assembly.gb")


def test_parse_contig_joins(spark):
    rows = parse_contig_joins(spark, ASSEMBLY).orderBy("pos").collect()
    assert [r.element for r in rows] == [
        "CTG0001.1:5..100",
        "gap(20)",
        "CTG0002.2:1..80",
        "gap(unk100)",
        "CTG0003.1:10..50",
    ]
    assert all(r.locus == "SCF0001" for r in rows)


def test_load_assembly_coordinates_and_residues(spark):
    ldr = GenBankChadoLoader(spark)
    ldr.load_file(SCAFFOLD)  # scaffold + genes, scaffold residues stored
    counts = load_assembly(ldr, ASSEMBLY)
    assert counts["new_feature"] == 5

    feat = ldr.tables["feature"]
    loc = ldr.tables["featureloc"]
    types = ldr.chado.term_ids("sequence").select(
        F.col("cvterm_id").alias("type_id"), F.col("name").alias("ftype")
    )
    placed = (
        feat.join(types, "type_id")
        .filter(F.col("ftype").isin("contig", "gap"))
        .join(loc, "feature_id")
        .select("uniquename", "ftype", "fmin", "fmax", "seqlen", "residues")
        .orderBy("fmin")
        .collect()
    )
    spans = [(r.uniquename, r.ftype, r.fmin, r.fmax) for r in placed]
    assert spans == [
        ("CTG0001", "contig", 4, 100),
        ("GB2", "gap", 100, 120),
        ("CTG0002", "contig", 120, 200),
        ("GB4", "gap", 200, 300),
        ("CTG0003", "contig", 300, 341),
    ]
    # contigs carry scaffold slices, gaps no residues, seqlen everywhere
    scaffold = feat.filter(F.col("uniquename") == "SCF0001").first()
    by_name = {r.uniquename: r for r in placed}
    assert by_name["CTG0001"].residues == scaffold.residues[4:100]
    assert by_name["CTG0003"].residues == scaffold.residues[300:341]
    assert by_name["GB2"].residues is None
    assert by_name["GB2"].seqlen == 20
    assert by_name["CTG0002"].seqlen == 80

    # contigs are located ON the scaffold feature
    scf_id = scaffold.feature_id
    placed_src = (
        feat.join(types, "type_id")
        .filter(F.col("ftype") == "contig")
        .join(loc, "feature_id")
        .select("srcfeature_id")
        .distinct()
        .collect()
    )
    assert [r.srcfeature_id for r in placed_src] == [scf_id]

    # gmod-compat GFF_source:GenBank dbxref linked to every assembly row
    dbx = ldr.tables["dbxref"].filter(F.col("accession") == "GenBank")
    assert dbx.count() == 1
    gb_dx = dbx.first().dbxref_id
    links = ldr.tables["feature_dbxref"].filter(F.col("dbxref_id") == gb_dx)
    assert links.count() == 5
