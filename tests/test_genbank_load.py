"""S5 completion: GenBank → Chado load pipeline (gb2chado equivalent).

Reference: ``lib/Modware/Loader/Genome/GenBank.pm:384-780`` — scaffold +
gene/mRNA/exon/polypeptide dispatch through the staging/merge machinery.
Golden counts derived from ``tests/fixtures/mini.genbank`` (2 genes, one
2-exon mRNA+CDS on plus strand, one complement tRNA).
"""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from modware_loader_spark.plans.genbank_load import GenBankChadoLoader

FIX = os.path.join(os.path.dirname(__file__), "fixtures", "mini.genbank")
PLASMID = "/root/reference/t/test_data/plasmid_sequence/DBP0000011.genbank"


def test_gb2chado_golden_counts(spark):
    ldr = GenBankChadoLoader(spark)
    counts = ldr.load_file(FIX)
    # scaffold + 2 genes + mRNA + tRNA + 3 exons + 1 polypeptide
    assert counts["new_feature"] == 9
    # every feature except scaffold and polypeptide (reference's
    # load_polypeptide sets no featureloc)
    assert counts["new_featureloc"] == 7
    # 2 gene→scaffold + 2 transcript→gene + 3 exon→transcript part_of,
    # 1 polypeptide→transcript derives_from
    assert counts["new_feature_relationship"] == 8
    # GenBank marker dbxref (scaffold) + GI from the CDS db_xref
    assert counts["new_dbxref"] == 2
    assert counts["new_feature_dbxref"] == 2


@pytest.mark.slowlane
def test_gb2chado_rows_and_residues(spark):
    ldr = GenBankChadoLoader(spark)
    ldr.load_file(FIX)
    feats = {r.uniquename: r for r in ldr.tables["feature"].collect()}
    types = {r.cvterm_id: r.name for r in ldr.chado.term_ids("sequence").collect()}

    scaffold = feats["SCF0001"]
    assert types[scaffold.type_id] == "supercontig"
    assert scaffold.seqlen == 360 and len(scaffold.residues) == 360

    gene = feats["DDB_G0001"]
    assert gene.name == "abcA" and types[gene.type_id] == "gene"
    # gene residues = genomic substring 11..280
    assert gene.residues == scaffold.residues[10:280]

    # transcript spliced residues = exon substrings concatenated
    mrna = feats["DDB_G0001.t00"]
    assert types[mrna.type_id] == "mRNA"
    assert mrna.residues == scaffold.residues[10:100] + scaffold.residues[150:280]
    assert mrna.seqlen == 220

    # minus-strand tRNA residues reverse-complemented
    trna = feats["DDB_G0002.t00"]
    comp = str.maketrans("ACGTacgt", "TGCAtgca")
    assert trna.residues == scaffold.residues[300:340].translate(comp)[::-1]

    # polypeptide from the (multi-line) translation qualifier
    poly = feats["DDB_G0001.p00"]
    assert types[poly.type_id] == "polypeptide"
    assert poly.residues == (
        "MKTAYIAKQRQISFVKSHFSRQLEERLGLIEVQAPILSRVGDGTQDNLSG"
    )

    # featureloc: interbase coords on the scaffold; derives_from edge
    locs = {r.feature_id: r for r in ldr.tables["featureloc"].collect()}
    g2 = feats["DDB_G0002"]
    assert (locs[g2.feature_id].fmin, locs[g2.feature_id].fmax) == (300, 340)
    assert locs[g2.feature_id].strand == -1
    assert poly.feature_id not in locs

    rel_types = {
        types[r.type_id]
        for r in ldr.tables["feature_relationship"].collect()
    }
    assert rel_types == {"part_of", "derives_from"}

    # featureprops from lowercase qualifiers
    props = ldr.tables["featureprop"]
    prop_names = {
        types[r.type_id] for r in props.collect()
    }
    assert {"nuclear_sequence", "product", "protein_id"} <= prop_names


@pytest.mark.slowlane
def test_gb2chado_idempotent_reload(spark):
    ldr = GenBankChadoLoader(spark)
    ldr.load_file(FIX)
    n_feat = ldr.tables["feature"].count()
    counts2 = ldr.load_file(FIX)
    assert counts2["new_feature"] == 0
    assert counts2["new_featureloc"] == 0
    assert ldr.tables["feature"].count() == n_feat


@pytest.mark.slowlane
def test_gb2chado_plasmid_scaffold_only(spark):
    """The reference plasmid fixture has CDS but no gene features — the
    canonical dispatch loads only the scaffold (FeatureStack never opens,
    GenBank.pm:464-471)."""
    if not os.path.exists(PLASMID):
        import pytest

        pytest.skip("reference fixtures not available")
    ldr = GenBankChadoLoader(spark, reference_type="plasmid")
    counts = ldr.load_file(PLASMID)
    assert counts["new_feature"] == 1
    row = ldr.tables["feature"].first()
    assert row.uniquename == "AF269237" and row.seqlen == 11166


def test_db_xref_alias_normalization(spark):
    """MOD registry aliases (Registry.pm:10-16): GI / protein_id db_xref
    prefixes normalize to NCBI_gi / NCBI_GP on load."""
    from modware_loader_spark.plans.genbank_load import _normalize_xrefs

    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(["GI:12345", "protein_id:AAB123.1", "taxon:44689"],)],
        "xs array<string>",
    )
    got = df.select(_normalize_xrefs(F.col("xs")).alias("n")).first().n
    assert got == ["NCBI_gi:12345", "NCBI_GP:AAB123.1", "taxon:44689"]
