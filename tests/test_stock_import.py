"""Stock-module importers (reference StrainImporter.pm / PlasmidImporter.pm
/ DataTransformer.pm) — merge semantics over synthetic TSV-shaped frames.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from modware_loader_spark.operators.merge import append
from modware_loader_spark.plans.stock_import import (
    PLASMID_INVENTORY_KEYS,
    StockImporter,
)
from tests.test_loader_pinned import seed_terms


@pytest.fixture()
def imp(spark):
    return StockImporter(spark)


def _strains(spark, rows):
    return spark.createDataFrame(
        rows, "strain_id string, strain_name string, species string, strain_descr string"
    )


@pytest.mark.slowlane
def test_import_stock_new_and_existing(spark, imp):
    r1 = imp.import_stock(
        _strains(spark, [("DBS0000001", "s1", "D. discoideum", "d1"),
                         ("DBS0000002", "s2", "D. discoideum", None)])
    )
    assert r1 == {"new": 2, "existing": 0}
    # second run: one known, one new
    r2 = imp.import_stock(
        _strains(spark, [("DBS0000001", "s1", "D. discoideum", "d1"),
                         ("DBS0000003", "s3", "D. purpureum", None)])
    )
    assert r2 == {"new": 1, "existing": 1}
    stock = imp.tables["stock"]
    assert stock.count() == 3
    # one organism row per species, linked
    assert imp.tables["organism"].count() == 2
    assert imp.tables["stockcollection_stock"].count() == 3


@pytest.mark.slowlane
def test_import_props_rank_and_refresh(spark, imp):
    imp.import_stock(_strains(spark, [("DBS0000001", "s1", "Dd", None)]))
    props = spark.createDataFrame(
        [("DBS0000001", "mutagenesis method", "UV", 1),
         ("DBS0000001", "mutagenesis method", "REMI", 2),
         ("DBS0000001", "genotype note", "x", 3)],
        "strain_id string, prop_type string, value string, line_idx long",
    )
    imp.import_props(props, "dicty_stockcenter_props")
    got = sorted(
        (r.value, r.rank) for r in imp.tables["stockprop"].collect()
    )
    assert got == [("REMI", 1), ("UV", 0), ("x", 0)]

    # reload: stock now 'existing' → props pruned, not duplicated
    imp.import_stock(_strains(spark, [("DBS0000001", "s1", "Dd", None)]))
    imp.import_props(props, "dicty_stockcenter_props")
    assert imp.tables["stockprop"].count() == 3


@pytest.mark.slowlane
def test_import_inventory_melt(spark, imp):
    imp.import_stock(_strains(spark, [("DBS0000001", "s1", "Dd", None)]))
    # ontology preloaded with only some keys → unknown keys drop
    seed_terms(imp.chado, "strain_inventory", ["location", "color", "stored as"])
    inv = spark.createDataFrame(
        [("DBS0000001", "freezer A", "blue", "3", "lab", "axenic", None, None, None, 1),
         ("DBS0000001", "freezer B", None, None, None, "spore", None, None, None, 2)],
        "strain_id string, location string, color string, vials string, "
        "obtained string, stored string, sdate string, priv string, pub string, "
        "line_idx long",
    )
    r = imp.import_inventory(inv)
    rows = imp.tables["stockprop"].join(
        imp.tables["cvterm"].select(F.col("cvterm_id").alias("type_id"),
                                    F.col("name").alias("key")),
        "type_id",
    ).select("key", "value", "rank").collect()
    got = sorted((r.key, r.value, r.rank) for r in rows)
    # row 0: location+color+stored-as resolve; vials/obtained dropped
    # (no ontology term); row 1: location+stored-as
    assert got == [
        ("color", "blue", 0),
        ("location", "freezer A", 0),
        ("location", "freezer B", 1),
        ("stored as", "axenic", 0),
        ("stored as", "spore", 1),
    ]
    assert r["inventory_props"] == 5


@pytest.mark.slowlane
def test_import_publications_dedup(spark, imp):
    imp.import_stock(_strains(spark, [("DBS0000001", "s1", "Dd", None)]))
    pubs = spark.createDataFrame(
        [("DBS0000001", "111"), ("DBS0000001", "111"), ("DBS0000001", "222")],
        "strain_id string, pmid string",
    )
    r = imp.import_publications(pubs)
    assert r["stock_pubs"] == 2
    assert imp.tables["pub"].count() == 2
    # idempotent on rerun (fresh import marks stock existing → prune+reinsert)
    imp.import_stock(_strains(spark, [("DBS0000001", "s1", "Dd", None)]))
    imp.import_publications(pubs)
    assert imp.tables["stock_pub"].count() == 2


@pytest.mark.slowlane
def test_import_characteristics(spark, imp):
    imp.import_stock(_strains(spark, [("DBS0000001", "s1", "Dd", None)]))
    seed_terms(imp.chado, "strain_characteristics", ["axenic", "null mutant"])
    ch = spark.createDataFrame(
        [("DBS0000001", "axenic"), ("DBS0000001", "nonexistent term")],
        "strain_id string, term string",
    )
    r = imp.import_characteristics(ch)
    assert r["characteristics"] == 1
    link = imp.tables["stock_cvterm"].first()
    pub = imp.tables["pub"].filter(F.col("pub_id") == link.pub_id).first()
    assert pub.uniquename == "23494302"


@pytest.mark.slowlane
def test_genotype_and_phenotype(spark, imp):
    imp.import_stock(
        _strains(spark, [("DBS0000001", "s1", "Dd", None),
                         ("DBS0000002", "s2", "Dd", None)])
    )
    geno = spark.createDataFrame(
        [("DBS0000001", "-", "axeA-"), ("DBS0000002", "-", "axeB-")],
        "strain_id string, _x string, genotype_name string",
    )
    r = imp.import_genotype(geno)
    assert r["genotypes"] == 2
    unames = sorted(r.uniquename for r in imp.tables["genotype"].collect())
    assert unames == ["DSC_G0000001", "DSC_G0000002"]

    phen = spark.createDataFrame(
        [("DBS0000001", "aberrant spore morphology", "axenic medium", "microscopy", "999", None),
         # no genotype → dropped
         ("DBS0000009", "small plaques", "bacterial lawn", None, None, None),
         # no pmid → default pub
         ("DBS0000002", "delayed aggregation", "filter development", None, None, None)],
        "strain_id string, phenotype string, environment string, assay string, "
        "pmid string, value string",
    )
    r2 = imp.import_phenotype(phen)
    assert r2["phenstatements"] == 2
    stmts = imp.tables["phenstatement"].collect()
    default_pub = imp.tables["pub"].filter(F.col("uniquename") == "23494302").first()
    assert sum(1 for s in stmts if s.pub_id == default_pub.pub_id) == 1


@pytest.mark.slowlane
def test_parent_and_plasmid_links(spark, imp):
    imp.import_stock(
        _strains(spark, [("DBS0000001", "s1", "Dd", None),
                         ("DBS0000002", "s2", "Dd", None)])
    )
    imp.import_stock(
        _strains(spark, [("DBP0000001", "p1", None, None)]),
        stock_type="plasmid",
        id_col="strain_id",
        species_col=None,
        descr_col=None,
    )
    parents = spark.createDataFrame(
        [("DBS0000002", "DBS0000001"), ("DBS0000002", "DBS0000404")],
        "strain_id string, parent_id string",
    )
    r = imp.import_parent(parents)
    assert r["relationships"] == 1  # unknown parent skipped

    links = spark.createDataFrame(
        [("DBS0000001", "DBP0000001"), ("DBS0000001", "notaplasmid")],
        "strain_id string, plasmid_id string",
    )
    r2 = imp.import_strain_plasmid(links)
    assert r2["relationships"] == 1
    rels = imp.tables["stock_relationship"].join(
        imp.tables["cvterm"].select(F.col("cvterm_id").alias("type_id"),
                                    F.col("name").alias("rel")),
        "type_id",
    )
    assert sorted(r.rel for r in rels.collect()) == ["is_parent_of", "part_of"]


def test_plasmid_inventory_keys():
    assert PLASMID_INVENTORY_KEYS[0] == "location"
    assert len(PLASMID_INVENTORY_KEYS) == 5


@pytest.mark.slowlane
def test_plasmid_sequences_and_genes(spark, imp):
    imp.import_stock(
        _strains(spark, [("DBP0000001", "p1", None, None),
                         ("DBP0000002", "p2", None, None)]),
        stock_type="plasmid", species_col=None, descr_col=None,
    )
    seqs = spark.createDataFrame(
        [("DBP0000001", "DBP0000001", "ATGCATGC"),
         ("DBP0000002", "AY123456", "GGGCCC")],
        "dbp_id string, seq_id string, sequence string",
    )
    r = imp.import_plasmid_sequences(seqs)
    assert r == {"sequence_features": 2, "sequence_props": 2}
    feats = imp.tables["feature"].join(imp.tables["dbxref"], "dbxref_id")
    with_xref = feats.filter(F.col("accession") == "AY123456").collect()
    assert len(with_xref) == 1 and with_xref[0].seqlen == 6

    # gene link: a genome feature of the state (chado side)
    imp.tables["feature"], _ = append(imp.tables["feature"], imp.chado.shaped(
        "feature",
        spark.createDataFrame([("DDB_G0001", 9001)], "uniquename string, feature_id long"),
    ))
    links = spark.createDataFrame(
        [("DBP0000001", "DDB_G0001"),   # existing sequence feature
         ("DBP0000002", "DDB_G0001"),   # existing sequence feature
         ("notdbp", "DDB_G0001")],      # invalid id skipped
        "plasmid_id string, gene_id string",
    )
    r2 = imp.import_plasmid_genes(links)
    assert r2 == {"plasmid_gene_edges": 2, "features_created": 0}
    rel = imp.tables["feature_relationship"].collect()
    assert all(e.subject_id == 9001 for e in rel)
