"""Byte-level pins of the ontology, closure, adhoc, stock and GAF loaders
on in-repo fixtures — the merge paths whose golden-count tests need the
reference fixtures or run only in the slow lane.

- obo2chado v1 then v2 of a small OBO (dates, synonyms, alt_ids, an
  obsolete term, a rename and a removed term: prune, update and create),
  with a 4-column closure file loaded twice in between, then
  ``drop_ontology``;
- ``adhoc_load`` of ``adhoc_mini.obo`` then ``adhoc_mini_v2.obo``;
- one ``StockImporter`` session over every import verb;
- ``GAFLoader.load`` of a small GAF, twice.

Each digest is the sha256 of a table"s rows, sorted, under its column
names (see ``tests/test_gff3_pinned.py``); the returned counts are pinned
too.
"""

from __future__ import annotations

import os

from modware_loader_spark.plans.adhoc_ontology import adhoc_load
from modware_loader_spark.plans.closure_load import ClosureLoader
from modware_loader_spark.plans.gaf_load import GAFLoader
from modware_loader_spark.plans.ontology_load import ChadoOntologyLoader, drop_ontology
from modware_loader_spark.plans.stock_import import StockImporter
from modware_loader_spark.sources.gaf import parse_gaf
from tests.test_gff3_pinned import _digest

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def _digests(tables: dict) -> dict:
    return {name: _digest(df) for name, df in tables.items()}


ONTO_V1_COUNTS = {"deleted_terms": 0,
 "updated_terms": 0,
 "new_dbxrefs": 6,
 "new_cvterms": 6,
 "new_relationships": 4}
CLOSURE_COUNTS = ({"deleted_paths": 0, "new_paths": 5}, {"deleted_paths": 0, "new_paths": 0})
ONTO_V2_COUNTS = {"deleted_terms": 1,
 "updated_terms": 5,
 "new_dbxrefs": 1,
 "new_cvterms": 1,
 "new_relationships": 2}
ONTO_DIGESTS = {"db": "b89d9704992f964e",
 "cv": "71604ad140316b32",
 "dbxref": "2ab9052f14077c6e",
 "cvterm": "f616f285dfdb70a9",
 "cvterm_relationship": "1c1bae750467e84f",
 "cvprop": "d180e7b6c2f6f140",
 "cvtermsynonym": "3463fdd646b56b98",
 "cvtermprop": "1c34e6660290c07c",
 "cvterm_dbxref": "67ab2007ca08bfea",
 "cvtermpath": "dd3b0b084e593ee9"}
DROP_COUNTS = {"dropped_cvterms": 6, "dropped_dbxrefs": 10}
DROP_DIGESTS = {"db": "b89d9704992f964e",
 "cv": "71604ad140316b32",
 "dbxref": "410f42f8dbcde336",
 "cvterm": "1b2702f71ff1190f",
 "cvterm_relationship": "9d60dad4db4606f1",
 "cvprop": "d180e7b6c2f6f140",
 "cvtermsynonym": "c74a86cba23d43e6",
 "cvtermprop": "6787aff6f9138bc6",
 "cvterm_dbxref": "a92e8fffcfe83629",
 "cvtermpath": "3426fddc79b0aca9"}


def test_ontology_closure_drop_pinned(spark):
    onto = ChadoOntologyLoader(spark)
    assert onto.load_file(os.path.join(FIX, "pinned_onto_v1.obo")) == ONTO_V1_COUNTS
    closure = ClosureLoader(onto)
    path = os.path.join(FIX, "pinned_closure.tsv")
    assert (closure.load_file(path), closure.load_file(path)) == CLOSURE_COUNTS
    assert onto.load_file(os.path.join(FIX, "pinned_onto_v2.obo")) == ONTO_V2_COUNTS
    assert _digests(onto.tables) == ONTO_DIGESTS
    assert drop_ontology(onto, "pinned_onto") == DROP_COUNTS
    assert _digests(onto.tables) == DROP_DIGESTS


ADHOC_COUNTS = ({"existing_terms": 0,
  "updated_terms": 0,
  "inserted_terms": 5,
  "synonyms": 1,
  "comments": 1,
  "term_xrefs": 2,
  "relationships": 1,
  "skipped_relationships": 1},
 {"existing_terms": 2,
  "updated_terms": 2,
  "inserted_terms": 0,
  "synonyms": 0,
  "comments": 0,
  "term_xrefs": 0,
  "relationships": 0,
  "skipped_relationships": 0})
ADHOC_DIGESTS = {"db": "4f4505c24720f2b4",
 "cv": "48872cd958fa57ee",
 "dbxref": "c76ce57d07e78e0f",
 "cvterm": "6b90f9b6801c30ca",
 "cvterm_relationship": "5db07eec4f96dce2",
 "cvprop": "bcae47883191a60e",
 "cvtermsynonym": "c74a86cba23d43e6",
 "cvtermprop": "6787aff6f9138bc6",
 "cvterm_dbxref": "a92e8fffcfe83629"}


def test_adhoc_pinned(spark):
    onto = ChadoOntologyLoader(spark)
    counts = tuple(
        adhoc_load(onto, os.path.join(FIX, name), include_metadata=True)
        for name in ("adhoc_mini.obo", "adhoc_mini_v2.obo")
    )
    assert counts == ADHOC_COUNTS
    assert _digests(onto.tables) == ADHOC_DIGESTS


STOCK_COUNTS = [{"new": 3, "existing": 0},
 {"new": 3, "existing": 0},
 {"sequence_features": 2, "sequence_props": 2},
 {"plasmid_gene_edges": 3, "features_created": 1},
 {"new": 1, "existing": 2},
 {"props": 3, "missed": 1},
 3,
 {"inventory_props": 5},
 {"stock_pubs": 3},
 2,
 {"characteristics": 2},
 {"genotypes": 3},
 {"phenstatements": 2},
 {"relationships": 2},
 {"relationships": 2}]
STOCK_DIGESTS = {"stock": "b5299b10ab8e1bc2",
 "stockcollection": "e698fdc5f99cdfc2",
 "stockcollection_stock": "e741fc6e796d874b",
 "stockprop": "fd8a064883417924",
 "stock_pub": "13a3326ca1b0dfb1",
 "stock_cvterm": "05004c3d6f5b3c17",
 "stock_relationship": "724b0cd815d0377c",
 "genotype": "e706b7bd72033fe0",
 "stock_genotype": "a1123547ea8fa257",
 "phenotype": "fb1fbe320082b641",
 "environment": "9da8ac39def094e4",
 "phenstatement": "ea3025bd9a3f97a4",
 "pub": "c19acea4f9a70b46",
 "organism": "9d671f8d4fa5d6c8",
 "cv": "e75ff2fa1d06d6a2",
 "cvterm": "b3c9710a1ed78bbb",
 "feature": "9fdb7f311446d32d",
 "feature_relationship": "464fcb1b61b650d2"}


def test_stock_session_pinned(spark):
    imp = StockImporter(spark)

    def frame(rows, schema):
        return spark.createDataFrame(rows, schema)

    strains = "strain_id string, strain_name string, species string, strain_descr string"
    counts = [
        imp.import_stock(frame(
            [("DBS0000001", "s1", "D. discoideum", "d1"),
             ("DBS0000002", "s2", "D. discoideum", None),
             ("DBS0000003", "s3", "D. purpureum", "d3")], strains,
        )),
        imp.import_stock(
            frame([("DBP0000001", "p1", None, None), ("DBP0000002", "p2", None, None),
                   ("DBP0000003", "p3", None, None)], strains),
            stock_type="plasmid", species_col=None, descr_col=None,
        ),
        imp.import_plasmid_sequences(frame(
            [("DBP0000001", "DBP0000001", "ATGCATGC"), ("DBP0000002", "AY123456", "GGGCCC")],
            "dbp_id string, seq_id string, sequence string",
        )),
        imp.import_plasmid_genes(
            frame([("DBP0000001", "DDB_G0001"), ("DBP0000003", "DDB_G0002"),
                   ("DBP0000003", "DDB_G0001"), ("notdbp", "DDB_G0001")],
                  "plasmid_id string, gene_id string"),
            gene_features=frame([("DDB_G0001", 9001), ("DDB_G0002", 9002)],
                                "uniquename string, feature_id long"),
        ),
        # second strain load: DBS0000001/2 become the existing set that
        # every later verb prunes and refreshes
        imp.import_stock(frame(
            [("DBS0000001", "s1", "D. discoideum", "d1"),
             ("DBS0000002", "s2", "D. discoideum", None),
             ("DBS0000004", "s4", "D. mucoroides", None)], strains,
        )),
        imp.import_props(
            frame([("DBS0000001", "mutagenesis method", "UV", 1),
                   ("DBS0000001", "mutagenesis method", "REMI", 2),
                   ("DBS0000004", "genotype note", "x", 3),
                   ("DBS0000404", "genotype note", "y", 4)],
                  "strain_id string, prop_type string, value string, line_idx long"),
            "dicty_stockcenter_props",
        ),
        imp.cvterm_ids("strain_inventory", create=["location", "color", "stored as"]).count(),
        imp.import_inventory(frame(
            [("DBS0000001", "freezer A", "blue", "3", "lab", "axenic", None, None, None, 1),
             ("DBS0000004", "freezer B", None, None, None, "spore", None, None, None, 2)],
            "strain_id string, location string, color string, vials string, "
            "obtained string, stored string, sdate string, priv string, pub string, "
            "line_idx long",
        )),
        imp.import_publications(frame(
            [("DBS0000001", "111"), ("DBS0000001", "111"), ("DBS0000002", "222"),
             ("DBS0000004", "111")], "strain_id string, pmid string",
        )),
        imp.cvterm_ids("strain_characteristics", create=["axenic", "null mutant"]).count(),
        imp.import_characteristics(frame(
            [("DBS0000001", "axenic"), ("DBS0000004", "null mutant"),
             ("DBS0000001", "nonexistent term")], "strain_id string, term string",
        )),
        imp.import_genotype(frame(
            [("DBS0000001", "-", "axeA-"), ("DBS0000002", "-", "axeB-"),
             ("DBS0000004", "-", "axeD-")],
            "strain_id string, _x string, genotype_name string",
        )),
        imp.import_phenotype(frame(
            [("DBS0000001", "aberrant spore morphology", "axenic medium", "microscopy",
              "999", None),
             ("DBS0000001", "aberrant spore morphology", "axenic medium", "microscopy",
              "999", None),
             ("DBS0000009", "small plaques", "bacterial lawn", None, None, None),
             ("DBS0000002", "delayed aggregation", "filter development", None, None, None),
             ("DBS0000004", "delayed aggregation", None, None, "111", "strong")],
            "strain_id string, phenotype string, environment string, assay string, "
            "pmid string, value string",
        )),
        imp.import_parent(frame(
            [("DBS0000002", "DBS0000001"), ("DBS0000004", "DBS0000002"),
             ("DBS0000002", "DBS0000404")], "strain_id string, parent_id string",
        )),
        imp.import_strain_plasmid(frame(
            [("DBS0000001", "DBP0000001"), ("DBS0000004", "DBP0000003"),
             ("DBS0000001", "notaplasmid")], "strain_id string, plasmid_id string",
        )),
    ]
    assert counts == STOCK_COUNTS
    assert _digests(imp.tables) == STOCK_DIGESTS


GAF_COUNTS = ({"loaded": 5, "total": 5}, {"loaded": 5, "total": 10})
GAF_DIGESTS = {"feature_cvterm": "20c41b27654085c9", "feature_cvtermprop": "faa809d1edc003f3"}


def test_gaf_load_pinned(spark):
    def frame(rows, schema):
        return spark.createDataFrame(rows, schema)

    loader = GAFLoader(
        spark,
        frame([("DDB_G0000001", 1), ("DDB_G0000002", 2), ("DDB_G0000003", 3)],
              "uniquename string, feature_id long"),
        frame([("0005515", 10), ("0003676", 11)], "accession string, cvterm_id long"),
        frame([("PMID:100", 100), ("PMID:200", 101)], "uniquename string, pub_id long"),
        frame([("IPI", 201), ("IEA", 202)], "synonym string, cvterm_id long"),
    )
    gaf = parse_gaf(spark, os.path.join(FIX, "pinned.gaf"))
    assert (loader.load(gaf), loader.load(gaf)) == GAF_COUNTS
    assert _digests({
        "feature_cvterm": loader.feature_cvterm,
        "feature_cvtermprop": loader.feature_cvtermprop,
    }) == GAF_DIGESTS
