"""Closure-file ingest refresh semantics + GAF parse/load (reference
``t/loader/chado/transitive_closure_*.t`` and GAF role tests)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from modware_loader_spark.plans.closure_load import ClosureLoader
from modware_loader_spark.plans.gaf_load import GAFLoader
from modware_loader_spark.plans.ontology_load import ChadoOntologyLoader
from modware_loader_spark.sources.gaf import parse_gaf
from tests.test_loader_pinned import seed_gaf_dims

DATA = "/root/reference/t/test_data"


@pytest.fixture(scope="module")
def data_dir():
    if not os.path.isdir(DATA):
        pytest.skip("reference fixtures not available")
    return DATA


@pytest.mark.slowlane
def test_closure_load_and_refresh(spark, data_dir):
    onto = ChadoOntologyLoader(spark)
    onto.load_file(os.path.join(data_dir, "obo", "eco_v2.00.obo"))
    closure = ClosureLoader(onto)
    c1 = closure.load_file(os.path.join(data_dir, "obo_closure", "eco_v2.00.inf"))
    n_rows = spark.read.text(
        os.path.join(data_dir, "obo_closure", "eco_v2.00.inf")
    ).count()
    assert c1["new_paths"] == n_rows  # every file row resolves and loads
    assert c1["deleted_paths"] == 0
    total1 = onto.tables["cvtermpath"].count()
    assert total1 == c1["new_paths"]
    # reload of the identical file is a no-op (M6 EXCEPT semantics)
    c2 = closure.load_file(os.path.join(data_dir, "obo_closure", "eco_v2.00.inf"))
    assert c2["new_paths"] == 0
    assert c2["deleted_paths"] == 0
    # update ontology to v1 then load the v1 closure: refresh deletes stale
    # rows and inserts the new ones (M7)
    onto.load_file(os.path.join(data_dir, "obo", "eco.obo"))
    c3 = closure.load_file(os.path.join(data_dir, "obo_closure", "eco.inf"))
    assert c3["new_paths"] > 0
    # pathdistance survives resolution
    assert (
        onto.tables["cvtermpath"].filter(F.col("pathdistance") <= 0).count() == 0
    )


def test_gaf_parse_and_rank(spark, data_dir):
    gaf = parse_gaf(spark, os.path.join(data_dir, "testdicty.gaf2"))
    rows = gaf.collect()
    assert len(rows) == 12  # 14 lines - 2 '!' comments
    piaa = [r for r in rows if r.db_object_id == "DDB_G0277399"]
    assert len(piaa) == 2
    assert all(r.with_from[0].startswith("UniProtKB:") for r in piaa)
    # pipe-splitting of multi-valued synonyms
    assert any(len(r.db_object_synonym) > 5 for r in rows)

    # dims covering a subset of the file: unresolved rows must drop (U6)
    loader = GAFLoader(spark)
    seed_gaf_dims(
        loader.chado,
        [("DDB_G0277399", 1), ("DDB_G0274035", 2)],
        [("0005515", 10), ("0003676", 11)],
        [("PMID:16079174", 100), ("GO_REF:0000002", 101)],
        [("IPI", 201), ("IEA", 202)],
    )
    counts = loader.load(gaf)
    assert counts["loaded"] == 3  # 2 piaA rows + 1 stip-1 row resolve fully
    fc = loader.tables["feature_cvterm"].orderBy("feature_cvterm_id").collect()
    # U4: the two piaA annotations share (feature, cvterm, pub) → ranks 0,1
    piaa_rows = [r for r in fc if r.feature_id == 1]
    assert sorted(r.rank for r in piaa_rows) == [0, 1]
    # idempotent-ish continuation: reloading bumps ranks, not duplicates ids
    counts2 = loader.load(gaf)
    assert counts2["loaded"] == 3
    piaa_rows2 = [r for r in loader.tables["feature_cvterm"].collect() if r.feature_id == 1]
    assert sorted(r.rank for r in piaa_rows2) == [0, 1, 2, 3]
    loader.prune()
    assert loader.tables["feature_cvterm"].count() == 0


def test_goa_filters(spark, data_dir):
    from modware_loader_spark.plans.goa_filter import mod_id_in_goa, mod_ref_in_goa

    gaf = parse_gaf(spark, os.path.join(data_dir, "testdicty.gaf2"))
    id_map = spark.createDataFrame(
        [("DDB_G0277399", "GENE1"), ("DDB_G0274035", "GENE2")],
        "goa_id string, mod_id string",
    )
    out = mod_id_in_goa(gaf, id_map)
    assert out.count() == 3  # 2 piaA + 1 stip-1 rows map; others drop
    assert {r.db_object_id for r in out.collect()} == {"GENE1", "GENE2"}
    assert all(r.db == "dictyBase" for r in out.collect())

    pub_map = spark.createDataFrame(
        [("PMID:16079174", "DDB_REF:123")], "goa_ref string, mod_ref string"
    )
    reffed = mod_ref_in_goa(gaf, pub_map)
    assert reffed.count() == gaf.count()  # rewrite, never drop
    rewritten = reffed.filter(F.element_at("db_ref", 1) == "DDB_REF:123").count()
    assert rewritten == 2  # the two piaA PMID rows


def test_resource_loaders(spark):
    """gp2protein / goref resource scans (reference Convert/Resource/
    {gp2protein,goref}.pm) feeding the T4 filters."""
    import os

    from modware_loader_spark.plans.goa_filter import load_goref, load_gp2protein

    fix = os.path.join(os.path.dirname(__file__), "fixtures")
    idmap = load_gp2protein(spark, os.path.join(fix, "gp2protein.dicty"))
    rows = sorted((r.goa_id, r.mod_id) for r in idmap.collect())
    assert rows == [
        ("P08799", "DDB_G0286355"),
        ("P54632", "DDB_G0277399"),
        ("P54651", "DDB_G0277399"),
    ]

    refs = load_goref(spark, os.path.join(fix, "GO.references"))
    got = sorted((r.goa_ref, r.mod_ref) for r in refs.collect())
    # only the dictyBase_REF xrefs; GO_REF:0000033 has none → absent
    assert got == [
        ("GO_REF:0000002", "dictyBase_REF:10157"),
        ("GO_REF:0000037", "dictyBase_REF:9851"),
    ]
