"""adhocobo2chado semantics (reference adhocobo2chado.pm +
Loader/Adhoc/Ontology.pm) — single-cv loading, cv-named db for bare ids,
flip-only updates, include_metadata child sets, skip-if-unresolved edges.
"""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from modware_loader_spark.plans.adhoc_ontology import adhoc_load
from modware_loader_spark.plans.ontology_load import ChadoOntologyLoader

FIX = os.path.join(os.path.dirname(__file__), "fixtures")
MINI = os.path.join(FIX, "adhoc_mini.obo")
MINI_V2 = os.path.join(FIX, "adhoc_mini_v2.obo")
# the Relation Ontology of the reference checkout; its 465-typedef count
# is that file's own, so the test runs only where the file exists
RO = "/root/reference/t/test_data/obo/ro.obo"


def _term(onto, name):
    return onto.tables["cvterm"].filter(F.col("name") == name).first()


def test_adhoc_load_fresh(spark):
    onto = ChadoOntologyLoader(spark)
    counts = adhoc_load(onto, MINI, include_metadata=True)
    assert counts["inserted_terms"] == 5
    assert counts["existing_terms"] == 0

    cv_id = onto.tables["cv"].filter(F.col("name") == "adhoc_test").first().cv_id
    in_cv = onto.tables["cvterm"].filter(F.col("cv_id") == cv_id)
    # ALL stanzas (Typedef included) land in the default-namespace cv
    assert in_cv.count() == 5
    assert _term(onto, "part of").is_relationshiptype == 1
    # obsolete term: flag set, name NOT decorated (unlike obo2chado)
    beta = _term(onto, "beta")
    assert beta is not None and beta.is_obsolete == 1

    # bare id → db named after the cv, accession = the full id
    plain = _term(onto, "plain term")
    dx = onto.tables["dbxref"].filter(F.col("dbxref_id") == plain.dbxref_id).first()
    db = onto.tables["db"].filter(F.col("db_id") == dx.db_id).first()
    assert (dx.accession, db.name) == ("plainid", "adhoc_test")

    # metadata: synonym, comment, xref + alt_id links
    alpha = _term(onto, "alpha")
    syn = onto.tables["cvtermsynonym"].filter(F.col("cvterm_id") == alpha.cvterm_id)
    assert [r.synonym for r in syn.collect()] == ["Alpha prime"]
    props = onto.tables["cvtermprop"].filter(F.col("cvterm_id") == alpha.cvterm_id)
    assert [r.value for r in props.collect()] == ["a comment"]
    links = onto.tables["cvterm_dbxref"].filter(F.col("cvterm_id") == alpha.cvterm_id)
    assert links.count() == 2  # EXT:123 + alt AT:0000099

    # edges: part_of edge resolves (typedef is in the cv); the is_a edge's
    # type term does not exist in storage → skipped, like the reference's
    # error-log-and-return
    assert counts["relationships"] == 1
    assert counts["skipped_relationships"] == 1
    edge = onto.tables["cvterm_relationship"].first()
    assert edge.type_id == _term(onto, "part of").cvterm_id


@pytest.mark.slowlane
def test_adhoc_flip_only_update(spark):
    onto = ChadoOntologyLoader(spark)
    adhoc_load(onto, MINI)
    counts = adhoc_load(onto, MINI_V2)
    assert counts["existing_terms"] == 2
    # both flips: alpha 0→1, beta 1→0
    assert counts["updated_terms"] == 2
    assert counts["inserted_terms"] == 0
    # name is never touched by an update (alpha RENAMED is ignored)
    assert _term(onto, "alpha") is not None
    assert _term(onto, "alpha RENAMED") is None
    assert _term(onto, "alpha").is_obsolete == 1
    assert _term(onto, "beta").is_obsolete == 0
    # definition follows the flip
    assert _term(onto, "beta").definition == "no longer obsolete"


@pytest.mark.slowlane
def test_adhoc_idempotent_no_flip(spark):
    onto = ChadoOntologyLoader(spark)
    adhoc_load(onto, MINI)
    n_terms = onto.tables["cvterm"].count()
    counts = adhoc_load(onto, MINI)
    assert counts["updated_terms"] == 0
    assert counts["inserted_terms"] == 0
    assert counts["relationships"] == 0  # edge already present
    assert onto.tables["cvterm"].count() == n_terms


@pytest.mark.slowlane
@pytest.mark.skipif(not os.path.exists(RO), reason=f"reference ontology {RO} not present")
def test_adhoc_ro_typedefs(spark):
    onto = ChadoOntologyLoader(spark)
    counts = adhoc_load(onto, RO)
    assert counts["inserted_terms"] == 465
    cv_id = onto.tables["cv"].filter(F.col("name") == "ro").first().cv_id
    in_cv = onto.tables["cvterm"].filter(
        (F.col("cv_id") == cv_id) & (F.col("is_relationshiptype") == 1)
    )
    assert in_cv.count() == 465
    # every is_a edge's type term ('is_a') is absent from storage → all skip
    assert counts["relationships"] == 0
