"""A genome and an ontology share one Chado catalog, whichever loads
first: the CLI commands, each restoring and saving the catalog as a fresh
process would, return the same counts in either order, and a load never
overwrites the scalar state (auto-uniquename counter, ontology metadata)
that another command saved. A Sequence Ontology loaded after the genome
adopts the genome's types instead of pruning or duplicating them.
"""

from __future__ import annotations

import json
import os
from argparse import Namespace

import pytest
from pyspark.sql import functions as F

from modware_loader_spark import cli
from modware_loader_spark.catalog import ChadoCatalog, restore_loader_state
from modware_loader_spark.plans.gff3_load import ChadoGFF3Loader
from tests.test_gff3_pinned import (
    EXPORT_DIGEST,
    FIRST_COUNTS,
    GFF3,
    SECOND_COUNTS,
    _export_digest,
)
from tests.test_loader_pinned import CLOSURE_COUNTS, FIX, ONTO_V1_COUNTS

# gene, mRNA (part_of gene) and the bare-id part_of Typedef, in cv sequence
SO_COUNTS = {
    "deleted_terms": 0,
    "updated_terms": 0,
    "new_dbxrefs": 3,
    "new_cvterms": 3,
    "new_relationships": 1,
}


def _gff3tochado(catalog: str) -> dict:
    return cli.cmd_gff3tochado(Namespace(input=GFF3, catalog=catalog, dry_run=False))


def _obo2chado(catalog: str, obo: str = "pinned_onto_v1.obo") -> dict:
    return cli.cmd_obo2chado(Namespace(
        input=os.path.join(FIX, obo), catalog=catalog, dry_run=False, force=False))


def _oboclosure2chado(catalog: str) -> dict:
    return cli.cmd_oboclosure2chado(Namespace(
        input=os.path.join(FIX, "pinned_closure.tsv"), catalog=catalog, dry_run=False))


@pytest.mark.parametrize("genome_first", [False, True], ids=["ontology_first", "genome_first"])
def test_counts_do_not_depend_on_load_order(spark, tmp_path, genome_first):
    catalog = str(tmp_path / "catalog")
    if genome_first:
        assert _gff3tochado(catalog) == FIRST_COUNTS
    assert _obo2chado(catalog) == ONTO_V1_COUNTS
    assert _oboclosure2chado(catalog) == CLOSURE_COUNTS[0]
    if not genome_first:
        assert _gff3tochado(catalog) == FIRST_COUNTS


def test_ontology_load_keeps_the_genome_state(spark, tmp_path):
    catalog = str(tmp_path / "catalog")
    assert _gff3tochado(catalog) == FIRST_COUNTS
    _obo2chado(catalog)
    assert _gff3tochado(catalog) == SECOND_COUNTS
    with open(os.path.join(catalog, "_meta.json")) as fh:
        meta = json.load(fh)
    assert meta == {
        "auto_counter": 8,
        "metadata": {"pinned_onto:date": "01:03:2020 10:00"},
    }


@pytest.mark.parametrize("genome_first", [False, True], ids=["ontology_first", "genome_first"])
def test_sequence_ontology_adopts_the_genome_types(spark, tmp_path, genome_first):
    catalog = str(tmp_path / "catalog")
    if genome_first:
        assert _gff3tochado(catalog) == FIRST_COUNTS
        assert _obo2chado(catalog, "pinned_so.obo") == SO_COUNTS
    else:
        assert _obo2chado(catalog, "pinned_so.obo") == SO_COUNTS
        assert _gff3tochado(catalog) == FIRST_COUNTS
    assert _gff3tochado(catalog) == SECOND_COUNTS

    loader = ChadoGFF3Loader(spark)
    restore_loader_state(loader, ChadoCatalog(spark, catalog))
    t = loader.tables
    seq_terms = loader.chado.term_ids("sequence")
    assert seq_terms.groupBy("name").count().filter("count > 1").isEmpty()
    gene = t["cvterm"].join(t["dbxref"], "dbxref_id").filter(F.col("name") == "gene")
    assert [r.accession for r in gene.collect()] == ["0000704"]
    for table in ("feature", "featureprop", "feature_relationship", "synonym"):
        assert t[table].join(t["cvterm"].select(F.col("cvterm_id").alias("type_id")),
                             "type_id", "left_anti").isEmpty(), table
    assert _export_digest(loader, str(tmp_path / "out.gff3")) == EXPORT_DIGEST
