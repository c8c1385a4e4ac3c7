"""oboclosure2chado equivalent: closure-file ingest + cvtermpath refresh.

Reference flow (``lib/Modware/Load/Command/oboclosure2chado.pm:53-110``,
SQL ``share/postgresql_transitive.lib``):
1. ``delete_removed_cvtermpath`` (M7): delete live cvtermpath rows whose
   natural-key projection (object/subject/type accessions + pathdistance)
   is absent from staging,
2. ``insert_new_cvtermpath`` (M5+M6): resolve the three accessions through
   dbxref→cvterm (type must be a relationship type), EXCEPT existing rows,
   append.

The closure itself can also be computed natively —
``operators.closure.transitive_closure`` over the cvterm_relationship
edges — the reference delegates that to owltools and only ingests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modware_loader_spark.operators.merge import find_or_create
from modware_loader_spark.plans.ontology_load import ChadoOntologyLoader
from modware_loader_spark.sources.closure_file import parse_closure_file

CVTERMPATH_SCHEMA = (
    "object_id long, subject_id long, type_id long, pathdistance int, cv_id long"
)


class ClosureLoader:
    def __init__(self, ontology: ChadoOntologyLoader):
        self.ontology = ontology
        self.spark = ontology.spark
        if "cvtermpath" not in ontology.tables:
            ontology.tables["cvtermpath"] = self.spark.createDataFrame(
                [], CVTERMPATH_SCHEMA
            )

    def _keymap(self) -> DataFrame:
        t = self.ontology.tables
        db = t["db"].withColumnsRenamed({"name": "db_name"})
        return (
            t["cvterm"]
            .join(t["dbxref"], "dbxref_id")
            .join(db, "db_id")
            .select("cvterm_id", "accession", "db_name", "cv_id", "is_relationshiptype")
        )

    def load_file(self, path: str) -> dict[str, int]:
        staging = parse_closure_file(self.spark, path).localCheckpoint()
        keymap = self._keymap()
        live = self.ontology.tables["cvtermpath"]
        counts: dict[str, int] = {}

        resolved = (
            staging.join(
                keymap.withColumnsRenamed(
                    {"accession": "object", "db_name": "object_db", "cvterm_id": "object_id"}
                ).select("object", "object_db", "object_id", "cv_id"),
                ["object", "object_db"],
            )
            .join(
                keymap.withColumnsRenamed(
                    {"accession": "subject", "db_name": "subject_db", "cvterm_id": "subject_id"}
                ).select("subject", "subject_db", "subject_id"),
                ["subject", "subject_db"],
            )
            .join(
                keymap.filter(F.col("is_relationshiptype") == 1)
                .withColumnsRenamed(
                    {"accession": "type", "db_name": "type_db", "cvterm_id": "type_id"}
                )
                .select("type", "type_db", "type_id"),
                ["type", "type_db"],
            )
            .select("object_id", "subject_id", "type_id", "pathdistance", "cv_id")
            .localCheckpoint()
        )

        # M7: delete live rows whose projection is absent from staging
        kept = live.join(
            resolved.select("object_id", "subject_id", "type_id", "pathdistance"),
            ["object_id", "subject_id", "type_id", "pathdistance"],
            "left_semi",
        )
        counts["deleted_paths"] = live.count() - kept.count()

        # M6: set-semantics EXCEPT before append
        self.ontology.tables["cvtermpath"], new_paths = find_or_create(
            kept, resolved, ["object_id", "subject_id", "type_id", "pathdistance", "cv_id"]
        )
        counts["new_paths"] = new_paths.count()
        return counts
