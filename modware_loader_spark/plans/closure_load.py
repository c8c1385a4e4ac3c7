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

from pyspark.sql import functions as F

from modware_loader_spark.operators.merge import find_or_create
from modware_loader_spark.plans.ontology_load import ChadoOntologyLoader
from modware_loader_spark.sources.closure_file import parse_closure_file


class ClosureLoader:
    def __init__(self, ontology: ChadoOntologyLoader):
        self.spark = ontology.spark
        self.chado = ontology.chado
        self.chado.declare(["cvtermpath"])

    def load_file(self, path: str) -> dict[str, int]:
        staging = parse_closure_file(self.spark, path).localCheckpoint()
        live = self.chado.tables["cvtermpath"]
        counts: dict[str, int] = {}
        # the type must be a relationship type; the path is in the object's cv
        resolved = (
            self.chado.resolve_terms(staging, "object", "subject", "type")
            .filter(F.col("type_is_rel") == 1)
            .select(
                "object_id", "subject_id", "type_id", "pathdistance",
                F.col("object_cv_id").alias("cv_id"),
            )
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
        self.chado.tables["cvtermpath"], new_paths = find_or_create(
            kept, resolved, ["object_id", "subject_id", "type_id", "pathdistance", "cv_id"]
        )
        counts["new_paths"] = new_paths.count()
        return counts
