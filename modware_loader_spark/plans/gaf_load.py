"""dictygaf2chado equivalent: GAF 2.0 annotation load (U3-U6).

Reference flow (``lib/Modware/Loader/GAF.pm`` + ``GAF/Manager.pm``):
row-at-a-time find_or_create of ``feature_cvterm`` with a per-key rank
(max(rank)+1, ``GAF.pm:64-84``), foreign keys resolved through in-process
caches (``Manager.pm:88-92``), invalid rows dropped (``Row.pm:71-83``),
optional full prune before reload (``Manager.pm:126-139``).

Spark shape — set-oriented, no row-at-a-time anything:
- U6: four broadcast dim joins (gene→feature_id, GO→cvterm_id,
  pubref→pub_id, evidence code→cvterm via synonym),
- validity filter = dropna over the resolved ids,
- U4: rank = (max existing rank per key, else -1) + dense row_number over
  the incoming duplicates of the same (feature, cvterm, pub) key,
- U3: anti-join upsert of feature_cvterm + dependent prop/pub rows,
- U5: ``prune()`` = overwrite with empty.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modware_loader_spark.catalog import ChadoState
from modware_loader_spark.operators.merge import append
from modware_loader_spark.sources.gaf import parse_gaf
from modware_loader_spark.sources.obo import _normalize

# the annotation tables, then the tables the U6 joins read
TABLES = (
    "feature_cvterm", "feature_cvtermprop",
    "feature", "cvterm", "dbxref", "db", "pub", "cvtermsynonym",
)

# dependent prop rows (reference: feature_cvtermprops created per
# annotation, GAF.pm:86-140; exported back via the per-row lookups the
# E8 pivot replaces, Export/GAF.pm:239-253)
PROP_TYPES = ("qualifier", "date", "source", "with", "aspect", "evidence")


class GAFLoader:
    """Annotation loader over a Chado state (``catalog.ChadoState``): it
    writes ``feature_cvterm``/``feature_cvtermprop`` and resolves against
    the state's features (uniquename), GO terms (dbxref db name and
    accession), pubs (uniquename) and evidence codes (cvterm synonyms)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.chado = ChadoState(spark)
        self.chado.declare(TABLES)
        self.tables = self.chado.tables

    def prune(self) -> None:
        """U5: full-table delete before reload (``Manager.pm:126-139``)."""
        self.chado.clear(["feature_cvterm", "feature_cvtermprop"])

    def go_terms(self) -> DataFrame:
        """(cvterm_id, go_db, go_acc) of every term: the db name and
        accession of its dbxref, the two halves of an OBO id."""
        t = self.tables
        db = t["db"].select("db_id", F.col("name").alias("go_db"))
        return (
            t["cvterm"].join(t["dbxref"], "dbxref_id").join(F.broadcast(db), "db_id")
            .select("cvterm_id", "go_db", F.col("accession").alias("go_acc"))
        )

    def resolve(self, gaf: DataFrame) -> DataFrame:
        """U6 resolution joins + validity filter (invalid rows dropped).
        A GO id splits into (db, accession) as the OBO loader splits it,
        so ``GO:0000001`` binds only to the GO term, never to another
        ontology's ``0000001``."""
        t = self.tables
        go = _normalize(F.col("go_id"))
        pubref = F.element_at(F.col("db_ref"), 1)
        resolved = (
            gaf.withColumn("go_db", go["db"])
            .withColumn("go_acc", go["accession"])
            .withColumn("pubref", pubref)
            .join(
                F.broadcast(
                    t["feature"].select(
                        F.col("uniquename").alias("db_object_id"), "feature_id"
                    )
                ),
                "db_object_id",
                "left",
            )
            .join(F.broadcast(self.go_terms()), ["go_db", "go_acc"], "left")
            .join(
                F.broadcast(
                    t["pub"].select(F.col("uniquename").alias("pubref"), "pub_id")
                ),
                "pubref",
                "left",
            )
            .join(
                F.broadcast(
                    t["cvtermsynonym"].select(
                        F.col("synonym").alias("evidence_code"),
                        F.col("cvterm_id").alias("evidence_id"),
                    )
                ),
                "evidence_code",
                "left",
            )
        )
        # Row.is_valid (Row.pm:71-83): every resolved id must be present
        return resolved.dropna(subset=["feature_id", "cvterm_id", "pub_id"])

    def load(self, gaf: DataFrame) -> dict[str, int]:
        t = self.tables
        valid = self.resolve(gaf).localCheckpoint()
        live = t["feature_cvterm"]
        # U4 get_rank: continue from max existing rank per natural key
        base = live.groupBy("feature_id", "cvterm_id", "pub_id").agg(
            F.max("rank").alias("base_rank")
        )
        w = Window.partitionBy("feature_id", "cvterm_id", "pub_id").orderBy(
            "date", "evidence_code", "with_from"
        )
        ranked = (
            valid.join(F.broadcast(base), ["feature_id", "cvterm_id", "pub_id"], "left")
            .withColumn(
                "rank",
                (
                    F.coalesce(F.col("base_rank"), F.lit(-1))
                    + F.row_number().over(w)
                ).cast("int"),
            )
        )
        # surrogate ids over the natural-key order — partition-offset
        # row_number (scale-safe M13), not a global window
        t["feature_cvterm"], keyed = append(
            live,
            ranked,
            id_col="feature_cvterm_id",
            order_by=["feature_id", "cvterm_id", "pub_id", "rank"],
        )
        # dependent props (U3's feature_cvtermprop creation), one row per
        # present prop type — unpivot via stack
        prop_cols = [
            ("qualifier", F.col("qualifier")),
            ("date", F.col("date")),
            ("source", F.col("assigned_by")),
            ("with", F.array_join(F.col("with_from"), "|")),
            ("aspect", F.col("aspect")),
            ("evidence", F.col("evidence_code")),
        ]
        props = keyed.select(
            "feature_cvterm_id",
            F.explode(
                F.filter(
                    F.array(
                        *[
                            F.struct(F.lit(n).alias("type"), c.cast("string").alias("value"))
                            for n, c in prop_cols
                        ]
                    ),
                    lambda s: s.value.isNotNull() & (s.value != ""),
                )
            ).alias("p"),
        ).select("feature_cvterm_id", "p.type", "p.value")
        t["feature_cvtermprop"], _ = append(t["feature_cvtermprop"], props)
        return {"loaded": keyed.count(), "total": t["feature_cvterm"].count()}

    def load_file(self, path: str) -> dict[str, int]:
        return self.load(parse_gaf(self.spark, path))
