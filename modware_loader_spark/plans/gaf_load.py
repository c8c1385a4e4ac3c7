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

from modware_loader_spark.operators.merge import append
from modware_loader_spark.sources.gaf import parse_gaf

FEATURE_CVTERM_SCHEMA = (
    "feature_cvterm_id long, feature_id long, cvterm_id long, pub_id long, "
    "rank int, is_not boolean"
)

# dependent prop rows (reference: feature_cvtermprops created per
# annotation, GAF.pm:86-140; exported back via the per-row lookups the
# E8 pivot replaces, Export/GAF.pm:239-253)
PROP_SCHEMA = "feature_cvterm_id long, type string, value string"
PROP_TYPES = ("qualifier", "date", "source", "with", "aspect", "evidence")


class GAFLoader:
    """Annotation loader against caller-provided dimension DataFrames:
    features (feature_id, uniquename), cvterms (cvterm_id, accession),
    pubs (pub_id, uniquename), evidence (cvterm_id, synonym)."""

    def __init__(
        self,
        spark: SparkSession,
        features: DataFrame,
        cvterms: DataFrame,
        pubs: DataFrame,
        evidence: DataFrame,
    ):
        self.spark = spark
        self.features = features
        self.cvterms = cvterms
        self.pubs = pubs
        self.evidence = evidence
        self.feature_cvterm = spark.createDataFrame([], FEATURE_CVTERM_SCHEMA)
        self.feature_cvtermprop = spark.createDataFrame([], PROP_SCHEMA)

    def prune(self) -> None:
        """U5: full-table delete before reload (``Manager.pm:126-139``)."""
        self.feature_cvterm = self.spark.createDataFrame([], FEATURE_CVTERM_SCHEMA)
        self.feature_cvtermprop = self.spark.createDataFrame([], PROP_SCHEMA)

    def resolve(self, gaf: DataFrame) -> DataFrame:
        """U6 resolution joins + validity filter (invalid rows dropped)."""
        go_acc = F.substring_index(F.col("go_id"), ":", -1)
        pubref = F.element_at(F.col("db_ref"), 1)
        resolved = (
            gaf.withColumn("go_acc", go_acc)
            .withColumn("pubref", pubref)
            .join(
                F.broadcast(
                    self.features.select(
                        F.col("uniquename").alias("db_object_id"), "feature_id"
                    )
                ),
                "db_object_id",
                "left",
            )
            .join(
                F.broadcast(
                    self.cvterms.select(F.col("accession").alias("go_acc"), "cvterm_id")
                ),
                "go_acc",
                "left",
            )
            .join(
                F.broadcast(
                    self.pubs.select(F.col("uniquename").alias("pubref"), "pub_id")
                ),
                "pubref",
                "left",
            )
            .join(
                F.broadcast(
                    self.evidence.select(
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
        valid = self.resolve(gaf).localCheckpoint()
        live = self.feature_cvterm
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
        self.feature_cvterm, keyed = append(
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
        self.feature_cvtermprop, _ = append(self.feature_cvtermprop, props)
        return {"loaded": keyed.count(), "total": self.feature_cvterm.count()}

    def load_file(self, path: str) -> dict[str, int]:
        return self.load(parse_gaf(self.spark, path))
