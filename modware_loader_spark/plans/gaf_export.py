"""chado2gaf export pipeline: feature_cvterm + dims → GAF 2.0 rows.

Reference (``lib/Modware/Export/GAF.pm``): base query E7 (``:193-224``,
feature_cvterm ⋈ cvterm⋈cv IN 3 aspects ⋈ feature⋈organism), per-row
correlated prop lookups E8 (``:239-253``) and pipe-joined synonym/xref
aggregation E9 (``:352-386``), stringified at ``:347-350`` (writer K5).

Spark shape: the E8 N+1 disappears into ONE pivot of feature_cvtermprop
(groupBy.pivot.first), E9 into one groupBy.agg(concat_ws over a sorted
collect_list); the whole export is a single join DAG ending in
``sinks.gaf.write_gaf``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modware_loader_spark.plans.gaf_load import PROP_TYPES, GAFLoader


def chado2gaf_rows(
    loader: GAFLoader,
    db: str = "dictyBase",
    taxon: str = "taxon:44689",
    synonyms: DataFrame | None = None,
) -> DataFrame:
    """→ DataFrame in GAF column layout (arrays for multi-valued cols)."""
    t = loader.tables
    fc = t["feature_cvterm"]

    # E8: pivot the prop table once instead of per-row lookups
    props = (
        t["feature_cvtermprop"].groupBy("feature_cvterm_id")
        .pivot("type", list(PROP_TYPES))
        .agg(F.first("value"))
    )

    feat = t["feature"].select(
        "feature_id",
        F.col("uniquename").alias("db_object_id"),
        F.col("uniquename").alias("db_object_symbol"),
    )
    go = loader.go_terms().select(
        "cvterm_id", F.concat_ws(":", "go_db", "go_acc").alias("go_id")
    )
    pubs = t["pub"].select("pub_id", F.col("uniquename").alias("db_ref_str"))

    out = (
        fc.join(F.broadcast(props), "feature_cvterm_id", "left")
        .join(F.broadcast(feat), "feature_id")
        .join(F.broadcast(go), "cvterm_id")
        .join(F.broadcast(pubs), "pub_id")
    )

    # E9: pipe-joined synonyms per feature (sorted for determinism)
    if synonyms is not None:
        syn_agg = synonyms.groupBy("feature_id").agg(
            F.array_sort(F.collect_list("synonym")).alias("db_object_synonym")
        )
        out = out.join(F.broadcast(syn_agg), "feature_id", "left")
    else:
        out = out.withColumn("db_object_synonym", F.array().cast("array<string>"))

    return out.select(
        F.lit(db).alias("db"),
        "db_object_id",
        "db_object_symbol",
        F.coalesce(
            F.when(F.col("is_not"), F.lit("NOT")), F.col("qualifier"), F.lit("")
        ).alias("qualifier"),
        "go_id",
        F.array("db_ref_str").alias("db_ref"),
        F.col("evidence").alias("evidence_code"),
        F.coalesce(F.split(F.col("with"), r"\|"), F.array().cast("array<string>")).alias(
            "with_from"
        ),
        F.coalesce(F.col("aspect"), F.lit("")).alias("aspect"),
        F.lit("").alias("db_object_name"),
        F.coalesce(F.col("db_object_synonym"), F.array().cast("array<string>")).alias(
            "db_object_synonym"
        ),
        F.lit("protein").alias("db_object_type"),
        F.lit(taxon).alias("taxon"),
        F.coalesce(F.col("date"), F.lit("")).alias("date"),
        F.coalesce(F.col("source"), F.lit("")).alias("assigned_by"),
        F.lit("").alias("annotation_extension"),
        F.lit("").alias("gene_product_form_id"),
    )
