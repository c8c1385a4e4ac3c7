"""Stock (strain/plasmid) import + dump plans (reference S12 + K6 + the
dictystrain dump command).

Reference: ``lib/Modware/Import/Stock/StrainImporter.pm`` (tab split,
``/^DBS[0-9]{7}/`` validation, prune-by-type U5) and
``lib/Modware/Dump/Command/dictystrain.pm`` (row-at-a-time cursor walk,
sequential ``DSC_G%07d`` id minting at ``:41``, trim/sprintf shaping).

Spark shape: import = validated scan + prop attach; dump = one join +
``row_number`` for the DSC ids (M13 deterministic minting replaces the
cursor counter) + `lpad` zero-padding — a single projection written as
TSV (K6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modware_loader_spark.frames import local_frame
from modware_loader_spark.operators.merge import generate_ids
from modware_loader_spark.sources.tsv_stock import parse_plasmids, parse_strains

PROP_COLUMNS = ["strain_id", "prop_type", "prop_value"]


def load_strains(
    spark: SparkSession, strain_path: str, props_path: str | None = None
) -> dict[str, DataFrame]:
    """→ {strains, props, invalid}: trimmed strain rows + typed props."""
    valid, invalid = parse_strains(spark, strain_path)
    strains = valid.select(
        "strain_id",
        F.trim("strain_name").alias("strain_name"),
        F.coalesce(F.trim("species"), F.lit("")).alias("species"),
        F.coalesce(F.trim("strain_descr"), F.lit("")).alias("strain_descr"),
    )
    if props_path:
        raw = spark.read.option("sep", "\t").csv(props_path).toDF(*PROP_COLUMNS)
        props = raw.filter(F.col("strain_id").rlike(r"^DBS[0-9]{7}"))
    else:
        props = local_frame(spark, [], "strain_id string, prop_type string, prop_value string")
    return {"strains": strains, "props": props, "invalid": invalid}


def dump_strains(strains: DataFrame, props: DataFrame) -> DataFrame:
    """dictystrain dump rows: DBS id, minted DSC_G id, name, species,
    description, pipe-joined synonyms, mutagenesis method."""
    # sequential DSC_G minting via partition-offset ids (scale-safe M13),
    # zero-padded to the reference's %07d
    with_dsc = (
        generate_ids(strains, ["strain_id"], id_col="__seq")
        .withColumn(
            "dscg_id",
            F.concat(F.lit("DSC_G"), F.lpad(F.col("__seq").cast("string"), 7, "0")),
        )
        .drop("__seq")
    )
    syn = (
        props.filter(F.col("prop_type") == "synonym")
        .groupBy("strain_id")
        .agg(F.concat_ws("|", F.array_sort(F.collect_list("prop_value"))).alias("synonyms"))
    )
    mut = (
        props.filter(F.col("prop_type") == "mutagenesis method")
        .groupBy("strain_id")
        .agg(F.first("prop_value").alias("mutagenesis_method"))
    )
    return (
        with_dsc.join(F.broadcast(syn), "strain_id", "left")
        .join(F.broadcast(mut), "strain_id", "left")
        .select(
            "strain_id",
            "dscg_id",
            "strain_name",
            "species",
            "strain_descr",
            F.coalesce("synonyms", F.lit("")).alias("synonyms"),
            F.coalesce("mutagenesis_method", F.lit("")).alias("mutagenesis_method"),
        )
    )


def write_stock_tsv(df: DataFrame, path: str) -> None:
    """K6 TSV writer: tab-separated, ordered, single file per dump."""
    (
        df.orderBy(df.columns[0])
        .coalesce(1)
        .write.mode("overwrite")
        .option("sep", "\t")
        .csv(path)
    )


# --- dictyplasmid (reference ``lib/Modware/Dump/Command/dictyplasmid.pm``) ---

PLASMID_PROP_COLUMNS = ["plasmid_id", "prop_type", "prop_value"]


def load_plasmids(
    spark: SparkSession, plasmid_path: str, props_path: str | None = None
) -> dict[str, DataFrame]:
    """→ {plasmids, props, invalid}: trimmed plasmid rows + typed props.

    Mirrors ``dictyplasmid.pm:36-55``: DBP%07d ids (fixture rows carry
    them pre-minted), name/description trimmed. The publications/
    inventory/genbank sub-dumps need legacy tables absent from the
    fixtures; props (depositor/keyword/synonym) stand in for them here."""
    valid, invalid = parse_plasmids(spark, plasmid_path)
    plasmids = valid.select(
        "plasmid_id",
        F.trim("plasmid_name").alias("plasmid_name"),
        F.coalesce(F.trim("plasmid_descr"), F.lit("")).alias("plasmid_descr"),
    )
    if props_path:
        raw = spark.read.option("sep", "\t").csv(props_path).toDF(*PLASMID_PROP_COLUMNS)
        props = raw.filter(F.col("plasmid_id").rlike(r"^DBP[0-9]{7}"))
    else:
        props = local_frame(
            spark, [], "plasmid_id string, prop_type string, prop_value string"
        )
    return {"plasmids": plasmids, "props": props, "invalid": invalid}


def dump_plasmids(plasmids: DataFrame, props: DataFrame) -> DataFrame:
    """dictyplasmid dump rows: DBP id, name, description, depositor,
    pipe-joined keywords, pipe-joined synonyms (``dictyplasmid.pm:47-55``
    plasmid file + the props sub-dump)."""

    def agg_prop(ptype: str, out: str) -> DataFrame:
        return (
            props.filter(F.col("prop_type") == ptype)
            .groupBy("plasmid_id")
            .agg(
                F.concat_ws("|", F.array_sort(F.collect_list("prop_value"))).alias(out)
            )
        )

    return (
        plasmids.join(F.broadcast(agg_prop("depositor", "depositor")), "plasmid_id", "left")
        .join(F.broadcast(agg_prop("keyword", "keywords")), "plasmid_id", "left")
        .join(F.broadcast(agg_prop("synonym", "synonyms")), "plasmid_id", "left")
        .select(
            "plasmid_id",
            "plasmid_name",
            "plasmid_descr",
            F.coalesce("depositor", F.lit("")).alias("depositor"),
            F.coalesce("keywords", F.lit("")).alias("keywords"),
            F.coalesce("synonyms", F.lit("")).alias("synonyms"),
        )
    )
