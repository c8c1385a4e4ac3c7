"""organism2chado equivalent: UniProt-taxonomy TSV → organism table rows.

Reference: ``lib/Modware/Import/Command/organism2chado.pm`` — the SPARQL
HTTP fetch against uniprot is driver-side (same out-of-Spark scope as the
S9/S10 HTTP sources; any client can save the endpoint's
``text/tab-separated-values`` response to a file). The Spark surface is
the row shaping + load:
- TSV columns (genus, taxonId, scientificName, common_name, strain),
  double-quotes stripped (``raw2str``, ``:128-150``);
- species = scientific name minus the leading genus word
  (``/^(\\S+)\\s(.+)$/ → $2``);
- strain rows append the strain to the species (Amoebozoa plugin,
  ``lib/Modware/Plugin/Import/Organism/Amoebozoa.pm``);
- first-occurrence-wins dedup on the final species string;
- abbreviation = uc(genus initial) + '.' + species;
- an organism is found or created on (genus, species); new ones take
  ids after the live max, in file order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modware_loader_spark.catalog import ChadoState
from modware_loader_spark.operators.merge import append


class OrganismLoader:
    """organism2chado over a Chado state (``catalog.ChadoState``)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.chado = ChadoState(spark)
        self.chado.declare(["organism"])
        self.tables = self.chado.tables

    def load_file(self, path: str) -> dict[str, int]:
        """→ the organisms of the file and the ones created."""
        rows = organism_rows(self.spark, path).localCheckpoint()
        live = self.tables["organism"]
        fresh = rows.join(live.select("genus", "species"), ["genus", "species"], "left_anti")
        self.tables["organism"], new = append(
            live, fresh, id_col="organism_id", order_by=["ord", "species"]
        )
        return {"organisms": rows.count(), "new": new.count()}


def organism_rows(spark: SparkSession, path: str) -> DataFrame:
    """TSV (with header line) → organism rows (genus, species,
    common_name, abbreviation) and their file order ``ord``."""
    raw = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .csv(path)
        .toDF("genus", "taxon_id", "scientific_name", "common_name", "strain")
    )
    unq = lambda c: F.regexp_replace(F.regexp_replace(c, '"', ""), "\r", "")  # noqa: E731
    shaped = raw.select(
        unq(F.col("genus")).alias("genus"),
        F.regexp_extract(unq(F.col("scientific_name")), r"^\S+\s(.+)$", 1).alias(
            "sp_base"
        ),
        unq(F.col("common_name")).alias("common_name"),
        unq(F.col("strain")).alias("strain"),
        F.monotonically_increasing_id().alias("ord"),
    ).filter(F.col("sp_base") != "")
    with_species = shaped.withColumn(
        "species",
        F.when(
            F.col("strain").isNotNull() & (F.col("strain") != ""),
            F.concat_ws(" ", "sp_base", "strain"),
        ).otherwise(F.col("sp_base")),
    )
    # first occurrence wins (the plugin's species_hash skip)
    w = Window.partitionBy("species").orderBy("ord")
    deduped = (
        with_species.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "genus",
            "species",
            F.when(F.col("common_name") == "", None)
            .otherwise(F.col("common_name"))
            .alias("common_name"),
            F.concat(
                F.upper(F.substring("genus", 1, 1)), F.lit("."), F.col("species")
            ).alias("abbreviation"),
            "ord",
        )
    )
    return deduped
