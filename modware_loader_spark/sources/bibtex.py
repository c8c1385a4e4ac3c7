"""BibTeX source scan (reference S13): parse ``@type{citekey, field =
{value}, ...}`` entries into a DataFrame.

Reference: ``lib/Modware/Import/Command/bibtex2chado.pm`` via
BibTeX::Parser (``cpanfile:5``). Same stanza-window technique as the OBO
parser: entries begin at ``@`` lines; fields are one-per-line
``name = {value},`` (the fixture shape; brace-nested multiline values
would need a real grammar — documented limitation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modware_loader_spark.sources.stitch import line_index, running_stitch


def parse_bibtex(spark: SparkSession, path: str) -> DataFrame:
    """→ (entry_type, citekey, fields map<string,string>)."""
    lines = line_index(spark, path)
    is_entry = F.col("line").rlike(r"^@\w+\{")
    tagged = running_stitch(
        lines,
        counts={"entry_id": is_entry},
        lasts={
            "entry_type": F.when(
                is_entry, F.regexp_extract("line", r"^@(\w+)\{", 1)
            ),
            "citekey": F.when(
                is_entry, F.regexp_extract("line", r"^@\w+\{([^,]+),", 1)
            ),
        },
    ).filter(F.col("entry_id") > 0)
    fields = tagged.withColumn(
        "fname", F.lower(F.regexp_extract("line", r"^\s*([\w-]+)\s*=", 1))
    ).withColumn(
        "fvalue",
        F.regexp_extract("line", r"=\s*\{(.*)\},?\s*$", 1),
    )
    return (
        fields.groupBy("entry_id", "entry_type", "citekey")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.when(
                        F.col("fname") != "",
                        F.struct(F.col("fname"), F.col("fvalue")),
                    )
                )
            ).alias("fields")
        )
        .drop("entry_id")
    )
