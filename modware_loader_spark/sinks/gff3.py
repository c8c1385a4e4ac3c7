"""GFF3 writer (reference K3): serialize feature rows to GFF3 lines with
``##gff-version`` / ``##sequence-region`` directives and an optional
``##FASTA`` tail.

Reference: ``lib/Modware/EventHandler/FeatureWriter/GFF3/Canonical.pm``
(write_reference_sequence ``:117-121``). The reference walks an event
emitter row-by-row; here serialization is one projection —
``concat_ws('\\t', ...)`` with attribute-map reassembly — ordered by
(seq_id, start, hierarchy ordinal) and written as text.

Scale: the global writer sort is ``sortWithinPartitions`` after a
range-repartition on seq_id — per-reference files come out ordered
without a single-node sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from modware_loader_spark.frames import local_frame

GFF3_COLS = ["seq_id", "source", "type", "start", "end", "score", "strand", "phase"]


def serialize_attributes(attr_map_col) -> F.Column:
    """map<string,array<string>> → ``k=v1,v2;k2=v`` (sorted keys for
    deterministic output; values re-percent-escaped so reserved
    characters survive the round-trip — Bio::GFF3::LowLevel parity)."""
    from modware_loader_spark.functions.scalar import gff3_escape

    entries = F.transform(
        F.array_sort(F.map_keys(attr_map_col)),
        lambda k: F.concat_ws(
            "=",
            k,
            F.array_join(
                F.transform(F.element_at(attr_map_col, k), gff3_escape), ","
            ),
        ),
    )
    return F.array_join(entries, ";")


def gff3_lines(features: DataFrame, attr_col: str = "attributes") -> DataFrame:
    """Feature rows → one GFF3 text line per row (column ``line``)."""
    dot = lambda c: F.coalesce(c.cast("string"), F.lit("."))  # noqa: E731
    strand_chr = (
        F.when(F.col("strand").cast("int") == 1, "+")
        .when(F.col("strand").cast("int") == -1, "-")
        .otherwise(F.lit(None))
    )
    return features.select(
        F.col("seq_id"),
        F.col("start"),
        F.concat_ws(
            "\t",
            F.col("seq_id"),
            dot(F.col("source")),
            F.col("type"),
            F.col("start").cast("string"),
            F.col("end").cast("string"),
            dot(F.col("score")),
            dot(strand_chr),
            dot(F.col("phase")),
            serialize_attributes(F.col(attr_col)),
        ).alias("line"),
    )


def write_gff3(
    features: DataFrame,
    path: str,
    sequence_regions: list[tuple[str, int, int]] | None = None,
    attr_col: str = "attributes",
) -> int:
    """Ordered single-file GFF3 write with directives; returns the number
    of feature lines written.

    coalesce(1) is for the file contract (one GFF3 document); at scale
    write per-seq_id partitioned directories instead. The count is an
    ``Observation`` after the sort, in the write's result stage, so it
    costs no second run of the export plan and a retried map stage
    cannot count twice.
    """
    spark = features.sparkSession
    header = [("##gff-version 3", "", -2)]
    for sid, lo, hi in sequence_regions or []:
        header.append((f"##sequence-region {sid} {lo} {hi}", sid, -1))
    head_df = local_frame(spark, header, "line string, seq_id string, start long")
    body = gff3_lines(features, attr_col).select("line", "seq_id", "start")
    written = Observation("gff3_features")
    (
        head_df.withColumn("is_body", F.lit(False))
        .unionByName(body.withColumn("is_body", F.lit(True)))
        .orderBy(F.col("seq_id"), F.col("start"), F.col("line"))
        .observe(written, F.count_if("is_body").alias("n"))
        .select("line")
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )
    return written.get["n"]
