"""GenBank flat-file source scan (reference S5): LOCUS metadata, the
FEATURES table (key, location, qualifiers) and the ORIGIN sequence.

Reference: ``lib/Modware/Loader/Genome/GenBank.pm:384-780`` parses with
Bio::SeqIO and dispatches scaffold/gene/mRNA/exon/polypeptide loads; the
staging shapes it produces are the same as the GFF3 path, so this parser
feeds the same downstream merge. Location grammar covered: ``N..M``,
``complement(N..M)`` and the bare forms the fixtures use; ``join(...)``
spans are kept raw in ``location`` for callers that need full splicing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modware_loader_spark.frames import local_frame
from modware_loader_spark.sources.stitch import line_index, running_stitch


def parse_genbank(spark: SparkSession, path: str) -> dict:
    """→ {metadata: dict, features: DataFrame, sequence: DataFrame}."""
    lines = line_index(spark, path).localCheckpoint()

    meta_rows = lines.filter(
        F.col("line").rlike(r"^(LOCUS|DEFINITION|ACCESSION|VERSION|SOURCE)\s")
    ).collect()
    metadata: dict[str, str] = {}
    for r in sorted(meta_rows, key=lambda r: r.idx):
        key, _, val = r.line.partition(" ")
        metadata.setdefault(key, val.strip())
    if "LOCUS" in metadata:
        parts = metadata["LOCUS"].split()
        metadata["locus_name"] = parts[0]
        if len(parts) > 2 and parts[2] == "bp":
            metadata["seq_length"] = parts[1]

    bounds = lines.agg(
        F.min(F.when(F.col("line").startswith("FEATURES"), F.col("idx"))).alias("f"),
        F.min(F.when(F.col("line").startswith("ORIGIN"), F.col("idx"))).alias("o"),
    ).first()

    features = local_frame(
        spark,
        [],
        "feat_id long, feature_key string, location string, start long, "
        "end long, strand int, qualifiers map<string,array<string>>",
    )
    if bounds.f is not None and bounds.o is not None:
        fl = lines.filter((F.col("idx") > bounds.f) & (F.col("idx") < bounds.o))
        is_feat = F.col("line").rlike(r"^ {5}\S")
        is_qual = F.col("line").rlike(r"^ {21}/[\w-]+")
        tagged = (
            running_stitch(
                fl,
                counts={"feat_id": is_feat},
                lasts={
                    "feature_key": F.when(
                        is_feat, F.regexp_extract("line", r"^ {5}(\S+)", 1)
                    )
                },
            )
            .filter(F.col("feat_id") > 0)
            # qual_id 0 = the location (key line + its continuations);
            # each /qualifier starts a new group and may wrap onto
            # continuation lines (translation= spans many)
            .withColumn(
                "qual_id",
                F.sum(is_qual.cast("int")).over(
                    Window.partitionBy("feat_id")
                    .orderBy("idx")
                    .rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
        )
        locs = (
            tagged.filter(F.col("qual_id") == 0)
            .groupBy("feat_id", "feature_key")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("idx", "line"))),
                        lambda s: F.trim(
                            F.regexp_replace(s.line, r"^ {5}\S+\s+", "")
                        ),
                    ),
                    "",
                ).alias("location")
            )
        )
        qtexts = (
            tagged.filter(F.col("qual_id") > 0)
            .groupBy("feat_id", "qual_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("idx", "line"))),
                        lambda s: F.trim(s.line),
                    ),
                    " ",
                ).alias("qtext")
            )
            .select(
                "feat_id",
                "qual_id",
                F.regexp_extract("qtext", r"^/([\w-]+)", 1).alias("qk"),
                F.regexp_replace(
                    F.regexp_replace("qtext", r"^/[\w-]+=?\s?", ""), r'^"|"$', ""
                ).alias("qv"),
            )
        )
        quals = (
            qtexts.groupBy("feat_id", "qk")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("qual_id", "qv"))),
                    lambda s: s.qv,
                ).alias("qvs")
            )
            .groupBy("feat_id")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col("qk"), F.col("qvs")))
                ).alias("qualifiers")
            )
        )
        nums = F.regexp_extract_all(F.col("location"), F.lit(r"(\d+)"), 1)
        features = (
            locs.join(quals, "feat_id", "left")
            .select(
                "feat_id",
                "feature_key",
                "location",
                # span = min..max over every segment (join/complement forms)
                F.element_at(nums, 1).cast("long").alias("start"),
                F.element_at(nums, -1).cast("long").alias("end"),
                F.when(F.col("location").contains("complement"), -1)
                .otherwise(1)
                .cast("int")
                .alias("strand"),
                "qualifiers",
            )
        )

    if bounds.o is not None:
        seq = (
            lines.filter(F.col("idx") > bounds.o)
            .filter(F.col("line").rlike(r"^\s*\d+\s+[a-zA-Z ]+$"))
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("idx", "line"))),
                        lambda s: F.regexp_replace(s.line, r"[\d\s/]+", ""),
                    ),
                    "",
                ).alias("sequence")
            )
            .select(F.lit(metadata.get("locus_name", "")).alias("seq_id"), "sequence")
        )
    else:
        seq = local_frame(spark, [], "seq_id string, sequence string")
    return {"metadata": metadata, "features": features, "sequence": seq}
