"""GFF3 source scan (reference S1): stream-parse GFF3 into a feature
DataFrame + a FASTA-tail sequence DataFrame.

Reference behavior (``lib/Modware/Load/Command/gff3tochado.pm:188-213``,
parsing via Bio::GFF3::LowLevel): per line → feature hashref with a
``{key → [values]}`` attribute map; ``##FASTA`` switches the rest of the
file to FASTA records; ``##`` directives are passed through; ``#`` comments
skipped.

Spark shape: one JVM text scan with a dense global line index (the line's
position inside its file block plus the block's offset — the indexes
``zipWithIndex`` would give, without a Python worker), the FASTA boundary
found with one tiny agg, then two branch DataFrames. Attributes parse as
``str_to_map(';', '=')`` + comma-split → ``map<string, array<string>>`` —
all JVM-side. Values are percent-decoded (%2C/%3B/%09 … —
``Bio::GFF3::LowLevel`` semantics) with literal '+' untouched; the GFF3
writer re-escapes, so reserved characters round-trip.

Scale: the feature branch is embarrassingly parallel. The FASTA-tail
``>``-header assignment needs the global line order; it runs through the
chunked two-phase prefix stitch (``sources/stitch.py``), so a genome-sized
tail never funnels through a single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modware_loader_spark.frames import local_frame
from modware_loader_spark.sources.stitch import running_stitch

FEATURE_COLS = [
    "seq_id",
    "source",
    "type",
    "start",
    "end",
    "score",
    "strand",
    "phase",
    "attributes",
    "line_idx",
]


def _lines_with_index(spark: SparkSession, path: str) -> DataFrame:
    """``(line, idx)`` for every line of the text file(s) at ``path``, with
    ``idx`` dense from 0 in file order (files by path).

    ``monotonically_increasing_id`` numbers rows consecutively inside a
    scan partition, and each file block is scanned by exactly one
    partition, so a row's position in its block is its id minus the
    block's smallest id. One small aggregate counts the lines per block;
    Python folds those counts into per-block shifts, which join back
    as a broadcast ``LocalRelation``."""
    raw = spark.read.text(path).select(
        F.col("value").alias("line"),
        F.col("_metadata.file_path").alias("__file"),
        F.col("_metadata.file_block_start").alias("__block"),
        F.monotonically_increasing_id().alias("__id"),
    )
    blocks = raw.groupBy("__file", "__block").agg(
        F.count(F.lit(1)).alias("n"), F.min("__id").alias("first")
    )
    shifts, acc = [], 0
    for r in sorted(blocks.collect(), key=lambda r: (r["__file"], r["__block"])):
        shifts.append((r["__file"], r["__block"], acc - r["first"]))
        acc += r["n"]
    shift = local_frame(spark, shifts, "__file string, __block long, __shift long")
    return raw.join(F.broadcast(shift), ["__file", "__block"]).select(
        "line", (F.col("__id") + F.col("__shift")).alias("idx")
    )


def parse_fasta(spark: SparkSession, path: str) -> DataFrame:
    """Standalone FASTA scan (reference S6 — ``Bio::SeqIO -format fasta``):
    → (seq_id, sequence), wrap-joined. Same grouping as the GFF3
    ``##FASTA`` tail."""
    lines = _lines_with_index(spark, path)
    tagged = running_stitch(
        lines,
        lasts={
            "seq_id": F.when(
                F.col("line").startswith(">"),
                F.regexp_extract("line", r">(\S+)", 1),
            )
        },
    )
    return (
        tagged.filter(
            ~F.col("line").startswith(">")
            & (F.trim("line") != "")
            & F.col("seq_id").isNotNull()
        )
        .groupBy("seq_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("idx"), F.col("line")))),
                    lambda s: F.trim(s.line),
                ),
                "",
            ).alias("sequence")
        )
    )


def parse_gff3(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Returns (features, sequences).

    features: seq_id, source, type, start, end, score, strand, phase,
              attributes map<string,array<string>>, line_idx
    sequences: seq_id, sequence (from the ``##FASTA`` tail; empty if none)
    """
    lines = _lines_with_index(spark, path).persist()
    fasta_row = (
        lines.filter(F.col("line") == "##FASTA").agg(F.min("idx").alias("i")).first()
    )
    fasta_start = fasta_row.i if fasta_row.i is not None else None

    feat_lines = lines.filter(~F.col("line").startswith("#") & (F.col("line") != ""))
    if fasta_start is not None:
        feat_lines = feat_lines.filter(F.col("idx") < fasta_start)

    from modware_loader_spark.functions.scalar import gff3_unescape

    c = F.split("line", "\t")
    nullable = lambda col: F.when(col == ".", None).otherwise(col)  # noqa: E731
    # split on raw ; = , FIRST (escaped separators are still %XX), then
    # percent-decode each value — Bio::GFF3::LowLevel order (gff3tochado.pm:10)
    attr_map = F.transform_values(
        F.str_to_map(F.coalesce(c[8], F.lit("")), F.lit(";"), F.lit("=")),
        lambda k, v: F.transform(F.split(v, ","), gff3_unescape),
    )
    features = feat_lines.select(
        c[0].alias("seq_id"),
        nullable(c[1]).alias("source"),
        c[2].alias("type"),
        c[3].cast("long").alias("start"),
        c[4].cast("long").alias("end"),
        nullable(c[5]).cast("double").alias("score"),
        nullable(c[6]).alias("strand"),
        nullable(c[7]).cast("int").alias("phase"),
        attr_map.alias("attributes"),
        F.col("idx").alias("line_idx"),
    )

    if fasta_start is None:
        sequences = local_frame(spark, [], "seq_id string, sequence string")
    else:
        tail = lines.filter(F.col("idx") > fasta_start)
        tagged = running_stitch(
            tail,
            lasts={
                "seq_id": F.when(
                    F.col("line").startswith(">"),
                    F.regexp_extract("line", r">(\S+)", 1),
                )
            },
        )
        sequences = (
            tagged.filter(~F.col("line").startswith(">") & (F.col("line") != ""))
            .groupBy("seq_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("idx"), F.col("line")))
                        ),
                        lambda s: s.line,
                    ),
                    "",
                ).alias("sequence")
            )
        )
    return features, sequences
