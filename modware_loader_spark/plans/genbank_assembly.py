"""gbassembly2chado: load a GenBank CONTIG-join assembly as contig/gap
features located on an already-loaded scaffold.

Reference: ``lib/Modware/Load/Command/gbassembly2chado.pm`` +
``lib/Modware/Loader/Genome/GenBank/Assembly.pm:292-474``: walk each
record's ``CONTIG join(...)`` left to right, keeping a running interbase
coordinate on the scaffold; each ``name.version:start..end`` element
becomes a ``contig`` feature (residues sliced from the scaffold sequence,
mod dbxref accession = prefix + counter, GFF_source:GenBank dbxref for
gmod bulk-loader compat, ``chado_dbxref`` :534-546) and each
``gap((unk)N)`` element a ``gap`` feature of explicit length. The first
element anchors the scale (``$3 - 1``); gaps may not lead.

Spark shape: the per-element cursor walk is a prefix sum of element
lengths over a window keyed by scaffold — the same running-coordinate
trick as the exon/intron plans; residue slicing is one join against the
scaffold feature row + ``substring``. The rows come out GFF3-shaped and
reuse ``ChadoGFF3Loader``'s staging/merge (same path gb2chado takes), so
all M1-M13 merge semantics apply unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from modware_loader_spark.operators.merge import generate_ids
from modware_loader_spark.plans.genbank_load import GenBankChadoLoader
from modware_loader_spark.sources.stitch import line_index, running_stitch

# Assembly.pm:161-177
CONTIG_RGX = r"^(\w+)\.(\d{1,2}):(\d+)\.\.(\d+)$"
GAP_RGX = r"^gap\((unk)?(\d+)\)$"


def parse_contig_joins(spark, path: str) -> DataFrame:
    """CONTIG sections → one row per join element:
    (locus, pos, element). Handles multi-record files and wrapped CONTIG
    continuation lines."""
    lines = line_index(spark, path)
    is_locus = F.col("line").startswith("LOCUS")
    # the current top-level keyword (column-0 word) carried forward over
    # continuation lines — chunked two-phase stitch, no global window
    tagged = running_stitch(
        lines,
        counts={"rec": is_locus},
        lasts={
            "kw": F.when(
                F.col("line").rlike(r"^\S"), F.regexp_extract("line", r"^(\S+)", 1)
            ),
            "locus": F.when(
                is_locus, F.regexp_extract("line", r"^LOCUS\s+(\S+)", 1)
            ),
        },
    ).filter((F.col("kw") == "CONTIG") & (F.col("rec") > 0))
    joined = tagged.groupBy("rec", "locus").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "line"))),
                lambda s: F.trim(F.regexp_replace(s.line, r"^CONTIG\s+", "")),
            ),
            "",
        ).alias("contig_str")
    )
    inner = F.regexp_extract("contig_str", r"join\((.+)\)", 1)
    return (
        joined.select("locus", F.posexplode(F.split(inner, ",")).alias("pos", "element"))
        .withColumn("element", F.trim("element"))
        .filter(F.col("element") != "")
    )


def assembly_to_gff3_rows(
    loader: GenBankChadoLoader,
    elements: DataFrame,
    source: str = "genbank:nucleotide",
    dbsource: str = "dictyBase",
) -> tuple[DataFrame, DataFrame]:
    """Join elements → (features, sequences) in ``parse_gff3`` shape.

    Elements that match neither regex are dropped (the reference warns
    "no matching contig or accession found" and skips).
    """
    num = lambda c: F.nullif(c, F.lit("")).cast("long")  # noqa: E731 — '' on no-match
    el = (
        elements.withColumn("c_name", F.regexp_extract("element", CONTIG_RGX, 1))
        .withColumn("c_ver", F.regexp_extract("element", CONTIG_RGX, 2))
        .withColumn("c_start", num(F.regexp_extract("element", CONTIG_RGX, 3)))
        .withColumn("c_end", num(F.regexp_extract("element", CONTIG_RGX, 4)))
        .withColumn("gap_len", num(F.regexp_extract("element", GAP_RGX, 2)))
        .filter((F.col("c_name") != "") | F.col("gap_len").isNotNull())
        .withColumn("is_gap", F.col("c_name") == "")
        .withColumn(
            "length",
            F.when(F.col("is_gap"), F.col("gap_len")).otherwise(
                F.col("c_end") - F.col("c_start") + 1
            ),
        )
    )
    w = Window.partitionBy("locus").orderBy("pos")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # the first element (a contig by the loader's stated assumption,
    # Assembly.pm:377-379) anchors the coordinate scale at start-1
    el = (
        el.withColumn("base", F.first("c_start").over(w) - 1)
        .withColumn("running_end", F.col("base") + F.sum("length").over(wcum))
        .withColumn("running_start", F.col("running_end") - F.col("length"))
    )
    # prefix+counter accession (next_feature_id), deterministic by
    # (locus, pos) ordinal — partition-offset ids, no global window
    el = generate_ids(
        el, ["locus", "pos"], id_col="acc", prefix=loader.id_prefix
    ).localCheckpoint()

    ident = F.when(F.col("is_gap"), F.col("acc")).otherwise(F.col("c_name"))
    features = el.select(
        F.col("locus").alias("seq_id"),
        F.lit(source).alias("source"),
        F.when(F.col("is_gap"), "gap").otherwise(F.lit("contig")).alias("type"),
        (F.col("running_start") + 1).alias("start"),
        F.col("running_end").alias("end"),
        F.lit(None).cast("double").alias("score"),
        F.lit(None).cast("string").alias("strand"),
        F.lit(None).cast("int").alias("phase"),
        F.map_from_arrays(
            F.array(F.lit("ID"), F.lit("Name"), F.lit("Dbxref")),
            F.array(
                F.array(ident),
                F.array(ident),
                F.array(
                    F.concat(F.lit(dbsource + ":"), F.col("acc")),
                    F.lit("GFF_source:GenBank"),
                ),
            ),
        ).alias("attributes"),
        F.col("pos").cast("long").alias("line_idx"),
    )

    # contig residues: slice the scaffold's stored sequence
    scaffold = loader.tables["feature"].filter(F.col("residues").isNotNull()).select(
        F.col("uniquename").alias("locus"), "residues"
    )
    sequences = (
        el.filter(~F.col("is_gap"))
        .join(scaffold, "locus")
        .select(
            F.col("c_name").alias("seq_id"),
            F.expr(
                "substring(residues, cast(running_start + 1 as int), cast(length as int))"
            ).alias("sequence"),
        )
    )
    return features, sequences


def load_assembly(
    loader: GenBankChadoLoader,
    path: str,
    source: str = "genbank:nucleotide",
    dbsource: str = "dictyBase",
) -> dict[str, int]:
    """Parse + stage + merge one assembly file into the loader's catalog."""
    elements = parse_contig_joins(loader.spark, path)
    features, sequences = assembly_to_gff3_rows(
        loader, elements, source=source, dbsource=dbsource
    )
    counts = loader._merge(loader._build_staging(features, sequences))
    # gaps carry an explicit seqlen (Assembly.pm:430-436) but no residues,
    # and the staging path derives seqlen only from residues — patch it in
    gap_lens = features.filter(F.col("type") == "gap").select(
        F.col("attributes")["ID"][0].alias("uniquename"),
        (F.col("end") - F.col("start") + 1).alias("__len"),
    )
    feat = loader.tables["feature"]
    loader.tables["feature"] = (
        feat.join(F.broadcast(gap_lens), "uniquename", "left")
        .withColumn("seqlen", F.coalesce("seqlen", "__len"))
        .drop("__len")
        .select(feat.columns)
        .localCheckpoint()
    )
    return counts
