"""gb2chado equivalent (S5 completion): GenBank record → GFF3-shaped
feature rows → the SAME staging/merge machinery as the GFF3 load.

Reference: ``lib/Modware/Loader/Genome/GenBank.pm:384-780`` —
``load_scaffold`` creates the reference feature (residues/md5/seqlen,
nuclear/mitochondrial featureprop, GenBank dbxref), then
``load_canonical_features`` walks the feature table with a FeatureStack:
each ``gene`` opens a stack, ``*RNA`` rows join it as transcripts, ``CDS``
rows as polypeptides; ``load_gene``/``load_transcript``/``load_exon``/
``load_polypeptide`` (``:531-780``) emit rows with part_of/derives_from
relationships, 0-based interbase featureloc, spliced/translated residues.
``load_mitochondrial_features`` (``:494-529``) additionally clones each
CDS as its mRNA.

Spark shape: the row-at-a-time FeatureStack becomes window functions over
the feature ordinal — "current gene" is a running ``last`` over document
order, transcript/CDS pairing is a per-gene ``row_number`` (the
reference's ``feature_position``). Everything lands in the GFF3 loader's
staging DataFrames, so the merge (M1/M5/M11/M13), golden-count contract
and catalog persistence are shared code, not a parallel pipeline.

Deliberate deviations (documented):
- accessions come from deterministic ordinals, not ``nextval`` (same
  M13 treatment as the GFF3 loader);
- exon uniquenames are ``<transcript>.e<N>`` instead of ``auto<seq>``
  (deterministic; the reference's are sequence-dependent anyway).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modware_loader_spark.plans.gff3_load import ChadoGFF3Loader
from modware_loader_spark.sources.genbank import parse_genbank
from modware_loader_spark.sources.stitch import running_stitch


# MOD registry db aliases (lib/Modware/MOD/Registry.pm:10-16 via
# GenBank.pm:855-885): qualifier db prefixes normalize before the dbxref
# find-or-create. The reference's canonical names carry a literal 'DB:'
# prefix that its own GFF3 writers strip on export
# (FeatureWriter/GFF3/Canonical/Dicty.pm:139-141); we store the stripped
# form directly.
DB_ALIASES = {"GI": "NCBI_gi", "DB:GI": "NCBI_gi", "protein_id": "NCBI_GP"}


def _normalize_xrefs(col: F.Column) -> F.Column:
    """array<'db:acc'> → alias-normalized array (null-safe)."""
    import re

    def _sub(pat: str, repl: str):
        # factory keeps the lambda unary — pyspark maps every declared
        # parameter (defaults included) to a higher-order-function slot
        return lambda x: F.regexp_replace(x, pat, repl)

    out = col
    for src, dst in DB_ALIASES.items():
        out = F.transform(out, _sub(f"^{re.escape(src)}:", dst + ":"))
    return out


def _revcomp(col):
    return F.translate(F.reverse(col), "ACGTacgt", "TGCAtgca")


def _attrs(**kv) -> F.Column:
    """attributes map<string,array<string>> from key → Column-of-string
    (wrapped) or Column-of-array entries; null values dropped."""
    entries = []
    for k, v in kv.items():
        entries.append(
            F.when(v.isNotNull(), F.struct(F.lit(k).alias("key"), v.alias("value")))
        )
    return F.map_from_entries(
        F.filter(F.array(*entries), lambda e: e.isNotNull())
    )


def genbank_to_gff3_rows(
    parsed: dict,
    reference_type: str = "supercontig",
    id_prefix: str = "GB",
    mitochondrial: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(features, sequences) shaped exactly like ``parse_gff3`` output, so
    ``ChadoGFF3Loader._build_staging`` consumes them unchanged."""
    meta = parsed["metadata"]
    locus = meta.get("locus_name", "unknown")
    seqlen = int(meta.get("seq_length", 0) or 0)
    feats = parsed["features"]
    spark = feats.sparkSession
    scaffold_seq = parsed["sequence"]

    genome_prop = "mitochondrial_DNA" if mitochondrial else "nuclear_sequence"
    arr = lambda c: F.array(c)  # noqa: E731
    sarr = lambda s: F.array(F.lit(s))  # noqa: E731

    # --- scaffold (load_scaffold, :384-447) -------------------------------
    # seq_id is blank: the reference creates NO featureloc for the scaffold
    # itself, and the loader's srcfeature-resolution inner join drops
    # featureloc rows whose seqid matches no feature.
    scaffold = spark.range(1).select(
        F.lit("").alias("seq_id"),
        F.lit("genbank").alias("source"),
        F.lit(reference_type).alias("type"),
        F.lit(1).cast("long").alias("start"),
        F.lit(seqlen).cast("long").alias("end"),
        F.lit(None).cast("double").alias("score"),
        F.lit(None).cast("string").alias("strand"),
        F.lit(None).cast("int").alias("phase"),
        _attrs(
            ID=sarr(locus),
            Name=sarr(locus),
            Dbxref=sarr(f"GenBank:{locus}"),
            **{genome_prop: sarr("1")},
        ).alias("attributes"),
        F.lit(0).cast("long").alias("line_idx"),
    )

    # --- the FeatureStack as running carries ------------------------------
    # (chunked two-phase stitch over the feat_id order — no
    # single-partition window even for a scaffold-sized FEATURES table)
    q = F.col("qualifiers")
    first_q = lambda key: F.element_at(q, key).getItem(0)  # noqa: E731
    is_gene = F.col("feature_key") == "gene"
    is_rna = F.col("feature_key").rlike("RNA$")
    is_cds = F.col("feature_key") == "CDS"

    body = (
        running_stitch(
            feats.filter(is_gene | is_rna | is_cds),
            lasts={
                # gene uniquename: locus_tag else gene tag (load_gene :535-549)
                "gene_uq": F.when(
                    is_gene, F.coalesce(first_q("locus_tag"), first_q("gene"))
                ),
                "gene_name": F.when(
                    is_gene, F.coalesce(first_q("gene"), first_q("locus_tag"))
                ),
                "gene_strand": F.when(is_gene, F.col("strand")),
            },
            idx_col="feat_id",
        )
        .filter(F.col("gene_uq").isNotNull())
        .localCheckpoint()
    )

    strand_str = lambda c: F.when(c == -1, "-").otherwise("+")  # noqa: E731

    genes = body.filter(is_gene).select(
        F.lit(locus).alias("seq_id"),
        F.lit("genbank").alias("source"),
        F.lit("gene").alias("type"),
        "start",
        "end",
        F.lit(None).cast("double").alias("score"),
        strand_str(F.col("strand")).alias("strand"),
        F.lit(None).cast("int").alias("phase"),
        _attrs(
            ID=arr(F.col("gene_uq")),
            Name=arr(F.col("gene_name")),
            Parent=arr(F.lit(locus)),
            Dbxref=_normalize_xrefs(F.element_at(q, "db_xref")),
            note=F.element_at(q, "note"),
        ).alias("attributes"),
        F.col("feat_id").alias("line_idx"),
    )

    # transcripts: mito mode clones each CDS as its mRNA (:494-529)
    if mitochondrial:
        raw_tr = body.filter(is_cds).withColumn(
            "feature_key", F.lit("mRNA")
        ).withColumn("strand", F.col("gene_strand"))
    else:
        raw_tr = body.filter(is_rna)
    w_tr = Window.partitionBy("gene_uq").orderBy("feat_id")
    transcripts = raw_tr.withColumn("tpos", F.row_number().over(w_tr) - 1).withColumn(
        # locus_tag.tNN else deterministic accession (:609-616)
        "tr_uq",
        F.when(
            first_q("locus_tag").isNotNull(),
            F.concat(
                first_q("locus_tag"), F.lit(".t"), F.format_string("%02d", F.col("tpos"))
            ),
        ).otherwise(F.concat(F.lit(id_prefix), F.col("feat_id"))),
    ).localCheckpoint()

    tr_rows = transcripts.select(
        F.lit(locus).alias("seq_id"),
        F.lit("genbank").alias("source"),
        F.col("feature_key").alias("type"),
        "start",
        "end",
        F.lit(None).cast("double").alias("score"),
        strand_str(F.col("strand")).alias("strand"),
        F.lit(None).cast("int").alias("phase"),
        _attrs(
            ID=arr(F.col("tr_uq")),
            Name=arr(F.col("tr_uq")),
            Parent=arr(F.col("gene_uq")),
            Dbxref=_normalize_xrefs(F.element_at(q, "db_xref")),
            note=F.element_at(q, "note"),
            product=F.element_at(q, "product"),
        ).alias("attributes"),
        F.col("feat_id").alias("line_idx"),
    )

    # exons: one per location segment of the transcript (:676-731)
    segs = transcripts.select(
        "tr_uq",
        "strand",
        "feat_id",
        F.posexplode(
            F.regexp_extract_all(
                F.col("location"), F.lit(r"(\d+\.\.\d+|\d+)"), 1
            )
        ).alias("seg_n", "seg"),
    ).select(
        "tr_uq",
        "strand",
        "feat_id",
        "seg_n",
        F.split("seg", r"\.\.").getItem(0).cast("long").alias("seg_start"),
        F.coalesce(
            F.split("seg", r"\.\.").getItem(1).cast("long"),
            F.split("seg", r"\.\.").getItem(0).cast("long"),
        ).alias("seg_end"),
    )
    exon_rows = segs.select(
        F.lit(locus).alias("seq_id"),
        F.lit("genbank").alias("source"),
        F.lit("exon").alias("type"),
        F.col("seg_start").alias("start"),
        F.col("seg_end").alias("end"),
        F.lit(None).cast("double").alias("score"),
        strand_str(F.col("strand")).alias("strand"),
        F.lit(None).cast("int").alias("phase"),
        _attrs(
            ID=arr(F.concat(F.col("tr_uq"), F.lit(".e"), F.col("seg_n"))),
            Parent=arr(F.col("tr_uq")),
        ).alias("attributes"),
        (F.col("feat_id") * 100 + F.col("seg_n")).alias("line_idx"),
    )

    # polypeptides: CDS at position i pairs with transcript i (:692-704,
    # feature_position) — derives_from, translation residues (:723-741)
    w_cds = Window.partitionBy("gene_uq").orderBy("feat_id")
    polys = (
        body.filter(is_cds)
        .withColumn("ppos", F.row_number().over(w_cds) - 1)
        .withColumn(
            "pp_uq",
            F.when(
                first_q("locus_tag").isNotNull(),
                F.concat(
                    first_q("locus_tag"), F.lit(".p"),
                    F.format_string("%02d", F.col("ppos")),
                ),
            ).otherwise(F.concat(F.lit(id_prefix), F.lit("P"), F.col("feat_id"))),
        )
        .join(
            transcripts.select("gene_uq", F.col("tpos").alias("ppos"), "tr_uq"),
            ["gene_uq", "ppos"],
            "left",
        )
        .localCheckpoint()
    )
    # blank seq_id: the reference's load_polypeptide sets NO featureloc
    # (:723-780 — location is inferred from the CDS at export time)
    poly_rows = polys.select(
        F.lit("").alias("seq_id"),
        F.lit("genbank").alias("source"),
        F.lit("polypeptide").alias("type"),
        "start",
        "end",
        F.lit(None).cast("double").alias("score"),
        strand_str(F.col("strand")).alias("strand"),
        F.lit(None).cast("int").alias("phase"),
        _attrs(
            ID=arr(F.col("pp_uq")),
            Name=arr(F.col("pp_uq")),
            Derives_from=arr(F.coalesce(F.col("tr_uq"), F.col("gene_uq"))),
            Dbxref=_normalize_xrefs(F.element_at(q, "db_xref")),
            product=F.element_at(q, "product"),
            protein_id=F.element_at(q, "protein_id"),
        ).alias("attributes"),
        (F.col("feat_id") * 100 + 99).alias("line_idx"),
    )

    features_out = (
        scaffold.unionByName(genes)
        .unionByName(tr_rows)
        .unionByName(exon_rows)
        .unionByName(poly_rows)
    )

    # --- residues (sequences DF keyed by feature id) ----------------------
    scaffold_named = scaffold_seq.select(
        F.lit(locus).alias("seq_id"), F.col("sequence")
    )
    # Chunked slicing (VERDICT r05 item 6): the scaffold string is split
    # ONCE into fixed-size chunks and each interval equi-joins only the
    # chunk numbers it overlaps — the whole-scaffold string is never
    # broadcast, so a chromosome-scale scaffold no longer replicates
    # ~100 MB per task (the chunked shape ``sources/stitch.py``
    # established for parsers, applied to residue slicing).
    CHUNK = 65536
    chunks = scaffold_named.select(
        F.posexplode(
            F.expr(f"regexp_extract_all(sequence, '.{{1,{CHUNK}}}', 0)")
        ).alias("__chunk_no", "__chunk")
    )

    def chunk_sliced(intervals, start_col, end_col, group_cols, order_cols):
        """Concat of substring pieces per group, ordered by
        (*order_cols, chunk_no) — identical bytes to slicing the whole
        string, without shipping it whole."""
        lo = F.floor((F.col(start_col) - 1) / CHUNK).cast("int")
        hi = F.floor((F.col(end_col) - 1) / CHUNK).cast("int")
        return (
            intervals.withColumn("__chunk_no", F.explode(F.sequence(lo, hi)))
            .join(chunks, "__chunk_no")
            .withColumn(
                "__piece",
                F.expr(
                    f"substring(__chunk, greatest({start_col} - __chunk_no * {CHUNK}L, 1), "
                    f"least({end_col} - __chunk_no * {CHUNK}L, {CHUNK}) "
                    f"- greatest({start_col} - __chunk_no * {CHUNK}L, 1) + 1)"
                ),
            )
            .groupBy(*group_cols)
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    *order_cols,
                                    "__chunk_no",
                                    F.col("__piece").alias("piece"),
                                )
                            )
                        ),
                        lambda s: s.piece,
                    ),
                    "",
                ).alias("__joined")
            )
        )

    gene_seq = chunk_sliced(
        body.filter(is_gene).select("gene_uq", "start", "end", "strand"),
        "start", "end", ["gene_uq", "strand"], [],
    ).select(
        F.col("gene_uq").alias("seq_id"),
        F.when(F.col("strand") == -1, _revcomp(F.col("__joined")))
        .otherwise(F.col("__joined"))
        .alias("sequence"),
    )
    # transcript spliced seq: ordered segment substrings concatenated,
    # revcomp on minus strand (BioPerl spliced_seq, :633-637)
    tr_seq = chunk_sliced(
        segs.select("tr_uq", "strand", "seg_n", "seg_start", "seg_end"),
        "seg_start", "seg_end", ["tr_uq", "strand"], ["seg_n"],
    ).select(
        F.col("tr_uq").alias("seq_id"),
        F.when(F.col("strand") == -1, _revcomp(F.col("__joined")))
        .otherwise(F.col("__joined"))
        .alias("sequence"),
    )
    poly_seq = polys.filter(
        F.element_at(q, "translation").isNotNull()
    ).select(
        F.col("pp_uq").alias("seq_id"),
        F.regexp_replace(first_q("translation"), r"\s+", "").alias("sequence"),
    )
    sequences_out = (
        scaffold_named.unionByName(gene_seq)
        .unionByName(tr_seq)
        .unionByName(poly_seq)
    )
    return features_out, sequences_out


class GenBankChadoLoader(ChadoGFF3Loader):
    """gb2chado / gbassembly2chado: the GFF3 loader with GenBank row
    shaping — the staging/merge/catalog machinery is shared, only the row
    shaping is GenBank-specific."""

    def __init__(
        self,
        spark: SparkSession,
        organism_id: int = 1,
        reference_type: str = "supercontig",
        id_prefix: str = "GB",
        mitochondrial: bool = False,
    ):
        super().__init__(spark, organism_id=organism_id)
        self.reference_type = reference_type
        self.id_prefix = id_prefix
        self.mitochondrial = mitochondrial

    def load_file(self, path: str) -> dict[str, int]:
        parsed = parse_genbank(self.spark, path)
        features, sequences = genbank_to_gff3_rows(
            parsed,
            reference_type=self.reference_type,
            id_prefix=self.id_prefix,
            mitochondrial=self.mitochondrial,
        )
        return self._merge(self._build_staging(features, sequences))
