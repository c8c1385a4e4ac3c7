"""dictyBase site-specific GFF3 export variants.

Reference commands (``lib/Modware/Export/Command/chado2dicty*.pm``) and
their reader/writer handler swaps:

- **canonical** (`chado2dictycanonicalgff3`): per gene keep mRNA/pseudogene
  transcripts whose GFF_source dbxref is ``dictyBase Curator``, falling
  back to ``Sequencing Center`` when a gene has none
  (``FeatureReader/Chado/Canonical/Dicty.pm:50-89``); pseudogene models are
  re-typed SO-compliantly (gene→pseudogene, transcript→
  pseudogenic_transcript, exon→pseudogenic_exon,
  ``FeatureWriter/GFF3/Canonical/Dicty.pm:33-98``); the gene row inherits
  its transcript's source (:71-74) and carries synonyms as Alias.
- **noncanonical** (`chado2dictynoncanonicalgff3`): the CANONICAL
  gene-centric walk restricted to one source (default ``Sequencing
  Center``) with the ``is_deleted`` column swap, written WITHOUT gene
  rows or transcript Parents (``FeatureReader/Chado/Canonical/Dicty.pm``
  reader + ``FeatureWriter/GFF3/NonCanonical/Dicty.pm`` writer).
- **noncanonical-v2** (`chado2dictynoncanonicalv2gff3`): standalone
  repredicted transcripts (no gene parent required — the
  ``NonCanonical::Dicty`` READER, default ``geneID reprediction``) with
  the ``is_deleted`` swap and the base-GFF3 writer (subfeatures carry
  Parent, rows carry Dbxref + their own source) — see
  ``dicty_noncanonical_v2_rows``.
- **noncoding** (`chado2dictynoncodinggff3`): gene models whose transcript
  type is one of the ncRNA family (``FeatureReader/Chado/NonCoding/
  Dicty.pm:20-27``), any source.
- **curated** (`chado2dictycuratedgff3`): transcript type LIKE %RNA% or
  pseudogene, source ``dictyBase Curator`` (``FeatureReader/Chado/Curated/
  Dicty.pm:54-70``).

Spark shape: the reference's per-gene fallback query pair (run once per
gene row) becomes ONE ranked selection — join transcripts to their
GFF_source, map source→priority, ``min(priority) over (partition by
gene)``, keep ties. Everything downstream (gene emission only for genes
with kept transcripts, retyping, exon/polypeptide descent) is joins over
the same keys the canonical export already shuffles on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from modware_loader_spark.plans.gff3_load import ChadoGFF3Loader

# FeatureReader/Chado/NonCoding/Dicty.pm:20-27
NONCODING_TYPES = [
    "snRNA", "class_I_RNA", "class_II_RNA", "C_D_box_snoRNA",
    "H_ACA_box_snoRNA", "SRP_RNA", "RNase_P_RNA", "RNAase_MRP_RNA",
    "snoRNA", "rRNA", "ncRNA", "tRNA", "antisense_RNA",
]

CANONICAL_PRIORITY = ("dictyBase Curator", "Sequencing Center")


def _type_names(loader):
    return F.broadcast(
        loader.chado.term_ids("sequence").select(
            F.col("cvterm_id").alias("type_id"), F.col("name").alias("type_name")
        )
    )


def _gff_sources(loader) -> DataFrame:
    """(feature_id, gff_source): each feature's GFF_source dbxref accession
    (the dicty convention for 'which pipeline predicted this')."""
    db_gff = loader.tables["db"].filter(F.col("name") == "GFF_source").select("db_id")
    links = (
        loader.tables["feature_dbxref"]
        .select("feature_id", "dbxref_id")
        # the GFF3 loader stores a feature's column-2 source as the
        # feature's OWN dbxref (gff3_load staging); the reference reads it
        # via secondary feature_dbxrefs — accept both link shapes
        .unionByName(
            loader.tables["feature"]
            .filter(F.col("dbxref_id").isNotNull())
            .select("feature_id", "dbxref_id")
        )
    )
    return (
        links.join(loader.tables["dbxref"], "dbxref_id")
        .join(F.broadcast(db_gff), "db_id", "left_semi")
        .select("feature_id", F.col("accession").alias("gff_source"))
        .distinct()
    )


def _gff_source_one(loader) -> DataFrame:
    """ONE GFF_source per feature (deterministic min accession) — for
    unconditioned source-attachment joins (exons/polypeptides), where a
    feature carrying two GFF_source dbxrefs must not duplicate its output
    row. The reference's ``->first`` picks an arbitrary one; min is the
    deterministic stand-in."""
    return (
        _gff_sources(loader)
        .groupBy("feature_id")
        .agg(F.min("gff_source").alias("gff_source"))
    )


def _live(df: DataFrame, deleted_col: str) -> DataFrame:
    """Rows whose deletion flag is unset/false (the is_obsolete→
    is_deleted column swap applies only when the catalog carries it)."""
    if deleted_col not in df.columns:
        return df
    return df.filter(
        ~F.coalesce(F.col(deleted_col).cast("boolean"), F.lit(False))
    )


def _located(loader) -> DataFrame:
    """feature ⋈ rank-0 featureloc ⋈ srcfeature name."""
    t = loader.tables
    floc = t["featureloc"].filter(F.col("rank") == 0)
    srcf = t["feature"].select(
        F.col("feature_id").alias("srcfeature_id"),
        F.col("uniquename").alias("seq_id"),
    )
    return (
        t["feature"]
        .join(floc, "feature_id")
        .join(srcf, "srcfeature_id")
        .join(_type_names(loader), "type_id", "left")
    )


def _rel_children(loader, rel_types: list[str]) -> DataFrame:
    """(object_id, subject_id) pairs for the given relationship types."""
    rel_ids = (
        loader.chado.term_ids("sequence")
        .filter(F.col("name").isin(rel_types))
        .select(F.col("cvterm_id").alias("type_id"))
    )
    return loader.tables["feature_relationship"].join(
        F.broadcast(rel_ids), "type_id", "left_semi"
    )


def _gff3_row(df: DataFrame, type_col, source_col, parent_col=None, extra=()) -> DataFrame:
    entries = [
        F.struct(F.lit("ID").alias("key"), F.array("uniquename").alias("value")),
        F.struct(
            F.lit("Name").alias("key"),
            F.when(F.col("name").isNotNull(), F.array("name")).alias("value"),
        ),
    ]
    if parent_col is not None:
        entries.append(
            F.struct(F.lit("Parent").alias("key"), F.array(parent_col).alias("value"))
        )
    entries.extend(extra)
    attr = F.map_from_entries(F.filter(F.array(*entries), lambda s: s.value.isNotNull()))
    return df.select(
        "seq_id",
        source_col.alias("source"),
        type_col.alias("type"),
        (F.col("fmin") + 1).alias("start"),
        F.col("fmax").alias("end"),
        F.lit(None).cast("double").alias("score"),
        "strand",
        F.lit(None).cast("int").alias("phase"),
        attr.alias("attributes"),
    )


def _gene_models(
    loader: ChadoGFF3Loader,
    transcripts: DataFrame,
    include_gene: bool = True,
    include_parent: bool = True,
    include_polypeptide: bool = True,
) -> DataFrame:
    """transcripts (located rows + gene_id/gene_uniquename/gff_source) →
    gene + transcript + exon + polypeptide GFF3 rows with dicty pseudogene
    re-typing.

    Writer parity notes (``FeatureWriter/GFF3/Canonical/Dicty.pm``):
    both its hash builders source every row from the feature's OWN
    GFF_source dbxref and carry secondary dbxrefs as ``Dbxref`` — so
    exons/polypeptides emit their own source here (not NULL) and every
    level gets its Dbxref attribute. ``include_parent=False`` is the
    NonCanonical v1 writer (``write_transcript`` deletes Parent and
    emits no gene row); ``include_polypeptide=False`` mirrors event
    wirings that never fire a polypeptide read."""
    located = _located(loader)
    is_pseudo = F.col("type_name") == "pseudogene"
    xrefs = _secondary_dbxrefs(loader)
    dbx_entry = [
        F.struct(F.lit("Dbxref").alias("key"), F.col("dbxrefs").alias("value"))
    ]

    trans_rows = _gff3_row(
        transcripts.join(xrefs, "feature_id", "left"),
        type_col=F.when(is_pseudo, "pseudogenic_transcript").otherwise(
            F.col("type_name")
        ),
        source_col=F.col("gff_source"),
        parent_col=F.col("gene_uniquename") if include_parent else None,
        extra=dbx_entry,
    )

    out = trans_rows

    if include_gene:
        # Alias = gene synonyms (uniq'd), write_transcript:69-71
        syns = (
            loader.tables["feature_synonym"]
            .join(
                loader.tables["synonym"].select(
                    "synonym_id", F.col("name").alias("syn")
                ),
                "synonym_id",
            )
            .groupBy("feature_id")
            .agg(F.array_sort(F.array_distinct(F.collect_list("syn"))).alias("aliases"))
        )
        gene_w = Window.partitionBy("gene_id").orderBy("uniquename")
        genes = (
            transcripts.withColumn(
                "__rn", F.row_number().over(gene_w)
            )  # one gene row per gene, typed/sourced by its first transcript
            .filter(F.col("__rn") == 1)
            .select(
                F.col("gene_id").alias("feature_id"),
                F.when(is_pseudo, "pseudogene").otherwise(F.lit("gene")).alias(
                    "__gtype"
                ),
                F.col("gff_source").alias("__gsource"),
            )
            .join(located.drop("type_name"), "feature_id")
            .join(syns, "feature_id", "left")
            .join(xrefs, "feature_id", "left")
        )
        gene_rows = _gff3_row(
            genes,
            type_col=F.col("__gtype"),
            source_col=F.col("__gsource"),
            extra=[
                F.struct(F.lit("Alias").alias("key"), F.col("aliases").alias("value")),
                *dbx_entry,
            ],
        )
        out = gene_rows.unionByName(out)

    # exons (exon | pseudogenic_exon) of kept transcripts, re-typed under
    # pseudogenes (write_exon:83-98); source = the exon's OWN GFF_source
    # (one per feature — see _gff_source_one)
    gff_src = _gff_source_one(loader)
    exon_edges = _rel_children(loader, ["part_of"]).select(
        F.col("object_id").alias("trans_id"), F.col("subject_id").alias("feature_id")
    )
    exons = (
        located.filter(F.col("type_name").isin("exon", "pseudogenic_exon"))
        .join(exon_edges, "feature_id")
        .join(
            transcripts.select(
                F.col("feature_id").alias("trans_id"),
                F.col("uniquename").alias("trans_uniquename"),
                is_pseudo.alias("__parent_pseudo"),
            ),
            "trans_id",
        )
        .join(gff_src, "feature_id", "left")
        .join(xrefs, "feature_id", "left")
    )
    exon_rows = _gff3_row(
        exons,
        type_col=F.when(F.col("__parent_pseudo"), "pseudogenic_exon").otherwise(
            F.col("type_name")
        ),
        source_col=F.col("gff_source"),
        parent_col=F.col("trans_uniquename"),
        extra=dbx_entry,
    )
    out = out.unionByName(exon_rows)

    if not include_polypeptide:
        return out

    # polypeptides derives_from kept transcripts
    poly_edges = _rel_children(loader, ["derives_from", "derived_from"]).select(
        F.col("object_id").alias("trans_id"), F.col("subject_id").alias("feature_id")
    )
    polys = (
        located.filter(F.col("type_name") == "polypeptide")
        .join(poly_edges, "feature_id")
        .join(
            transcripts.select(
                F.col("feature_id").alias("trans_id"),
                F.col("uniquename").alias("trans_uniquename"),
            ),
            "trans_id",
        )
        .join(gff_src, "feature_id", "left")
        .join(xrefs, "feature_id", "left")
    )
    poly_rows = _gff3_row(
        polys,
        type_col=F.col("type_name"),
        source_col=F.col("gff_source"),
        parent_col=F.col("trans_uniquename"),
        extra=dbx_entry,
    )
    return out.unionByName(poly_rows)


def _transcripts_of_genes(loader, type_filter) -> DataFrame:
    """located transcripts joined to their part_of gene parent + source."""
    located = _located(loader)
    genes = located.filter(F.col("type_name") == "gene").select(
        F.col("feature_id").alias("gene_id"),
        F.col("uniquename").alias("gene_uniquename"),
    )
    edges = _rel_children(loader, ["part_of"]).select(
        F.col("object_id").alias("gene_id"), F.col("subject_id").alias("feature_id")
    )
    return (
        located.filter(type_filter)
        .join(edges, "feature_id")
        .join(genes, "gene_id")
        .join(_gff_sources(loader), "feature_id", "left")
    )


def canonical_rows(loader: ChadoGFF3Loader) -> DataFrame:
    """chado2canonicalgff3 — the GENERIC canonical walk
    (``lib/Modware/Export/Command/chado2canonicalgff3.pm`` +
    ``FeatureReader/Chado/Canonical.pm:24-48``): gene models whose
    transcripts match ``%RNA`` (suffix — pseudogenes are NOT included
    here, unlike the dicty variant), any source, exons via part_of and
    polypeptides via derives_from."""
    kept = _transcripts_of_genes(loader, F.col("type_name").like("%RNA"))
    return _gene_models(loader, kept, include_gene=True)


def dicty_canonical_rows(
    loader: ChadoGFF3Loader,
    priority: tuple[str, ...] = CANONICAL_PRIORITY,
) -> DataFrame:
    """chado2dictycanonicalgff3: ranked source fallback per gene."""
    cand = _transcripts_of_genes(
        loader, F.col("type_name").isin("mRNA", "pseudogene")
    ).filter(F.col("gff_source").isin(list(priority)))
    rank_map = F.create_map(
        *[x for i, s in enumerate(priority) for x in (F.lit(s), F.lit(i))]
    )
    cand = cand.withColumn("__prio", F.element_at(rank_map, F.col("gff_source")))
    best = Window.partitionBy("gene_id")
    kept = (
        cand.withColumn("__best", F.min("__prio").over(best))
        .filter(F.col("__prio") == F.col("__best"))
        .drop("__prio", "__best")
    )
    return _gene_models(loader, kept, include_gene=True)


def dicty_noncanonical_rows(
    loader: ChadoGFF3Loader,
    source: str = "Sequencing Center",
    deleted_col: str = "is_deleted",
) -> DataFrame:
    """chado2dictynoncanonicalgff3 (reference
    ``Export/Command/chado2dictynoncanonicalgff3.pm:51-101``): the
    CANONICAL gene-centric walk restricted to one source — transcripts
    are (mRNA | pseudogene) children of genes whose GFF_source equals
    ``--source`` (default ``Sequencing Center``,
    ``FeatureReader/Chado/Canonical/Dicty.pm:29-48``), with the same
    ``is_obsolete``→``is_deleted`` column swap as v2 — but written by
    the NonCanonical writer: NO gene rows, NO ``Parent`` on transcripts
    (``FeatureWriter/GFF3/NonCanonical/Dicty.pm:12-30`` deletes it),
    pseudogene re-typing kept, exons written normally (Parent + own
    source), no polypeptides (the command wires no polypeptide event).
    """
    kept = _transcripts_of_genes(
        loader, F.col("type_name").isin("mRNA", "pseudogene")
    ).filter(F.col("gff_source") == source)
    if deleted_col in kept.columns:
        # the reader filters is_deleted on the gene query (read_gene:23)
        # AND the transcript query (read_transcript_by_source:39) — but
        # not on exons
        kept = _live(kept, deleted_col)
        live_genes = _live(loader.tables["feature"], deleted_col).select(
            F.col("feature_id").alias("gene_id")
        )
        kept = kept.join(live_genes, "gene_id", "left_semi")
    return _gene_models(
        loader,
        kept,
        include_gene=False,
        include_parent=False,
        include_polypeptide=False,
    )


def _secondary_dbxrefs(loader) -> DataFrame:
    """(feature_id, dbxrefs array<string>): secondary dbxrefs formatted
    ``db:accession`` with a leading ``DB:`` stripped from the db name and
    GFF_source links excluded — the base writer's Dbxref attribute
    (reference ``FeatureWriter/GFF3.pm:92-101``)."""
    dbs = loader.tables["db"].select("db_id", F.col("name").alias("db_name"))
    return (
        loader.tables["feature_dbxref"]
        .join(loader.tables["dbxref"], "dbxref_id")
        .join(F.broadcast(dbs), "db_id")
        .filter(F.col("db_name") != "GFF_source")
        .select(
            "feature_id",
            F.concat(
                F.regexp_replace("db_name", "^DB:", ""),
                F.lit(":"),
                F.col("accession"),
            ).alias("x"),
        )
        .groupBy("feature_id")
        .agg(F.array_sort(F.collect_list("x")).alias("dbxrefs"))
    )


def dicty_noncanonical_v2_rows(
    loader: ChadoGFF3Loader,
    source: str = "geneID reprediction",
    feature_type: str = "mRNA",
    subfeature_type: str = "exon",
    deleted_col: str = "is_deleted",
) -> DataFrame:
    """chado2dictynoncanonicalv2gff3 (reference
    ``Export/Command/chado2dictynoncanonicalv2gff3.pm:36-77``): the same
    standalone repredicted-transcript read as v1, with two differences:

    - the command swaps the Feature source's ``is_obsolete`` column for
      ``is_deleted`` (``:48-57``) — the repredicted models live in a
      schema whose deletion flag is named differently; applied here
      whenever the catalog's feature table carries the column (the
      in-memory GFF3 staging has no deletion flag, so it is a no-op
      there);
    - the writer is the BASE GFF3 hash
      (``FeatureWriter/GFF3/NonCanonical/DictyV2.pm:12-23`` →
      ``FeatureWriter/GFF3.pm:42-102``), not the Canonical::Dicty
      transcript writer: subfeatures DO carry ``Parent``, and every row
      carries its secondary ``Dbxref`` attributes and its own
      GFF_source as column 2 (v1 nulls the subfeature source).
    """
    located = _located(loader)
    xrefs = _secondary_dbxrefs(loader)
    gff_src = _gff_sources(loader)
    trans = (
        located.filter(F.col("type_name") == feature_type)
        .join(gff_src, "feature_id")
        .filter(F.col("gff_source") == source)
    )
    # the reader filters is_deleted on the FEATURE query only
    # (read_subfeature carries no such predicate) — scope it to trans
    trans = _live(trans, deleted_col)
    dbx_entry = [
        F.struct(F.lit("Dbxref").alias("key"), F.col("dbxrefs").alias("value"))
    ]
    trans_rows = _gff3_row(
        trans.join(xrefs, "feature_id", "left"),
        type_col=F.col("type_name"),
        source_col=F.col("gff_source"),
        extra=dbx_entry,
    )
    edges = _rel_children(loader, ["part_of"]).select(
        F.col("object_id").alias("trans_id"), F.col("subject_id").alias("feature_id")
    )
    subs = (
        located.filter(F.col("type_name") == subfeature_type)
        .join(edges, "feature_id")
        .join(
            trans.select(
                F.col("feature_id").alias("trans_id"),
                F.col("uniquename").alias("trans_uniquename"),
            ),
            "trans_id",
        )
        .join(_gff_source_one(loader), "feature_id", "left")
        .join(xrefs, "feature_id", "left")
    )
    sub_rows = _gff3_row(
        subs,
        type_col=F.col("type_name"),
        source_col=F.col("gff_source"),
        parent_col=F.col("trans_uniquename"),
        extra=dbx_entry,
    )
    return trans_rows.unionByName(sub_rows)


def dicty_noncoding_rows(loader: ChadoGFF3Loader) -> DataFrame:
    """chado2dictynoncodinggff3: ncRNA-family gene models, any source."""
    kept = _transcripts_of_genes(loader, F.col("type_name").isin(NONCODING_TYPES))
    return _gene_models(loader, kept, include_gene=True)


def dicty_curated_rows(
    loader: ChadoGFF3Loader, source: str = "dictyBase Curator"
) -> DataFrame:
    """chado2dictycuratedgff3: %RNA%-or-pseudogene transcripts of one
    curated source."""
    kept = _transcripts_of_genes(
        loader,
        F.col("type_name").like("%RNA%") | (F.col("type_name") == "pseudogene"),
    ).filter(F.col("gff_source") == source)
    return _gene_models(loader, kept, include_gene=True)
