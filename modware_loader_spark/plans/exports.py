"""Export pipelines: chado2gff3 (canonical hierarchy flattening) and
chado2fasta (spliced-sequence assembly).

The reference exports walk DBIC cursors through an event emitter with
per-row child queries (N+1; ``lib/Modware/EventEmitter/Feature/
Chado.pm:71-130``, readers E1-E5, ``lib/Modware/Export/Command/
chado2fasta.pm:380-465``). Here each export is one join DAG:

- chado2gff3: feature ⋈ featureloc(rank 0) ⋈ srcfeature ⋈ type ⋈
  source-dbxref, Parent attributes gathered with one
  groupBy-collect over feature_relationship — then ordered serialization
  (sinks.gff3). No per-feature queries, one shuffle per join key.
- spliced_sequences (E10): exons of each transcript ordered by fmin,
  per-exon ``substring`` on the reference residues, ordered concat via
  ``array_sort(collect_list(struct(fmin, piece)))``, reverse-complement
  for strand -1 — the trickiest string work of the reference, all
  JVM built-ins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modware_loader_spark.frames import local_frame
from modware_loader_spark.functions import reverse_complement
from modware_loader_spark.plans.gff3_load import ChadoGFF3Loader


def sequence_regions(loader: ChadoGFF3Loader) -> list[tuple[str, int, int]]:
    """``##sequence-region`` directives derived from the reference
    features (everything that serves as a srcfeature), spanning 1..seqlen
    (or the max fmax located on it when no residues were loaded)."""
    t = loader.tables
    spans = (
        t["featureloc"]
        .groupBy("srcfeature_id")
        .agg(F.max("fmax").alias("max_fmax"))
        .join(
            t["feature"].select(
                F.col("feature_id").alias("srcfeature_id"), "uniquename", "seqlen"
            ),
            "srcfeature_id",
        )
        .select(
            "uniquename",
            F.coalesce(F.col("seqlen"), F.col("max_fmax")).alias("hi"),
        )
        .orderBy("uniquename")
    )
    return [(r.uniquename, 1, int(r.hi)) for r in spans.collect()]


def chado2gff3_rows(loader: ChadoGFF3Loader) -> DataFrame:
    """Chado-shaped tables → GFF3-shaped rows (seq_id, source, type,
    start, end, score, strand, phase, attributes)."""
    t = loader.tables
    type_names = F.broadcast(
        loader.dims["cvterm"].select(
            F.col("cvterm_id").alias("type_id"), F.col("name").alias("type")
        )
    )
    src_names = F.broadcast(
        t["dbxref"].select(F.col("dbxref_id"), F.col("accession").alias("source"))
    )
    floc = t["featureloc"].filter(F.col("rank") == 0)
    srcf = t["feature"].select(
        F.col("feature_id").alias("srcfeature_id"), F.col("uniquename").alias("seq_id")
    )
    parents = (
        t["feature_relationship"]
        .join(
            t["feature"].select(
                F.col("feature_id").alias("object_id"),
                F.col("uniquename").alias("parent_name"),
            ),
            "object_id",
        )
        .groupBy(F.col("subject_id").alias("feature_id"))
        .agg(F.array_sort(F.collect_list("parent_name")).alias("parents"))
    )
    scores = t["analysisfeature"].groupBy("feature_id").agg(
        F.min("significance").alias("score")
    )
    out = (
        t["feature"]
        .join(floc, "feature_id")
        .join(srcf, "srcfeature_id")
        .join(type_names, "type_id", "left")
        .join(src_names, "dbxref_id", "left")
        .join(parents, "feature_id", "left")
        .join(scores, "feature_id", "left")
    )
    attr_entries = F.filter(
        F.array(
            F.struct(F.lit("ID").alias("key"), F.array("uniquename").alias("value")),
            F.struct(
                F.lit("Name").alias("key"),
                F.when(F.col("name").isNotNull(), F.array("name")).alias("value"),
            ),
            F.struct(F.lit("Parent").alias("key"), F.col("parents").alias("value")),
        ),
        lambda s: s.value.isNotNull(),
    )
    return out.select(
        "seq_id",
        "source",
        "type",
        (F.col("fmin") + 1).alias("start"),
        F.col("fmax").alias("end"),
        "score",
        "strand",
        "phase",
        F.map_from_entries(attr_entries).alias("attributes"),
    )


def spliced_sequences(
    loader: ChadoGFF3Loader,
    child_type: str = "exon",
) -> DataFrame:
    """E10: per-parent spliced sequence from ordered child segments.

    → (parent, strand, n_segments, spliced)
    """
    t = loader.tables
    cv = loader.dims["cvterm"]
    child_tid = F.broadcast(
        cv.filter((F.col("cv") == "sequence") & (F.col("name") == child_type)).select(
            F.col("cvterm_id").alias("type_id")
        )
    )
    children = t["feature"].join(child_tid, "type_id", "left_semi").select(
        F.col("feature_id").alias("subject_id")
    )
    parent_of = t["feature_relationship"].join(children, "subject_id").select(
        "subject_id", "object_id"
    )
    parent_names = t["feature"].select(
        F.col("feature_id").alias("object_id"), F.col("uniquename").alias("parent")
    )
    locs = t["featureloc"].filter(F.col("rank") == 0).select(
        F.col("feature_id").alias("subject_id"), "srcfeature_id", "fmin", "fmax", "strand"
    )
    # srcfeatures without residues can't contribute segments (the
    # reference skips them the same way — no sequence, no dump)
    residues = t["feature"].filter(F.col("residues").isNotNull()).select(
        F.col("feature_id").alias("srcfeature_id"), F.col("residues")
    )
    pieces = (
        parent_of.join(locs, "subject_id")
        .join(residues, "srcfeature_id")
        .join(F.broadcast(parent_names), "object_id")
        .withColumn(
            "piece",
            F.substring(F.col("residues"), (F.col("fmin") + 1).cast("int"),
                        (F.col("fmax") - F.col("fmin")).cast("int")),
        )
    )
    assembled = (
        pieces.groupBy("parent")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("fmin", "piece"))),
                    lambda s: s.piece,
                ),
                "",
            ).alias("fwd"),
            F.count(F.lit(1)).alias("n_segments"),
            F.min("strand").alias("strand"),
        )
    )
    return assembled.select(
        "parent",
        "strand",
        "n_segments",
        F.when(F.col("strand") == -1, reverse_complement(F.col("fwd")))
        .otherwise(F.col("fwd"))
        .alias("spliced"),
    )


def chado2alignment_rows(
    loader: ChadoGFF3Loader,
    feature_type: str,
    match_type: str | None = None,
    force_name: bool = False,
    add_description: bool = False,
    properties: tuple[str, ...] = (),
) -> DataFrame:
    """chado2alignmentgff3 equivalent: alignment features of
    ``feature_type`` → ``match_type`` rows + ``match_part`` children with
    Target/Gap attributes.

    Reference: ``lib/Modware/Export/Command/chado2alignmentgff3.pm`` with
    ``EventHandler/FeatureWriter/GFF3/Alignment.pm``:
    - parent: rank-0 featureloc on the reference, score =
      analysisfeature.significance, ID = uniquename, Name = name (or ID
      when ``force_name``), optional Note from the ``description``
      featureprop, extra ``properties`` as attributes (``:42-107``);
    - parts: part_of subjects, rank-0 loc, Target = parent id + the
      part's rank-1 (query) loc as ``fmin+1 fmax strand``
      (``write_subfeature``, ``:136-186``); Gap recovered from the
      ``Gap`` featureprop the loader staged.
    The reference's N+1 cursor walk becomes one join DAG: every lookup
    (type, loc, score, props) is a broadcast-able dim join.
    """
    t = loader.tables
    match_type = match_type or f"{feature_type}_match"
    cv = loader.dims["cvterm"]
    type_id_row = cv.filter(
        (F.col("name") == feature_type) & (F.col("cv") == "sequence")
    ).first()
    if type_id_row is None:
        return local_frame(
            loader.spark,
            [],
            "seq_id string, source string, type string, start long, end long, "
            "score double, strand int, phase int, "
            "attributes map<string,array<string>>",
        )
    prop_names = F.broadcast(
        cv.select(F.col("cvterm_id").alias("type_id"), F.col("name").alias("prop"))
    )

    fkey = t["feature"].select("feature_id", "uniquename", "name")
    src = t["feature"].select(
        F.col("feature_id").alias("srcfeature_id"),
        F.col("uniquename").alias("seq_id"),
    )
    loc0 = t["featureloc"].filter(F.col("rank") == 0)
    loc1 = t["featureloc"].filter(F.col("rank") == 1).select(
        "feature_id",
        (F.col("fmin") + 1).alias("t_start"),
        F.col("fmax").alias("t_end"),
        F.col("strand").alias("t_strand"),
    )
    score = t["analysisfeature"].groupBy("feature_id").agg(
        F.first("significance").alias("score")
    )
    props = t["featureprop"].join(prop_names, "type_id").select(
        "feature_id", "prop", "value"
    )

    def prop_attr(df: DataFrame, name: str, out: str) -> DataFrame:
        p = (
            props.filter(F.col("prop") == name)
            .groupBy("feature_id")
            .agg(F.first("value").alias(out))
        )
        return df.join(p, "feature_id", "left")

    parents = (
        t["feature"]
        .filter(F.col("type_id") == type_id_row.cvterm_id)
        .select("feature_id", "uniquename", "name")
        .join(loc0, "feature_id")
        .join(F.broadcast(src), "srcfeature_id")
        .join(score, "feature_id", "left")
    )
    parents = prop_attr(parents, "description", "descr")
    for extra in properties:
        parents = prop_attr(parents, extra, f"__p_{extra}")
    name_col = (
        F.coalesce(F.col("name"), F.col("uniquename"))
        if force_name
        else F.col("name")
    )
    attr_keys = [F.lit("ID"), F.lit("Name")]
    attr_vals = [
        F.array(F.col("uniquename")),
        F.when(name_col.isNotNull(), F.array(name_col)),
    ]
    if add_description:
        attr_keys.append(F.lit("Note"))
        attr_vals.append(F.when(F.col("descr").isNotNull(), F.array(F.col("descr"))))
    for extra in properties:
        attr_keys.append(F.lit(extra))
        attr_vals.append(
            F.when(F.col(f"__p_{extra}").isNotNull(), F.array(F.col(f"__p_{extra}")))
        )
    entries = F.filter(
        F.zip_with(
            F.array(*attr_keys),
            F.array(*attr_vals),
            lambda k, v: F.when(v.isNotNull(), F.struct(k.alias("key"), v.alias("value"))),
        ),
        lambda e: e.isNotNull(),
    )
    parent_rows = parents.select(
        "seq_id",
        F.lit("chado").alias("source"),
        F.lit(match_type).alias("type"),
        (F.col("fmin") + 1).alias("start"),
        F.col("fmax").alias("end"),
        F.col("score"),
        F.col("strand"),
        F.lit(None).cast("int").alias("phase"),
        F.map_from_entries(entries).alias("attributes"),
    )

    part_of = cv.filter(F.col("name") == "part_of").first()
    rels = t["feature_relationship"]
    if part_of is not None:
        rels = rels.filter(F.col("type_id") == part_of.cvterm_id)
    parts = (
        rels.join(
            parents.select(
                F.col("feature_id").alias("object_id"),
                F.col("uniquename").alias("parent_id"),
            ),
            "object_id",
        )
        .select(F.col("subject_id").alias("feature_id"), "parent_id")
        .join(fkey, "feature_id")
        .join(loc0, "feature_id")
        .join(F.broadcast(src), "srcfeature_id")
        .join(loc1, "feature_id", "left")
    )
    gap = (
        props.filter(F.col("prop") == "Gap")
        .groupBy("feature_id")
        .agg(F.first("value").alias("gap"))
    )
    parts = parts.join(gap, "feature_id", "left")
    target = F.concat_ws(
        " ",
        "parent_id",
        F.col("t_start").cast("string"),
        F.col("t_end").cast("string"),
        F.when(F.col("t_strand") == -1, "-").when(F.col("t_strand") == 1, "+"),
    )
    part_entries = F.filter(
        F.array(
            F.struct(F.lit("ID").alias("key"), F.array(F.col("uniquename")).alias("value")),
            F.struct(F.lit("Parent").alias("key"), F.array(F.col("parent_id")).alias("value")),
            F.when(
                F.col("t_start").isNotNull(),
                F.struct(F.lit("Target").alias("key"), F.array(target).alias("value")),
            ),
            F.when(
                F.col("gap").isNotNull(),
                F.struct(F.lit("Gap").alias("key"), F.array(F.col("gap")).alias("value")),
            ),
        ),
        lambda e: e.isNotNull(),
    )
    part_rows = parts.select(
        "seq_id",
        F.lit("chado").alias("source"),
        F.lit("match_part").alias("type"),
        (F.col("fmin") + 1).alias("start"),
        F.col("fmax").alias("end"),
        F.lit(None).cast("double").alias("score"),
        F.col("strand"),
        F.lit(None).cast("int").alias("phase"),
        F.map_from_entries(part_entries).alias("attributes"),
    )
    return parent_rows.unionByName(part_rows)
