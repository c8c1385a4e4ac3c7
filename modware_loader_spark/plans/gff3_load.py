"""gff3tochado equivalent: GFF3 → staging DataFrames → set-operation merge
into a Chado-shaped catalog — the reference's end-to-end load pipeline
(``lib/Modware/Load/Command/gff3tochado.pm`` steps 3-6; merge SQL in
``share/postgresql_gff3.lib``) re-expressed as one lazy Catalyst DAG per
statement, executed in the reference's fixed statement order (FK-correct
ordering preserved, ``lib/Modware/Loader/GFF3/Chado/Postgresql.pm:8-24``).

Row-shaping semantics mirror
``lib/Modware/Loader/Role/WithChadoGFF3Helper.pm``:
- feature rows: ID attr or deterministic ``auto<N>`` uniquename
  (``:344-368``; our N is a row_number over line order, not nextval — same
  uniqueness contract, reproducible),
- 1-based GFF3 start → 0-based interbase fmin (``:328-342``),
- strand '+'/'-' → 1/-1, '.' → NULL (``:336-338``),
- Target attr rows fan out into target-feature + alignment-feature +
  rank-0 featureloc + rank-1 target featureloc (``:92-163``),
- Note/Gap + lowercase attrs → featureprop (``:190-239``),
- Parent/Derives_from → feature_relationship, Parent wins (``:241-271``),
- Dbxref DB:ACC split via normalize_id (``WithChadoHelper.pm:131-155``),
- FASTA tail → residues/md5/seqlen on the reference features (``:166-175``).

Merge statements (M1/M5/M11/M12 patterns; golden counts
``t/lib/ChadoGFF3.pm:120-162``):
- temp_new_feature_ids: staging anti-join live on uniquename
- new_feature: staging ⟕ featureseq ⋈ new_ids (+ surrogate ids)
- new_featureloc / _target: resolve (uniquename, seqid) → feature ids
- new_synonym: DISTINCT + anti-join on (name, type_id)
- new_dbxref: row_number-dedup by accession
- dependent tables join through the freshly-updated live feature table

Scale: dims (db, cvterm, analysis) are broadcast-sized; every fact merge
shuffles once on uniquename. Each statement's new rows go onto the live
table through ``operators.merge.append``/``find_or_create``: materialized
once, counted from that materialization, with lineage bounded across
incremental loads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modware_loader_spark.frames import local_frame
from modware_loader_spark.operators.merge import append, find_or_create, new_keys
from modware_loader_spark.sources.gff3 import parse_gff3
from modware_loader_spark.sources.stitch import running_stitch

EMPTY_SCHEMAS = {
    "feature": (
        "feature_id long, uniquename string, name string, type_id long, "
        "organism_id long, dbxref_id long, residues string, md5checksum string, "
        "seqlen long"
    ),
    "featureloc": (
        "feature_id long, srcfeature_id long, fmin long, fmax long, "
        "strand int, phase int, rank int"
    ),
    "analysisfeature": "feature_id long, significance double, analysis_id long",
    "synonym": "synonym_id long, name string, type_id long, synonym_sgml string",
    "feature_synonym": "feature_id long, synonym_id long, pub_id long",
    "feature_relationship": "object_id long, subject_id long, type_id long",
    "dbxref": "dbxref_id long, accession string, db_id long",
    "feature_dbxref": "dbxref_id long, feature_id long",
    "featureprop": "feature_id long, value string, type_id long",
}

DIM_SCHEMAS = {
    "db": "db_id long, name string",
    "cvterm": "cvterm_id long, name string, cv string",
    "analysis": "analysis_id long, program string, programversion string",
}


class ChadoGFF3Loader:
    """Stateful loader over an in-memory Chado catalog (parquet/JDBC in
    production — the merge plans are identical)."""

    def __init__(self, spark: SparkSession, organism_id: int = 1, target_type: str = "EST"):
        self.spark = spark
        self.organism_id = organism_id
        self.target_type = target_type
        self.synonym_pub_id = 1
        self._auto_counter = 0
        self.tables = {
            name: local_frame(spark, [], schema) for name, schema in EMPTY_SCHEMAS.items()
        }
        self.dims = {
            name: local_frame(spark, [], schema) for name, schema in DIM_SCHEMAS.items()
        }

    def load_file(self, path: str) -> dict[str, int]:
        features, sequences = parse_gff3(self.spark, path)
        staging = self._build_staging(features, sequences)
        return self._merge(staging)

    # ------------------------------------------------------------------
    def _build_staging(self, features: DataFrame, sequences: DataFrame) -> dict[str, DataFrame]:
        attrs = F.col("attributes")
        has_id = attrs["ID"].isNotNull()
        # dense auto-numbering of ID-less rows in line order, via the
        # chunked two-phase running count (no single-partition window —
        # same machinery as the record parsers, sources/stitch.py).
        # Checkpointed, not persisted: AQE sizes a checkpoint's output
        # partitions but never a cached plan's, and every staging frame
        # and merge statement below inherits this partitioning.
        feats = (
            running_stitch(
                features, counts={"__auto_cnt": ~has_id}, idx_col="line_idx"
            )
            .withColumn("__auto_rn", F.when(~has_id, F.col("__auto_cnt")))
            .drop("__auto_cnt")
            .withColumn(
                "fid",
                F.when(has_id, attrs["ID"][0]).otherwise(
                    F.concat(F.lit("auto"), (F.col("__auto_rn") + self._auto_counter))
                ),
            )
            .withColumn("fname", attrs["Name"][0])
            .localCheckpoint()
        )
        self._auto_counter += feats.filter(~has_id).count()

        is_target = attrs["Target"].isNotNull()
        plain = feats.filter(~is_target)
        target = feats.filter(is_target).withColumn(
            "tp", F.split(F.trim(attrs["Target"][0]), r"\s+")
        )

        strand_int = (
            F.when(F.col("strand").isNull(), None)
            .when(F.col("strand") == "+", 1)
            .otherwise(-1)
            .cast("int")
        )

        # temp_feature (ord gives deterministic surrogate-id order)
        st_feature = (
            plain.select(
                F.col("fid").alias("id"),
                F.col("fname").alias("name"),
                F.col("type"),
                F.col("source"),
                (F.col("line_idx") * 2 + 1).alias("ord"),
            )
            .unionByName(
                target.select(
                    F.col("tp")[0].alias("id"),
                    F.lit(None).cast("string").alias("name"),
                    F.lit(self.target_type).alias("type"),
                    F.col("source"),
                    (F.col("line_idx") * 2).alias("ord"),
                )
            )
            .unionByName(
                target.select(
                    F.col("fid").alias("id"),
                    F.col("fname").alias("name"),
                    F.col("type"),
                    F.col("source"),
                    (F.col("line_idx") * 2 + 1).alias("ord"),
                )
            )
        )

        both = plain.unionByName(target.drop("tp"))
        st_featureloc = both.select(
            F.col("fid").alias("id"),
            F.col("seq_id").alias("seqid"),
            (F.col("start") - 1).alias("start"),
            F.col("end").alias("stop"),
            strand_int.alias("strand"),
            F.col("phase"),
        )
        st_featureloc_target = target.select(
            F.col("fid").alias("id"),
            F.col("tp")[0].alias("seqid"),
            (F.col("tp")[1].cast("long") - 1).alias("start"),
            F.col("tp")[2].cast("long").alias("stop"),
            F.when(F.size("tp") == 4, F.when(F.col("tp")[3] == "+", 1).otherwise(-1))
            .cast("int")
            .alias("strand"),
            F.lit(1).alias("rank"),
            F.lit(None).cast("int").alias("phase"),
        )
        st_analysisfeature = both.filter(F.col("score").isNotNull()).select(
            F.col("fid").alias("id"),
            F.col("score"),
            F.concat_ws("-", F.coalesce(F.col("source"), F.lit("auto")), F.col("type")).alias(
                "program"
            ),
        )
        st_feature_synonym = plain.select(
            F.col("fid").alias("id"), F.explode(attrs["Alias"]).alias("alias")
        )
        rel_parent = both.filter(attrs["Parent"].isNotNull()).select(
            F.col("fid").alias("id"),
            F.explode(attrs["Parent"]).alias("parent_id"),
            F.lit("part_of").alias("rel_type"),
        )
        rel_derives = (
            both.filter(attrs["Parent"].isNull() & attrs["Derives_from"].isNotNull())
            .select(
                F.col("fid").alias("id"),
                F.explode(attrs["Derives_from"]).alias("parent_id"),
                F.lit("derives_from").alias("rel_type"),
            )
        )
        st_feature_relationship = rel_parent.unionByName(rel_derives)

        xref = plain.select(F.col("fid").alias("id"), F.explode(attrs["Dbxref"]).alias("x"))
        has_pfx = F.instr(F.col("x"), ":") > 0
        st_feature_dbxref = xref.select(
            "id",
            F.when(has_pfx, F.substring_index("x", ":", -1)).otherwise(F.col("x")).alias(
                "dbxref"
            ),
            F.when(has_pfx, F.substring_index("x", ":", 1)).otherwise(F.lit("internal")).alias(
                "db"
            ),
        )

        kv = both.select(
            F.col("fid").alias("id"), F.explode(attrs).alias("key", "values")
        )
        st_featureprop = (
            kv.filter(
                F.col("key").isin("Note", "Gap") | ~F.col("key").rlike("^[A-Z]")
            )
            .select("id", F.col("key").alias("prop_type"), F.explode("values").alias("property"))
        )

        st_featureseq = sequences.select(
            F.col("seq_id").alias("id"),
            F.col("sequence").alias("residue"),
            F.md5("sequence").alias("md5"),
            F.length("sequence").alias("seqlen"),
        )
        staging = {
            "feature": st_feature,
            "featureseq": st_featureseq,
            "featureloc": st_featureloc,
            "featureloc_target": st_featureloc_target,
            "analysisfeature": st_analysisfeature,
            "feature_synonym": st_feature_synonym,
            "feature_relationship": st_feature_relationship,
            "feature_dbxref": st_feature_dbxref,
            "featureprop": st_featureprop,
        }
        return {k: v.localCheckpoint() for k, v in staging.items()}

    # ------------------------------------------------------------------
    def _merge(self, st: dict[str, DataFrame]) -> dict[str, int]:
        counts: dict[str, int] = {}
        feature = self.tables["feature"]

        # dims: db / dbxref for sources, cvterms for types+props+synonym type
        sources = st["feature"].select(F.col("source").alias("accession")).filter(
            F.col("accession").isNotNull()
        ).distinct()
        dbs = (
            st["feature_dbxref"].select(F.col("db").alias("name")).distinct()
            .unionByName(local_frame(self.spark, ["GFF_source", "local", "internal"], "name string"))
        )
        self.dims["db"], _ = find_or_create(self.dims["db"], dbs.distinct(), ["name"], "db_id")
        db_dim = F.broadcast(self.dims["db"])
        # source dbxrefs are find-or-created into live dbxref at staging time
        src_rows = sources.join(
            db_dim.filter(F.col("name") == "GFF_source").select("db_id"), how="cross"
        )
        self.tables["dbxref"], _ = find_or_create(
            self.tables["dbxref"], src_rows.select("db_id", "accession"),
            ["db_id", "accession"], "dbxref_id",
        )

        type_terms = (
            st["feature"].select(F.col("type").alias("name")).distinct()
            .withColumn("cv", F.lit("sequence"))
            .unionByName(
                local_frame(
                    self.spark,
                    [("part_of", "sequence"), ("derives_from", "sequence"),
                     ("symbol", "synonym_type")],
                    "name string, cv string",
                )
            )
            .unionByName(
                st["featureprop"].select(F.col("prop_type").alias("name")).distinct()
                .withColumn("cv", F.lit("feature_property"))
            )
        )
        self.dims["cvterm"], _ = find_or_create(
            self.dims["cvterm"], type_terms, ["cv", "name"], "cvterm_id"
        )
        cvterm_dim = F.broadcast(self.dims["cvterm"])
        seq_terms = cvterm_dim.filter(F.col("cv") == "sequence").select(
            F.col("name").alias("type"), F.col("cvterm_id").alias("type_id")
        )
        prop_terms = cvterm_dim.filter(F.col("cv") == "feature_property").select(
            F.col("name").alias("prop_type"), F.col("cvterm_id").alias("prop_type_id")
        )
        synonym_type_id = (
            cvterm_dim.filter((F.col("cv") == "synonym_type") & (F.col("name") == "symbol"))
            .first()
            .cvterm_id
        )
        self.dims["analysis"], _ = find_or_create(
            self.dims["analysis"],
            st["analysisfeature"].select("program").distinct().withColumn(
                "programversion", F.lit("1.0")
            ),
            ["program"],
            "analysis_id",
        )
        analysis_dim = F.broadcast(self.dims["analysis"])

        # [insert_temp_new_feature_ids] — M1 anti-join on uniquename
        new_ids = new_keys(
            st["feature"].select("id", "ord"),
            feature.select(F.col("uniquename").alias("id")),
            ["id"],
        ).localCheckpoint()
        counts["temp_new_feature"] = new_ids.count()

        # [insert_new_feature] — staging ⟕ featureseq ⋈ new_ids, surrogate ids
        src_xref = F.broadcast(
            self.dims_dbxref_for_sources(db_dim)
        )
        new_feature = (
            st["feature"]
            .join(new_ids.select("id"), "id")
            .join(F.broadcast(seq_terms), "type", "left")
            .join(src_xref, st["feature"].source == src_xref.src_accession, "left")
            .join(st["featureseq"], "id", "left")
            .select(
                "ord",
                F.col("id").alias("uniquename"),
                "name",
                "type_id",
                F.lit(self.organism_id).alias("organism_id"),
                F.col("src_dbxref_id").alias("dbxref_id"),
                F.col("residue").alias("residues"),
                F.col("md5").alias("md5checksum"),
                F.col("seqlen"),
            )
        )
        feature, new_feature = append(
            feature, new_feature, id_col="feature_id", order_by=["ord", "uniquename"]
        )
        self.tables["feature"] = feature
        counts["new_feature"] = new_feature.count()
        fkey = feature.select("feature_id", "uniquename")

        # [insert_new_featureloc] (+ target variant) — M5 key resolution
        def resolve_loc(st_loc: DataFrame, rank_col) -> DataFrame:
            return (
                st_loc.join(new_ids.select("id"), "id")
                .join(fkey.withColumnsRenamed({"uniquename": "id"}), "id")
                .join(
                    fkey.withColumnsRenamed(
                        {"uniquename": "seqid", "feature_id": "srcfeature_id"}
                    ),
                    "seqid",
                )
                .select(
                    "feature_id",
                    "srcfeature_id",
                    F.col("start").alias("fmin"),
                    F.col("stop").alias("fmax"),
                    "strand",
                    "phase",
                    rank_col.cast("int").alias("rank"),
                )
            )

        self.tables["featureloc"], new_floc, new_floc_t = append(
            self.tables["featureloc"],
            resolve_loc(st["featureloc"], F.lit(0)),
            resolve_loc(st["featureloc_target"], F.col("rank")),
        )
        counts["new_featureloc"] = new_floc.count()
        counts["new_featureloc_target"] = new_floc_t.count()

        # [insert_new_analysisfeature]
        new_af = (
            st["analysisfeature"]
            .join(new_ids.select("id"), "id")
            .join(fkey.withColumnsRenamed({"uniquename": "id"}), "id")
            .join(analysis_dim.select("program", "analysis_id"), "program")
            .select("feature_id", F.col("score").alias("significance"), "analysis_id")
        )
        self.tables["analysisfeature"], new_af = append(
            self.tables["analysisfeature"], new_af
        )
        counts["new_analysisfeature"] = new_af.count()

        # [insert_new_synonym] — M12 DISTINCT + anti-join on (name, type_id)
        syn_cand = (
            st["feature_synonym"]
            .select(F.col("alias").alias("name"))
            .withColumn("type_id", F.lit(synonym_type_id))
            .distinct()
        )
        syn_new = syn_cand.join(
            self.tables["synonym"].select("name", "type_id"), ["name", "type_id"], "left_anti"
        ).withColumn("synonym_sgml", F.col("name"))
        self.tables["synonym"], syn_new = append(
            self.tables["synonym"], syn_new, id_col="synonym_id", order_by=["name"]
        )
        counts["new_synonym"] = syn_new.count()

        # [insert_new_feature_synonym] — join on alias = synonym.name only
        new_fs = (
            st["feature_synonym"]
            .join(
                self.tables["synonym"].select(F.col("name").alias("alias"), "synonym_id"),
                "alias",
            )
            .join(new_ids.select("id"), "id")
            .join(fkey.withColumnsRenamed({"uniquename": "id"}), "id")
            .select("feature_id", "synonym_id", F.lit(self.synonym_pub_id).alias("pub_id"))
        )
        self.tables["feature_synonym"], new_fs = append(
            self.tables["feature_synonym"], new_fs
        )
        counts["new_feature_synonym"] = new_fs.count()

        # [insert_new_feature_relationship] — subject must be new, parent
        # resolved against the post-insert live feature table
        rel_terms = F.broadcast(
            self.dims["cvterm"].filter(F.col("cv") == "sequence").select(
                F.col("name").alias("rel_type"), F.col("cvterm_id").alias("rel_type_id")
            )
        )
        new_fr = (
            st["feature_relationship"]
            .join(new_ids.select("id"), "id")
            .join(
                fkey.withColumnsRenamed({"uniquename": "id", "feature_id": "subject_id"}),
                "id",
            )
            .join(
                fkey.withColumnsRenamed(
                    {"uniquename": "parent_id", "feature_id": "object_id"}
                ),
                "parent_id",
            )
            .join(rel_terms, "rel_type")
            .select("object_id", "subject_id", F.col("rel_type_id").alias("type_id"))
        )
        self.tables["feature_relationship"], new_fr = append(
            self.tables["feature_relationship"], new_fr
        )
        counts["new_feature_relationship"] = new_fr.count()

        # [insert_new_dbxref] — M11 window dedup by accession
        fd = st["feature_dbxref"].join(
            db_dim.withColumnsRenamed({"name": "db"}).select("db", "db_id"), "db"
        )
        w = Window.partitionBy("dbxref").orderBy("db_id")
        dx_new = (
            fd.join(new_ids.select("id"), "id")
            .join(fkey.withColumnsRenamed({"uniquename": "id"}), "id")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("dbxref").alias("accession"), "db_id")
            .localCheckpoint()
        )
        counts["new_dbxref"] = dx_new.count()
        self.tables["dbxref"], _ = find_or_create(
            self.tables["dbxref"], dx_new, ["db_id", "accession"], "dbxref_id"
        )

        # [insert_new_feature_dbxref]
        new_fd = (
            self.tables["dbxref"]
            .join(
                fd.withColumnsRenamed({"dbxref": "accession"}),
                ["accession", "db_id"],
            )
            .join(new_ids.select("id"), "id")
            .join(fkey.withColumnsRenamed({"uniquename": "id"}), "id")
            .select("dbxref_id", "feature_id")
        )
        self.tables["feature_dbxref"], new_fd = append(
            self.tables["feature_dbxref"], new_fd
        )
        counts["new_feature_dbxref"] = new_fd.count()

        # [insert_new_featureprop]
        new_fp = (
            st["featureprop"]
            .join(F.broadcast(prop_terms), "prop_type")
            .join(new_ids.select("id"), "id")
            .join(fkey.withColumnsRenamed({"uniquename": "id"}), "id")
            .select("feature_id", F.col("property").alias("value"),
                    F.col("prop_type_id").alias("type_id"))
        )
        self.tables["featureprop"], new_fp = append(self.tables["featureprop"], new_fp)
        counts["new_featureprop"] = new_fp.count()
        return counts

    # ------------------------------------------------------------------
    def dims_dbxref_for_sources(self, db_dim: DataFrame) -> DataFrame:
        gff_db = db_dim.filter(F.col("name") == "GFF_source").select("db_id")
        return (
            self.tables["dbxref"]
            .join(gff_db, "db_id", "left_semi")
            .select(
                F.col("accession").alias("src_accession"),
                F.col("dbxref_id").alias("src_dbxref_id"),
            )
        )
