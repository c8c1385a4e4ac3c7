"""dictystrain2chado / dictyplasmid2chado: stock-module importers.

Reference: ``lib/Modware/Import/Stock/StrainImporter.pm`` +
``PlasmidImporter.pm`` + ``DataTransformer.pm`` — row-at-a-time cursor
loops, each with find-or-create lookups per line. The semantics this
module re-expresses set-oriented:

- ``import_stock`` (:35-88): DBS/DBP-regex validation, existing-vs-new
  split on uniquename, insert with type + collection link; the existing
  set drives the refresh semantics of every later step.
- ``import_props`` (:90-151): prune existing stocks' props typed in the
  importer's cv, reinsert with rank = occurrence ordinal per
  (stock, type) in file order.
- ``import_inventory`` (:153-235 + DataTransformer:9-32): melt the fixed
  positional columns into (stock, inventory-term, value, rank) rows,
  rank = per-stock row ordinal; unknown ontology keys drop with a count.
- ``import_publications`` (:237-295): find-or-create pub by PMID,
  skip-existing links, prune links of existing stock first.
- ``import_characteristics`` (:297-372): stock_cvterm rows against the
  strain_characteristics ontology with the fixed 23494302 pub.
- ``import_genotype`` (:373-427): full wipe, then one genotype per row
  with generated ``DSC_G``-prefixed uniquenames.
- ``import_phenotype`` (:428-513): find-or-create phenotype /
  environment / pub (default 23494302), skip rows missing genotype,
  dedup phenstatements.
- ``import_parent`` (:515-582) / ``import_plasmid`` (:583-656):
  stock_relationship edges (is_parent_of / part_of), both-ends resolved,
  prune-then-insert.

Spark shape: every per-line ``find_stock``/``find_cvterm``/
``find_or_create_pub`` becomes a broadcast join against the (small) dim;
every prune is an anti-join; ranks are windows ordered by the file line
index. At 100 TB-scale stock files (they aren't — but the same shapes
serve the feature tables) nothing here shuffles more than once per step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modware_loader_spark.operators.merge import append, find_or_create, generate_ids

SCHEMAS = {
    "stock": (
        "stock_id long, uniquename string, name string, organism_id long, "
        "description string, type_id long"
    ),
    "stockcollection": "stockcollection_id long, name string, type_id long",
    "stockcollection_stock": "stockcollection_id long, stock_id long",
    "stockprop": "stock_id long, type_id long, value string, rank int",
    "stock_pub": "stock_id long, pub_id long",
    "stock_cvterm": "stock_id long, cvterm_id long, pub_id long",
    "stock_relationship": "object_id long, subject_id long, type_id long",
    "genotype": "genotype_id long, name string, uniquename string, type_id long",
    "stock_genotype": "stock_id long, genotype_id long",
    "phenotype": "phenotype_id long, observable string, assay string, value string",
    "environment": "environment_id long, name string",
    "phenstatement": (
        "phenotype_id long, genotype_id long, environment_id long, "
        "type_id long, pub_id long"
    ),
    "pub": "pub_id long, uniquename string",
    "organism": "organism_id long, name string",
    "cv": "cv_id long, name string",
    "cvterm": "cvterm_id long, name string, cv_id long",
    # plasmid sequence features + plasmid→gene edges (PlasmidImporter.pm)
    "feature": (
        "feature_id long, uniquename string, residues string, "
        "md5checksum string, seqlen long, type_id long, dbxref string, "
        "organism_id long"
    ),
    "feature_relationship": "object_id long, subject_id long, type_id long",
}

# DataTransformer.pm:9-21 — positional column → strain_inventory term
STRAIN_INVENTORY_KEYS = [
    "location", "color", "number of vials", "obtained as", "stored as",
    "storage date", "private comment", "public comment",
]
# DataTransformer.pm:23-32
PLASMID_INVENTORY_KEYS = [
    "location", "color", "stored_as", "storage_date", "public_comment",
]

CHARACTERISTICS_PUB = "23494302"


class StockImporter:
    """Stateful stock-module catalog + the import verbs."""

    def __init__(self, spark: SparkSession, cv_namespace: str = "dicty_stockcenter"):
        self.spark = spark
        self.cv_namespace = cv_namespace
        self.tables = {
            name: spark.createDataFrame([], schema) for name, schema in SCHEMAS.items()
        }
        # existing-stock set from the last import_stock call (refresh scope)
        self._existing: DataFrame | None = None

    # -- find-or-create dims (broadcast-sized, anti-join-create) ----------
    def cvterm_ids(self, cv: str, create: list[str] | None = None) -> DataFrame:
        """(name, cvterm_id) within one cv, creating listed names."""
        t = self.tables
        t["cv"], _ = find_or_create(
            t["cv"], self.spark.createDataFrame([(cv,)], "name string"), ["name"], "cv_id"
        )
        cvrow = t["cv"].filter(F.col("name") == cv).first()
        if create:
            rows = self.spark.createDataFrame(
                [(n, cvrow.cv_id) for n in create], "name string, cv_id long"
            )
            t["cvterm"], _ = find_or_create(t["cvterm"], rows, ["name", "cv_id"], "cvterm_id")
        return t["cvterm"].filter(F.col("cv_id") == cvrow.cv_id).select(
            "name", "cvterm_id"
        )

    def _cvterm_id(self, name: str, cv: str) -> int:
        return self.cvterm_ids(cv, create=[name]).filter(
            F.col("name") == name
        ).first().cvterm_id

    def _pub_ids(self, pmids: DataFrame) -> DataFrame:
        """(uniquename, pub_id) find-or-create by PMID."""
        self.tables["pub"], _ = find_or_create(
            self.tables["pub"], pmids.select("uniquename"), ["uniquename"], "pub_id"
        )
        return self.tables["pub"]

    def _stock_ids(self) -> DataFrame:
        return self.tables["stock"].select(
            F.col("uniquename"), F.col("stock_id")
        )

    # -- the import verbs -------------------------------------------------
    def import_stock(
        self,
        rows: DataFrame,
        stock_type: str = "strain",
        collection: str = "Dicty stock center",
        id_col: str = "strain_id",
        name_col: str = "strain_name",
        species_col: str | None = "species",
        descr_col: str | None = "strain_descr",
    ) -> dict[str, int]:
        t = self.tables
        type_id = self._cvterm_id(stock_type, self.cv_namespace)
        t["stockcollection"], _ = find_or_create(
            t["stockcollection"],
            self.spark.createDataFrame([(collection, type_id)], "name string, type_id long"),
            ["name"],
            "stockcollection_id",
        )
        coll = t["stockcollection"].filter(F.col("name") == collection).first()

        live = t["stock"]
        keyed = rows.withColumnsRenamed({id_col: "uniquename"})
        existing = keyed.join(
            live.select("uniquename", "stock_id"), "uniquename"
        ).localCheckpoint()
        self._existing = existing.select("stock_id", "uniquename").localCheckpoint()
        fresh = keyed.join(live.select("uniquename"), "uniquename", "left_anti")

        if species_col:
            t["organism"], _ = find_or_create(
                t["organism"],
                fresh.select(F.col(species_col).alias("name")).filter(
                    F.col("name").isNotNull()
                ),
                ["name"],
                "organism_id",
            )
            org = t["organism"].withColumnsRenamed({"name": species_col})
            fresh = fresh.join(F.broadcast(org), species_col, "left")
        else:
            fresh = fresh.withColumn("organism_id", F.lit(None).cast("long"))
        t["stock"], new_rows = append(
            live,
            fresh.select(
                "uniquename",
                F.col(name_col).alias("name"),
                "organism_id",
                (F.col(descr_col) if descr_col else F.lit(None).cast("string")).alias(
                    "description"
                ),
                F.lit(type_id).alias("type_id"),
            ),
            id_col="stock_id",
            order_by=["uniquename"],
        )
        t["stockcollection_stock"], _ = append(
            t["stockcollection_stock"],
            new_rows.select(
                F.lit(coll.stockcollection_id).alias("stockcollection_id"), "stock_id"
            ),
        )
        return {"new": new_rows.count(), "existing": existing.count()}

    def _prune_existing(self, table: str, type_scope: DataFrame | None = None) -> None:
        """Delete child rows of the existing-stock set (optionally only
        rows whose type_id is in scope) — the reference's per-row
        ``$prop->delete`` loops."""
        if self._existing is None:
            return
        live = self.tables[table]
        doomed = live.join(self._existing.select("stock_id"), "stock_id", "left_semi")
        if type_scope is not None:
            doomed = doomed.join(type_scope, "type_id", "left_semi")
        # joins move the key column first; exceptAll is positional
        self.tables[table] = live.exceptAll(doomed.select(live.columns)).localCheckpoint()

    def import_props(self, rows: DataFrame, cv: str, id_col: str = "strain_id") -> dict:
        """rows: (id, prop_type, value, line_idx)."""
        terms = self.cvterm_ids(
            cv, create=[r.prop_type for r in rows.select("prop_type").distinct().collect()]
        )
        self._prune_existing(
            "stockprop", terms.select(F.col("cvterm_id").alias("type_id"))
        )
        resolved = (
            rows.withColumnsRenamed({id_col: "uniquename"})
            .join(self._stock_ids(), "uniquename")
            .join(
                F.broadcast(terms.withColumnsRenamed({"name": "prop_type"})),
                "prop_type",
            )
        )
        w = Window.partitionBy("stock_id", "cvterm_id").orderBy("line_idx")
        self.tables["stockprop"], new_props = append(
            self.tables["stockprop"],
            resolved.select(
                "stock_id",
                F.col("cvterm_id").alias("type_id"),
                "value",
                (F.row_number().over(w) - 1).alias("rank"),
            ),
        )
        return {"props": new_props.count(), "missed": rows.count() - new_props.count()}

    def import_inventory(
        self,
        rows: DataFrame,
        cv: str = "strain_inventory",
        keys: list[str] | None = None,
        id_col: str = "strain_id",
    ) -> dict:
        """rows: (id, <positional inventory columns...>, line_idx) — melted
        against the inventory ontology; ontology terms must pre-exist
        (unknown keys drop, the reference warns per key)."""
        keys = STRAIN_INVENTORY_KEYS if keys is None else keys
        terms = self.cvterm_ids(cv)
        self._prune_existing(
            "stockprop", terms.select(F.col("cvterm_id").alias("type_id"))
        )
        resolved = rows.withColumnsRenamed({id_col: "uniquename"}).join(
            self._stock_ids(), "uniquename"
        )
        w = Window.partitionBy("stock_id").orderBy("line_idx")
        ranked = resolved.withColumn("rank", F.row_number().over(w) - 1)
        melted = ranked.select(
            "stock_id",
            "rank",
            F.posexplode(
                F.array(*[F.col(c) for c in rows.columns if c not in (id_col, "line_idx")])
            ).alias("pos", "value"),
        ).withColumn(
            "key", F.element_at(F.array(*[F.lit(k) for k in keys]), F.col("pos") + 1)
        ).filter(F.col("value").isNotNull())
        self.tables["stockprop"], new_props = append(
            self.tables["stockprop"],
            melted.join(F.broadcast(terms.withColumnsRenamed({"name": "key"})), "key").select(
                "stock_id", F.col("cvterm_id").alias("type_id"), "value", "rank"
            ),
        )
        return {"inventory_props": new_props.count()}

    def import_publications(self, rows: DataFrame, id_col: str = "strain_id") -> dict:
        """rows: (id, pmid)."""
        self._prune_existing("stock_pub")
        pubs = self._pub_ids(rows.select(F.col("pmid").alias("uniquename")))
        links = (
            rows.withColumnsRenamed({id_col: "uniquename"})
            .join(self._stock_ids(), "uniquename")
            .join(F.broadcast(pubs.withColumnsRenamed({"uniquename": "pmid"})), "pmid")
            .select("stock_id", "pub_id")
        )
        self.tables["stock_pub"], links = find_or_create(
            self.tables["stock_pub"], links, ["stock_id", "pub_id"]
        )
        return {"stock_pubs": links.count()}

    def import_characteristics(
        self, rows: DataFrame, cv: str = "strain_characteristics", id_col: str = "strain_id"
    ) -> dict:
        """rows: (id, term)."""
        terms = self.cvterm_ids(cv)
        pub_id = self._pub_ids(
            self.spark.createDataFrame([(CHARACTERISTICS_PUB,)], "uniquename string")
        ).filter(F.col("uniquename") == CHARACTERISTICS_PUB).first().pub_id
        if self._existing is not None:
            live = self.tables["stock_cvterm"]
            doomed = live.join(
                self._existing.select("stock_id"), "stock_id", "left_semi"
            ).join(
                terms.select(F.col("cvterm_id")), "cvterm_id", "left_semi"
            )
            self.tables["stock_cvterm"] = live.exceptAll(
                doomed.select(live.columns)
            ).localCheckpoint()
        self.tables["stock_cvterm"], links = append(
            self.tables["stock_cvterm"],
            rows.withColumnsRenamed({id_col: "uniquename"})
            .join(self._stock_ids(), "uniquename")
            .join(F.broadcast(terms.withColumnsRenamed({"name": "term"})), "term")
            .select("stock_id", "cvterm_id", F.lit(pub_id).alias("pub_id")),
        )
        return {"characteristics": links.count()}

    def import_genotype(self, rows: DataFrame, id_col: str = "strain_id") -> dict:
        """rows: (id, _, genotype_name) — full wipe then reload
        (:459-461: ``Genotype->delete``), DSC_G-prefixed uniquenames."""
        self.tables["genotype"] = self.spark.createDataFrame([], SCHEMAS["genotype"])
        self.tables["stock_genotype"] = self.spark.createDataFrame(
            [], SCHEMAS["stock_genotype"]
        )
        type_id = self._cvterm_id("genotype", self.cv_namespace)
        resolved = rows.withColumnsRenamed({id_col: "uniquename"}).join(
            self._stock_ids(), "uniquename"
        )
        geno = generate_ids(
            resolved, ["uniquename"], id_col="genotype_id", start=1
        ).select(
            "genotype_id",
            F.col("genotype_name").alias("name"),
            F.concat(F.lit("DSC_G"), F.format_string("%07d", F.col("genotype_id"))).alias(
                "uniquename"
            ),
            F.lit(type_id).alias("type_id"),
            "stock_id",
        ).localCheckpoint()
        self.tables["genotype"] = geno.drop("stock_id")
        self.tables["stock_genotype"] = geno.select("stock_id", "genotype_id")
        return {"genotypes": geno.count()}

    def import_phenotype(
        self,
        rows: DataFrame,
        id_col: str = "strain_id",
        default_pub: str = CHARACTERISTICS_PUB,
    ) -> dict:
        """rows: (id, phenotype, environment, assay, pmid, value) —
        phenstatements against the wiped-and-reloaded phenotype table."""
        self.tables["phenotype"] = self.spark.createDataFrame([], SCHEMAS["phenotype"])
        type_id = self._cvterm_id("observation", self.cv_namespace)
        t = self.tables
        t["phenotype"], _ = find_or_create(
            t["phenotype"],
            rows.select(F.col("phenotype").alias("observable"), "assay", "value"),
            ["observable", "assay", "value"],
            "phenotype_id",
        )
        t["environment"], _ = find_or_create(
            t["environment"],
            rows.select(F.col("environment").alias("name")).filter(F.col("name").isNotNull()),
            ["name"],
            "environment_id",
        )
        pubs = self._pub_ids(
            rows.select(F.col("pmid").alias("uniquename"))
            .filter(F.col("uniquename").isNotNull())
            .unionByName(
                self.spark.createDataFrame([(default_pub,)], "uniquename string")
            )
        )
        default_pub_id = pubs.filter(F.col("uniquename") == default_pub).first().pub_id
        # genotype must exist for the stock (:476-482)
        stock_geno = self._stock_ids().join(self.tables["stock_genotype"], "stock_id")
        ph = self.tables["phenotype"].alias("ph")
        # assay/value are nullable keys → null-safe equality (the
        # reference's find-or-create hash treats undef as a match)
        ph_cond = (
            F.col("r.phenotype").eqNullSafe(F.col("ph.observable"))
            & F.col("r.assay").eqNullSafe(F.col("ph.assay"))
            & F.col("r.value").eqNullSafe(F.col("ph.value"))
        )
        resolved = (
            rows.withColumnsRenamed({id_col: "uniquename"})
            .join(stock_geno, "uniquename")
            .alias("r")
            .join(F.broadcast(ph), ph_cond)
            .select(
                "r.uniquename", "r.environment", "r.pmid",
                "genotype_id", "ph.phenotype_id",
            )
            .alias("r")
            .join(
                F.broadcast(
                    self.tables["environment"].withColumnsRenamed(
                        {"name": "environment"}
                    )
                ),
                "environment",
            )
            .join(
                F.broadcast(pubs.withColumnsRenamed({"uniquename": "pmid"})),
                "pmid",
                "left",
            )
        )
        t["phenstatement"], stmts = find_or_create(
            t["phenstatement"],
            resolved.select(
                "phenotype_id",
                "genotype_id",
                "environment_id",
                F.lit(type_id).alias("type_id"),
                F.coalesce("pub_id", F.lit(default_pub_id)).alias("pub_id"),
            ),
            ["phenotype_id", "genotype_id", "environment_id", "type_id", "pub_id"],
        )
        return {"phenstatements": stmts.count()}

    def _relationship(
        self, rows: DataFrame, rel_type: str, obj_col: str, subj_col: str,
        subj_pattern: str | None = None,
    ) -> dict:
        type_id = self._cvterm_id(rel_type, "stock_relation")
        if self._existing is not None:
            live = self.tables["stock_relationship"]
            ex = self._existing.select(F.col("stock_id"))
            doomed = live.join(
                ex.withColumnsRenamed({"stock_id": "object_id"}), "object_id", "left_semi"
            ).unionByName(
                live.join(
                    ex.withColumnsRenamed({"stock_id": "subject_id"}),
                    "subject_id",
                    "left_semi",
                )
            ).distinct()
            self.tables["stock_relationship"] = live.exceptAll(
                doomed.distinct().select(live.columns)
            ).localCheckpoint()
        keyed = rows
        if subj_pattern:
            keyed = keyed.filter(F.col(subj_col).rlike(subj_pattern))
        edges = (
            keyed.join(
                self._stock_ids().withColumnsRenamed(
                    {"uniquename": obj_col, "stock_id": "object_id"}
                ),
                obj_col,
            )
            .join(
                self._stock_ids().withColumnsRenamed(
                    {"uniquename": subj_col, "stock_id": "subject_id"}
                ),
                subj_col,
            )
            .select("object_id", "subject_id", F.lit(type_id).alias("type_id"))
        )
        self.tables["stock_relationship"], edges = append(
            self.tables["stock_relationship"], edges
        )
        return {"relationships": edges.count()}

    def import_plasmid_sequences(
        self,
        seqs: DataFrame,
        organism: str = "Dictyostelium discoideum AX4",
    ) -> dict:
        """seqs: (dbp_id, seq_id, sequence) — one ``plasmid_vector``
        feature per sequence with a generated DBP-prefixed uniquename,
        linked to the stock through a plasmid_vector stockprop whose value
        is the feature uniquename (PlasmidImporter.pm:375-484). A
        non-DBP ``seq_id`` records a GenBank dbxref. Existing stocks'
        sequence props + features are pruned first (:388-400)."""
        type_id = self._cvterm_id("plasmid_vector", "sequence")
        self.tables["organism"], _ = find_or_create(
            self.tables["organism"],
            self.spark.createDataFrame([(organism,)], "name string"),
            ["name"],
            "organism_id",
        )
        org_id = self.tables["organism"].filter(
            F.col("name") == organism
        ).first().organism_id
        # prune existing stocks' sequence features + props
        if self._existing is not None:
            props = self.tables["stockprop"]
            doomed = props.filter(F.col("type_id") == type_id).join(
                self._existing.select("stock_id"), "stock_id", "left_semi"
            )
            self.tables["feature"] = self.tables["feature"].join(
                doomed.select(F.col("value").alias("uniquename")),
                "uniquename",
                "left_anti",
            ).localCheckpoint()
            self.tables["stockprop"] = props.exceptAll(
                doomed.select(props.columns)
            ).localCheckpoint()
        seqs = _with_plasmid_feature_ids(self.tables["feature"], seqs, ["dbp_id", "seq_id"])
        self.tables["feature"], feats = append(
            self.tables["feature"],
            seqs.select(
                "feature_id",
                "uniquename",
                F.col("sequence").alias("residues"),
                F.md5("sequence").alias("md5checksum"),
                F.length("sequence").alias("seqlen"),
                F.lit(type_id).alias("type_id"),
                F.when(F.col("seq_id") != F.col("dbp_id"), F.col("seq_id")).alias("dbxref"),
                F.lit(org_id).alias("organism_id"),
            ),
        )
        self.tables["stockprop"], links = append(
            self.tables["stockprop"],
            seqs.select(F.col("dbp_id").alias("uniquename"), F.col("uniquename").alias("value"))
            .join(self._stock_ids(), "uniquename")
            .select(
                "stock_id", F.lit(type_id).alias("type_id"), "value",
                F.lit(0).alias("rank"),
            ),
        )
        return {"sequence_features": feats.count(), "sequence_props": links.count()}

    def import_plasmid_genes(
        self, rows: DataFrame, gene_features: DataFrame | None = None
    ) -> dict:
        """rows: (plasmid_id, gene_id) → part_of edges from the plasmid's
        sequence feature to the gene feature (PlasmidImporter.pm:485-588);
        plasmids with no sequence feature get a bare one created +
        stockprop-linked. ``gene_features``: (uniquename, feature_id) of
        the gene side — defaults to this importer's feature table, in
        production the chado catalog's."""
        seq_type_id = self._cvterm_id("plasmid_vector", "sequence")
        rel_type_id = self._cvterm_id("part_of", "ro")
        if gene_features is None:
            gene_features = self.tables["feature"].select("uniquename", "feature_id")
        keyed = rows.filter(F.col("plasmid_id").rlike(r"^DBP[0-9]{7}"))
        # plasmid feature via the plasmid_vector stockprop
        pfeat = (
            self.tables["stockprop"]
            .filter(F.col("type_id") == seq_type_id)
            .join(
                self._stock_ids().withColumnsRenamed({"uniquename": "plasmid_id"}),
                "stock_id",
            )
            .join(
                self.tables["feature"].select(
                    F.col("uniquename").alias("value"),
                    F.col("feature_id").alias("plasmid_feature_id"),
                ),
                "value",
            )
            .select("plasmid_id", "plasmid_feature_id")
        )
        resolved = keyed.join(pfeat, "plasmid_id", "left")
        # create bare features for plasmids with none (:555-566)
        missing = (
            resolved.filter(F.col("plasmid_feature_id").isNull())
            .select("plasmid_id")
            .distinct()
            .join(
                self._stock_ids().withColumnsRenamed({"uniquename": "plasmid_id"}),
                "plasmid_id",
            )
        )
        n_created = missing.count()
        if n_created:
            bare = _with_plasmid_feature_ids(self.tables["feature"], missing, ["plasmid_id"])
            self.tables["feature"], _ = append(
                self.tables["feature"],
                bare.select(
                    "feature_id",
                    "uniquename",
                    F.lit(None).cast("string").alias("residues"),
                    F.lit(None).cast("string").alias("md5checksum"),
                    F.lit(None).cast("long").alias("seqlen"),
                    F.lit(seq_type_id).alias("type_id"),
                    F.lit(None).cast("string").alias("dbxref"),
                    F.lit(None).cast("long").alias("organism_id"),
                ),
            )
            self.tables["stockprop"], _ = append(
                self.tables["stockprop"],
                bare.select(
                    "stock_id",
                    F.lit(seq_type_id).alias("type_id"),
                    F.col("uniquename").alias("value"),
                    F.lit(0).alias("rank"),
                ),
            )
            resolved = keyed.join(
                pfeat.unionByName(
                    bare.select(
                        "plasmid_id",
                        F.col("feature_id").alias("plasmid_feature_id"),
                    )
                ),
                "plasmid_id",
            )
        else:
            resolved = resolved.filter(F.col("plasmid_feature_id").isNotNull())
        edges = (
            resolved.join(
                gene_features.withColumnsRenamed(
                    {"uniquename": "gene_id", "feature_id": "subject_id"}
                ),
                "gene_id",
            )
            .select(
                F.col("plasmid_feature_id").alias("object_id"),
                "subject_id",
                F.lit(rel_type_id).alias("type_id"),
            )
            .distinct()
        )
        self.tables["feature_relationship"], edges = append(
            self.tables["feature_relationship"], edges
        )
        return {"plasmid_gene_edges": edges.count(), "features_created": n_created}

    def import_parent(self, rows: DataFrame) -> dict:
        """rows: (strain_id, parent_id) → is_parent_of edges
        (object = the strain, subject = its parent, :515-582)."""
        return self._relationship(rows, "is_parent_of", "strain_id", "parent_id")

    def import_strain_plasmid(self, rows: DataFrame) -> dict:
        """rows: (strain_id, plasmid_id) → part_of edges; plasmid side
        must match DBP[0-9]{7} (:583-656)."""
        return self._relationship(
            rows, "part_of", "strain_id", "plasmid_id", subj_pattern=r"^DBP[0-9]{7}"
        )


def _with_plasmid_feature_ids(
    feature: DataFrame, rows: DataFrame, order_by: list[str]
) -> DataFrame:
    """``rows`` materialized with the feature ids they will take in
    ``feature`` (numbered over ``order_by``) and the ``DBP-F<id>``
    uniquename made from them. The ids are allocated by appending to the
    id column alone, whose grown copy is dropped: the caller appends the
    full rows once their uniquename exists."""
    _, rows = append(
        feature.select("feature_id"), rows, id_col="feature_id", order_by=order_by
    )
    return rows.withColumn(
        "uniquename", F.concat(F.lit("DBP-F"), F.col("feature_id").cast("string"))
    )
