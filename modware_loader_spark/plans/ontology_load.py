"""obo2chado equivalent: OBO → staging → the full M1-M10 diff/merge suite
against a Chado-shaped cv/cvterm/dbxref catalog.

Statement order mirrors ``lib/Modware/Loader/Ontology.pm:313-349`` with
the Postgres statement bodies from ``share/postgresql.lib`` (backend
orchestration ``lib/Modware/Loader/Role/Ontology/Chado/WithPostgresql.pm``):

1. prune: scoped anti-diff (M3, ``insert_temp_term_delete``) → delete
   cvterm + dbxref rows (M4),
2. update existing terms: semi-join id fetch (M2,
   ``insert_existing_accession``) then SCD-1 overwrite of
   name/definition/is_obsolete (M8, ``update_cvterms`` +
   ``update_cvterm_names``),
3. child-set refresh (M9) for synonyms/comments/alt_ids of existing
   terms: bulk delete by parent semi-join, reinsert from staging,
4. create: new accessions (M1, ``insert_new_accession``) → dbxref →
   cvterm → child sets for new terms,
5. relationships: triple key-resolution join (M5,
   ``insert_relationship``) with set-semantics EXCEPT (M6).

The version gate (OBO header date vs stored metadata,
``Ontology.pm:206-239``) and namespace bootstrap
(``find_or_create_namespaces``, ``Ontology.pm:295-305``) are preserved.

The tables live in a ``catalog.ChadoState``, the one schema the GFF3
loader also restores and saves; the bootstrap runs at each load, after any
restore. A type a genome load created (``internal``-db accession
``<cv>:<name>``) is adopted by the file's term of the same (name, cv)
instead of getting a twin, and the prune never deletes one of them.

Scale: db, cv and scope terms broadcast; cvterm/dbxref merges shuffle
on (accession, db_id); relationship resolution is three broadcast-able
joins against the cvterm⋈dbxref key map. Inserts go through
``operators.merge.append``/``find_or_create`` (new rows materialized once,
live-table lineage bounded); deletes and updates localCheckpoint the
table they rewrite.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modware_loader_spark.catalog import ChadoState
from modware_loader_spark.frames import local_frame
from modware_loader_spark.operators.merge import append, find_or_create
from modware_loader_spark.sources.obo import parse_obo

TABLES = (
    "db", "cv", "dbxref", "cvterm", "cvterm_relationship", "cvprop",
    "cvtermsynonym", "cvtermprop", "cvterm_dbxref",
)

# cv → the terms the namespace bootstrap finds or creates in it, each
# with the internal-db dbxref of its bare name
BOOTSTRAP_TERMS = {
    "cv_property": ("date", "data-version", "saved-by", "remark"),
    "cvterm_property_type": (
        "comment", "alt_id", "xref", "cyclic", "reflexive", "transitive",
        "anonymous", "domain", "range",
    ),
    "synonym_type": ("EXACT", "BROAD", "NARROW", "RELATED"),
}

OBO_DATE_FORMAT = "%d:%m:%Y %H:%M"

# Chado declares ON DELETE CASCADE on every foreign key to cvterm: child
# table → its cvterm_id columns
CVTERM_CHILD_FKS = {
    "cvtermsynonym": ("cvterm_id",),
    "cvtermprop": ("cvterm_id",),
    "cvterm_dbxref": ("cvterm_id",),
    "cvterm_relationship": ("subject_id", "object_id", "type_id"),
    "cvtermpath": ("subject_id", "object_id", "type_id"),
}


def _cascade_cvterm_delete(tables: dict[str, DataFrame], cvterm_ids: DataFrame) -> None:
    """Emulate the cascade of a cvterm DELETE: the reference's single
    DELETE implicitly removes dependents, so without this deleted terms
    leave dangling child rows. Drops every row of the present child tables
    that references one of ``cvterm_ids``."""
    for child, fks in CVTERM_CHILD_FKS.items():
        if child not in tables:
            continue
        out = tables[child]
        for fk in fks:
            out = out.join(cvterm_ids.withColumnRenamed("cvterm_id", fk), fk, "left_anti")
        tables[child] = out.localCheckpoint()


class ChadoOntologyLoader:
    """Stateful obo2chado-equivalent loader over a Chado state
    (``catalog.ChadoState``)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.chado = ChadoState(spark)
        self.chado.declare(TABLES)
        self.tables = self.chado.tables

    def bootstrap(self) -> None:
        """Namespace bootstrap (Ontology.pm:295-305) + the is_a relationship
        term the reference test preset fixture (cvprop.tar.bz2) provides.
        Every statement is a find-or-create, so each load runs it, as the
        reference does, on whatever state a restore left."""
        chado = self.chado
        chado.find_or_create_names("db", ["internal"])
        chado.find_or_create_names(
            "cv", ["cvterm_property_type", "synonym_type", "relationship", "cv_property"]
        )
        chado.find_or_create_terms(
            local_frame(
                self.spark,
                [(name, cv, name) for cv, names in BOOTSTRAP_TERMS.items() for name in names],
                "name string, cv string, accession string",
            )
        )
        # The Test::Chado cv preset ships the OBO relationship ontology:
        # 'is_a' exists as a relationship-type cvterm reachable through BOTH
        # the internal-db dbxref (obo2chado's normalize of bare 'is_a') and
        # the OBO_REL-db dbxref (owltools closure files say 'OBO_REL:is_a').
        chado.find_or_create_names("db", ["OBO_REL"])
        db = self.tables["db"]
        internal = db.filter(F.col("name") == "internal").first().db_id
        obo_rel = db.filter(F.col("name") == "OBO_REL").first().db_id
        rel_cv = self.tables["cv"].filter(F.col("name") == "relationship").first().cv_id
        self.tables["dbxref"], _ = find_or_create(
            self.tables["dbxref"],
            local_frame(
                self.spark, [("is_a", internal), ("is_a", obo_rel)],
                "accession string, db_id long",
            ),
            ["accession", "db_id"],
            "dbxref_id",
        )
        isa_dx = self.tables["dbxref"].filter(F.col("accession") == "is_a").select(
            "dbxref_id"
        )
        cand = isa_dx.select(
            F.lit("is_a").alias("name"),
            F.lit(None).cast("string").alias("definition"),
            F.lit(0).alias("is_obsolete"),
            F.lit(1).alias("is_relationshiptype"),
            F.lit(rel_cv).alias("cv_id"),
            "dbxref_id",
        )
        self.tables["cvterm"], _ = find_or_create(
            self.tables["cvterm"], cand, ["name", "cv_id", "dbxref_id"], "cvterm_id"
        )

    def _scope_term_ids(self) -> DataFrame:
        return F.broadcast(
            self.chado.term_ids("synonym_type").withColumnsRenamed(
                {"name": "scope", "cvterm_id": "scope_id"}
            )
        )

    # ------------------------------------------------------------------
    def _cvprop_value(self, ns: str, prop: str) -> str | None:
        cvrow = self.tables["cv"].filter(F.col("name") == ns).first()
        if cvrow is None:
            return None
        trow = self.chado.term_ids("cv_property").filter(F.col("name") == prop).first()
        if trow is None:
            return None
        row = (
            self.tables["cvprop"]
            .filter((F.col("cv_id") == cvrow.cv_id) & (F.col("type_id") == trow.cvterm_id))
            .first()
        )
        return row.value if row is not None else None

    def store_metadata(self, header: dict) -> None:
        """store_metadata (Ontology.pm:241-293): per-namespace cvprop rows
        for date / data-version / saved-by / remark (SCD-1 upsert)."""
        ns = header.get("default-namespace") or header.get("ontology")
        self.chado.find_or_create_names("cv", [ns])
        cv_id = self.tables["cv"].filter(F.col("name") == ns).first().cv_id
        types = {r.name: r.cvterm_id for r in self.chado.term_ids("cv_property").collect()}
        rows = [
            (cv_id, types[key], header[key])
            for key in ("date", "data-version", "saved-by", "remark")
            if key in header and key in types
        ]
        if not rows:
            return
        staged = local_frame(self.spark, rows, "cv_id long, type_id long, value string")
        kept = self.tables["cvprop"].join(
            staged.select("cv_id", "type_id"), ["cv_id", "type_id"], "left_anti"
        )
        self.tables["cvprop"], _ = append(kept, staged)
        self.chado.metadata[f"{ns}:date"] = header.get("date", "")

    def is_newer(self, header: dict) -> bool:
        """Version gate (Ontology.pm:206-239): header date must be newer
        than the date stored in cvprop for this namespace."""
        ns = header.get("default-namespace") or header.get("ontology")
        stored = self._cvprop_value(ns, "date") or self.chado.metadata.get(f"{ns}:date")
        if not stored or "date" not in header:
            return True
        new = datetime.strptime(header["date"], OBO_DATE_FORMAT)
        old = datetime.strptime(stored, OBO_DATE_FORMAT)
        return new > old

    def load_file(self, path: str, force: bool = False) -> dict[str, int]:
        self.bootstrap()
        parsed = parse_obo(self.spark, path)
        header = parsed["header"]
        if not force and not self.is_newer(header):
            raise ValueError(
                "ontology version in file is not newer than the stored version"
            )
        self.store_metadata(header)
        return self._merge(parsed)

    # ------------------------------------------------------------------
    def _merge(self, parsed: dict) -> dict[str, int]:
        counts: dict[str, int] = {}
        terms, rels = parsed["terms"], parsed["relationships"]
        synonyms, alt_ids = parsed["synonyms"], parsed["alt_ids"]

        db_names = (
            terms.select(F.col("db").alias("name"))
            .unionByName(rels.select(F.col("subject_db").alias("name")))
            .unionByName(rels.select(F.col("object_db").alias("name")))
            .unionByName(rels.select(F.col("type_db").alias("name")))
            .unionByName(alt_ids.select(F.col("alt_db").alias("name")))
            .distinct()
        )
        t = self.tables
        t["db"], _ = find_or_create(t["db"], db_names, ["name"], "db_id")
        t["cv"], _ = find_or_create(
            t["cv"], terms.select(F.col("cv").alias("name")).distinct(), ["name"], "cv_id"
        )
        db_dim, cv_dim = F.broadcast(t["db"]), F.broadcast(t["cv"])
        internal = t["db"].filter(F.col("name") == "internal").first().db_id
        scope_ids = self._scope_term_ids()
        comment_type_id = self.chado.term_id("comment", "cvterm_property_type")

        # staging with resolved surrogate dims (cv_id, db_id)
        st = (
            terms.join(db_dim.withColumnsRenamed({"name": "db"}), "db")
            .join(cv_dim.withColumnsRenamed({"name": "cv", "cv_id": "cv_id"}), "cv")
            .select(
                "ord", "accession", "db_id", "cv_id", "name", "definition",
                "cmmnt", "is_obsolete", "is_relationshiptype",
            )
            .localCheckpoint()
        )
        st_syn = (
            synonyms.join(db_dim.withColumnsRenamed({"name": "db"}), "db")
            .join(scope_ids, "scope")
            .select("accession", "db_id", "syn", F.col("scope_id").alias("syn_scope_id"))
            .localCheckpoint()
        )
        st_alt = (
            alt_ids.join(db_dim.withColumnsRenamed({"name": "db"}), "db")
            .join(
                db_dim.withColumnsRenamed({"name": "alt_db", "db_id": "alt_db_id"}),
                "alt_db",
            )
            .select("accession", "db_id", "alt_id", "alt_db_id")
            .localCheckpoint()
        )
        st_comment = st.filter(F.col("cmmnt").isNotNull()).select(
            "accession", "db_id", F.col("cmmnt").alias("comment")
        )

        def add_children(terms: DataFrame, alt: DataFrame) -> None:
            """Synonyms, comment and alt_id links of ``terms`` (cvterm_id,
            accession); ``alt`` is their already-joined st_alt rows."""
            t["cvtermsynonym"], _ = append(
                t["cvtermsynonym"],
                st_syn.join(terms, "accession").select(
                    "cvterm_id", F.col("syn").alias("synonym"),
                    F.col("syn_scope_id").alias("type_id"),
                ),
            )
            t["cvtermprop"], _ = append(
                t["cvtermprop"],
                st_comment.join(terms, "accession").select(
                    "cvterm_id", F.lit(comment_type_id).alias("type_id"),
                    F.col("comment").alias("value"),
                ),
            )
            alt_acc = alt.select(
                F.col("alt_id").alias("accession"), F.col("alt_db_id").alias("db_id")
            )
            t["dbxref"], _ = find_or_create(
                t["dbxref"], alt_acc, ["accession", "db_id"], "dbxref_id"
            )
            alt_dx = t["dbxref"].withColumnsRenamed(
                {"accession": "alt_id", "db_id": "alt_db_id"}
            )
            t["cvterm_dbxref"], _ = append(
                t["cvterm_dbxref"],
                alt.join(alt_dx, ["alt_id", "alt_db_id"]).select("cvterm_id", "dbxref_id"),
            )

        cvterm, dbxref = t["cvterm"], t["dbxref"]
        keyed = cvterm.join(dbxref, "dbxref_id").select(
            "cvterm_id", "dbxref_id", "accession", "db_id", "cv_id", "name"
        )

        # 1. prune (M3 scoped anti-diff + M4 delete), share/postgresql.lib:248-260,311-318;
        # no OBO id parses to an internal-db accession with a ':', so the
        # types a genome load created are not this file's to prune
        scope_cv = st.select("cv_id").distinct()
        scope_db = st.select("db_id").distinct()
        term_delete = (
            keyed.join(st.select("accession", "db_id"), ["accession", "db_id"], "left_anti")
            .filter((F.col("db_id") != internal) | ~F.col("accession").contains(":"))
            .join(F.broadcast(scope_cv), "cv_id", "left_semi")
            .join(F.broadcast(scope_db), "db_id", "left_semi")
            .select("cvterm_id", "dbxref_id")
            .localCheckpoint()
        )
        counts["deleted_terms"] = term_delete.count()
        t["cvterm"] = cvterm.join(term_delete.select("cvterm_id"), "cvterm_id", "left_anti")
        t["dbxref"] = dbxref.join(term_delete.select("dbxref_id"), "dbxref_id", "left_anti")
        _cascade_cvterm_delete(t, term_delete.select("cvterm_id"))
        t["cvterm_dbxref"] = t["cvterm_dbxref"].join(
            term_delete.select("dbxref_id"), "dbxref_id", "left_anti"
        )

        # 2. existing terms (M2) + SCD-1 update (M8)
        keyed = t["cvterm"].join(t["dbxref"], "dbxref_id").select(
            "cvterm_id", "accession", "db_id"
        )
        existing = keyed.join(st, ["accession", "db_id"]).select(
            "cvterm_id", "accession", "name", "definition", "is_obsolete"
        ).localCheckpoint()
        counts["updated_terms"] = existing.count()
        upd = existing.select(
            "cvterm_id",
            F.col("name").alias("__name"),
            F.col("definition").alias("__def"),
            F.col("is_obsolete").alias("__obs"),
        )
        t["cvterm"] = (
            t["cvterm"]
            .join(upd, "cvterm_id", "left")
            .select(
                "cvterm_id",
                F.coalesce("__name", "name").alias("name"),
                F.coalesce("__def", "definition").alias("definition"),
                F.coalesce("__obs", "is_obsolete").alias("is_obsolete"),
                "is_relationshiptype",
                "cv_id",
                "dbxref_id",
            )
            .localCheckpoint()
        )
        exist_ids = existing.select("cvterm_id", "accession")

        # 3. child-set refresh (M9): synonyms, comments, alt_ids of existing
        t["cvtermsynonym"] = t["cvtermsynonym"].join(
            exist_ids.select("cvterm_id"), "cvterm_id", "left_anti"
        )
        comment_of = F.lit(comment_type_id).cast("long").alias("type_id")
        t["cvtermprop"] = t["cvtermprop"].join(
            exist_ids.select("cvterm_id", comment_of), ["cvterm_id", "type_id"], "left_anti"
        )
        # alt ids of existing terms: delete matching dbxrefs, reinsert
        upd_alt = st_alt.join(exist_ids, "accession").localCheckpoint()
        t["dbxref"] = t["dbxref"].join(
            upd_alt.select(F.col("alt_id").alias("accession"), F.col("alt_db_id").alias("db_id")),
            ["accession", "db_id"],
            "left_anti",
        )
        # cascade: drop link rows whose dbxref row was just deleted —
        # without this, re-minted alt dbxref_ids leave the old links
        # dangling and duplicate links accumulate on every reload
        t["cvterm_dbxref"] = t["cvterm_dbxref"].join(
            t["dbxref"].select("dbxref_id"), "dbxref_id", "left_semi"
        )
        add_children(exist_ids, upd_alt)

        # 4. create new accessions (M1) → dbxref → cvterm → child sets
        acc_keys = ["accession", "db_id"]
        new_acc = st.join(t["dbxref"].select(*acc_keys), acc_keys, "left_anti")
        new_acc = new_acc.localCheckpoint()
        counts["new_dbxrefs"] = new_acc.count()
        t["dbxref"], _ = find_or_create(
            t["dbxref"], new_acc.select(*acc_keys), acc_keys, "dbxref_id"
        )
        temp_accession = new_acc.select("accession").distinct().localCheckpoint()
        new_terms = (
            st.join(temp_accession, "accession")
            .join(t["dbxref"], ["accession", "db_id"])
            .select(
                "ord", "accession", "name", "definition", "is_obsolete",
                "is_relationshiptype", "cv_id", "dbxref_id",
            )
        )
        # a term of the same (name, cv) that has an internal-db accession
        # (a genome load's type) takes the file's accession and attributes:
        # a twin would break Chado's (name, cv_id, is_obsolete) key
        internal_terms = t["cvterm"].join(
            t["dbxref"].filter(F.col("db_id") == internal), "dbxref_id", "left_semi"
        ).select("cvterm_id", "name", "cv_id", F.col("dbxref_id").alias("old_dbxref_id"))
        adopted = new_terms.join(internal_terms, ["name", "cv_id"]).localCheckpoint()
        t["cvterm"] = (
            t["cvterm"]
            .join(adopted.select("cvterm_id"), "cvterm_id", "left_anti")
            .select(*t["cvterm"].columns)
            .unionByName(adopted.select(*t["cvterm"].columns))
            .localCheckpoint()
        )
        replaced = adopted.select(F.col("old_dbxref_id").alias("dbxref_id"))
        t["dbxref"] = (
            t["dbxref"]
            .join(replaced, "dbxref_id", "left_anti")
            .select(*t["dbxref"].columns)
            .localCheckpoint()
        )
        t["cvterm"], new_terms = append(
            t["cvterm"],
            new_terms.join(adopted.select("name", "cv_id"), ["name", "cv_id"], "left_anti"),
            id_col="cvterm_id",
            order_by=["ord", "accession"],
        )
        new_keyed = new_terms.select("cvterm_id", "accession").unionByName(
            adopted.select("cvterm_id", "accession")
        )
        counts["new_cvterms"] = new_keyed.count()
        add_children(new_keyed, st_alt.join(new_keyed, "accession").localCheckpoint())

        # 5. relationships: triple key resolution (M5) + EXCEPT (M6)
        resolved = self.chado.resolve_terms(rels, "subject", "object", "type").select(
            "object_id", "subject_id", "type_id"
        )
        t["cvterm_relationship"], new_rels = find_or_create(
            t["cvterm_relationship"], resolved, ["object_id", "subject_id", "type_id"]
        )
        counts["new_relationships"] = new_rels.count()
        return counts

    # -- query helpers for tests / exports ------------------------------
    def cvterm_count(self, cv: str, obsolete: int = 0) -> int:
        cvrow = self.tables["cv"].filter(F.col("name") == cv).first()
        if cvrow is None:
            return 0
        return (
            self.tables["cvterm"]
            .filter(
                (F.col("cv_id") == cvrow.cv_id)
                & (F.col("is_obsolete") == obsolete)
                & (F.col("is_relationshiptype") == 0)
            )
            .count()
        )

    def subject_count(self, object_name: str, rel_type: str) -> int:
        ct = self.tables["cvterm"]
        obj = ct.filter(F.col("name") == object_name).select(
            F.col("cvterm_id").alias("object_id")
        )
        typ = ct.filter(F.col("name") == rel_type).select(
            F.col("cvterm_id").alias("type_id")
        )
        return (
            self.tables["cvterm_relationship"]
            .join(obj, "object_id", "left_semi")
            .join(typ, "type_id", "left_semi")
            .count()
        )

    def object_count(self, subject_name: str, rel_type: str | None = None) -> int:
        ct = self.tables["cvterm"]
        sub = ct.filter(F.col("name") == subject_name).select(
            F.col("cvterm_id").alias("subject_id")
        )
        out = self.tables["cvterm_relationship"].join(sub, "subject_id", "left_semi")
        if rel_type is not None:
            typ = ct.filter(F.col("name") == rel_type).select(
                F.col("cvterm_id").alias("type_id")
            )
            out = out.join(typ, "type_id", "left_semi")
        return out.count()


def drop_ontology(
    loader: ChadoOntologyLoader, namespace: str, partial: bool = False
) -> dict[str, int]:
    """dropontofromchado equivalent: delete a whole cv namespace.

    Reference: ``lib/Modware/Load/Command/dropontofromchado.pm`` +
    ``Modware::Loader::Ontology::Manager::delete_ontology`` — look up the
    cv by exact name (or prefix when ``partial``), delete its cvterms
    (the RDBMS cascades to relationship/synonym/prop/dbxref-link rows —
    emulated here with anti-joins) and then sweep dbxrefs no cvterm
    references anymore (``delete_dbxrefs``). The cv row and its cvprop
    metadata stay, exactly like the reference — reloading the same file
    afterwards needs ``force=True`` past the version gate.
    """
    t = loader.tables
    cv = t["cv"].filter(
        F.col("name").startswith(namespace) if partial else F.col("name") == namespace
    )
    cv_ids = cv.select("cv_id")
    if cv_ids.isEmpty():
        return {"dropped_cvterms": 0, "dropped_dbxrefs": 0}

    doomed = t["cvterm"].join(F.broadcast(cv_ids), "cv_id", "left_semi")
    doomed_ids = doomed.select("cvterm_id").localCheckpoint()
    n_terms = doomed_ids.count()

    t["cvterm"] = t["cvterm"].join(doomed_ids, "cvterm_id", "left_anti").localCheckpoint()
    _cascade_cvterm_delete(t, doomed_ids)

    # delete_dbxrefs: sweep dbxrefs referenced by no remaining cvterm or
    # cvterm_dbxref link
    referenced = (
        t["cvterm"].select("dbxref_id")
        .unionByName(t["cvterm_dbxref"].select("dbxref_id"))
        .distinct()
    )
    before = t["dbxref"].count()
    t["dbxref"] = t["dbxref"].join(referenced, "dbxref_id", "left_semi").localCheckpoint()
    return {"dropped_cvterms": n_terms, "dropped_dbxrefs": before - t["dbxref"].count()}
