"""adhocobo2chado: the "adhoc" ontology loader variant.

Reference: ``lib/Modware/Load/Command/adhocobo2chado.pm`` +
``lib/Modware/Loader/Adhoc/Ontology.pm``. Differences from obo2chado that
this module encodes (everything else — tables, id spaces, merge machinery —
is shared with ``plans/ontology_load.py``):

- every term (Typedefs included) lands in the ontology's single
  default-namespace cv, ignoring per-term ``namespace`` tags
  (``load_namespaces``, Adhoc/Ontology.pm:94-104);
- ids without an idspace prefix get ``db = cv name`` and the full id as
  accession (``_insert_term``, :68-79) — obo2chado uses the ``internal`` db;
- existing terms are updated ONLY when the obsolete flag flips, and then
  only ``is_obsolete`` + ``definition`` — never the name
  (``_update_term``, :56-66);
- term metadata (comment/synonyms/xrefs/alt_ids) loads only with
  ``include_metadata`` (adhocobo2chado.pm:16-23): created for new terms,
  delete-then-recreate for existing ones (:58-72);
- no prune, no version gate;
- relationships are skipped (with a count, where the reference logs an
  error) when the relation type, subject, or object is not already in
  storage (``create_relationship``, :117-152), and existing edges are
  skipped.

Spark shape: one (accession, db_id) equi-join classifies every staged term
as insert/update; metadata refresh is anti-join-delete + append per child
table; relationship resolution is three joins against the broadcast
cvterm⋈dbxref key map of the one cv — identical physical shape to the main
loader, minus the prune pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modware_loader_spark.operators.merge import append, find_or_create
from modware_loader_spark.plans.ontology_load import ChadoOntologyLoader
from modware_loader_spark.sources.obo import parse_obo


def _rekey(df: DataFrame, cv_name: str, cols: list[tuple[str, str]]) -> DataFrame:
    """Adhoc id rule: parse_obo normalizes bare ids to the ``internal``
    db; the adhoc loader uses the cv name instead (accession stays the
    full id, which parse_obo already kept)."""
    for db_col, _ in cols:
        df = df.withColumn(
            db_col,
            F.when(F.col(db_col) == "internal", F.lit(cv_name)).otherwise(
                F.col(db_col)
            ),
        )
    return df


def adhoc_load(
    onto: ChadoOntologyLoader, path: str, include_metadata: bool = False
) -> dict[str, int]:
    """Load an OBO file with adhoc semantics into ``onto``'s catalog."""
    spark = onto.spark
    counts: dict[str, int] = {}
    parsed = parse_obo(spark, path)
    cv_name = parsed["header"].get("default-namespace") or parsed["header"].get(
        "ontology"
    )
    if not cv_name:
        raise ValueError("OBO file has neither default-namespace nor ontology header")

    # load_namespaces: global cv + _global db + helper namespaces
    onto.bootstrap()
    onto.chado.find_or_create_names("db", ["_global", "internal"])
    onto.chado.find_or_create_names("cv", [cv_name])
    cv_id = (
        onto.tables["cv"].filter(F.col("name") == cv_name).first().cv_id
    )

    terms = _rekey(parsed["terms"], cv_name, [("db", "accession")]).withColumn(
        # adhoc never decorates obsolete names (obo2chado's parse does)
        "name",
        F.regexp_replace(F.col("name"), r" \(obsolete [^)]*\)$", ""),
    )

    db_names = (
        terms.select(F.col("db").alias("name"))
        .unionByName(
            _rekey(parsed["alt_ids"], cv_name, [("alt_db", "alt_id")]).select(
                F.col("alt_db").alias("name")
            )
        )
        .unionByName(
            _rekey(parsed["xrefs"], cv_name, [("xref_db", "xref_id")]).select(
                F.col("xref_db").alias("name")
            )
        )
        .distinct()
    )
    onto.tables["db"], _ = find_or_create(onto.tables["db"], db_names, ["name"], "db_id")
    db_dim = F.broadcast(onto.tables["db"])

    st = (
        terms.join(db_dim.withColumnsRenamed({"name": "db"}), "db")
        .select(
            "ord", "db", "accession", "db_id", "name", "definition", "cmmnt",
            "is_obsolete", "is_relationshiptype",
        )
        .localCheckpoint()
    )

    cvterm, dbxref = onto.tables["cvterm"], onto.tables["dbxref"]
    keyed = (
        cvterm.filter(F.col("cv_id") == cv_id)
        .join(dbxref, "dbxref_id")
        .select("cvterm_id", "accession", "db_id", F.col("is_obsolete").alias("live_obs"))
    )
    existing = st.join(keyed, ["accession", "db_id"]).localCheckpoint()
    counts["existing_terms"] = existing.count()

    # _update_term: flip-only SCD of is_obsolete + definition
    flips = existing.filter(F.col("is_obsolete") != F.col("live_obs")).select(
        "cvterm_id",
        F.col("is_obsolete").alias("__obs"),
        F.col("definition").alias("__def"),
    )
    counts["updated_terms"] = flips.count()
    if counts["updated_terms"]:
        onto.tables["cvterm"] = (
            onto.tables["cvterm"]
            .join(flips, "cvterm_id", "left")
            .select(
                "cvterm_id",
                "name",
                F.coalesce("__def", "definition").alias("definition"),
                F.coalesce("__obs", "is_obsolete").alias("is_obsolete"),
                "is_relationshiptype",
                "cv_id",
                "dbxref_id",
            )
            .localCheckpoint()
        )

    # _insert_term for the rest
    fresh = st.join(keyed.select("accession", "db_id"), ["accession", "db_id"], "left_anti")
    counts["inserted_terms"] = fresh.count()
    if counts["inserted_terms"]:
        acc_keys = ["accession", "db_id"]
        onto.tables["dbxref"], _ = find_or_create(
            onto.tables["dbxref"], fresh.select(*acc_keys), acc_keys, "dbxref_id"
        )
        onto.tables["cvterm"], _ = append(
            onto.tables["cvterm"],
            fresh.join(onto.tables["dbxref"], acc_keys).select(
                "accession", "db_id", "dbxref_id", "name", "definition",
                "is_obsolete", "is_relationshiptype", F.lit(cv_id).alias("cv_id"),
            ),
            id_col="cvterm_id",
            order_by=["db_id", "accession"],
        )

    if include_metadata:
        counts.update(_refresh_metadata(onto, parsed, cv_name, cv_id, existing))

    counts.update(_create_relationships(onto, parsed, cv_name, cv_id))
    return counts


def _refresh_metadata(
    onto: ChadoOntologyLoader,
    parsed: dict,
    cv_name: str,
    cv_id: int,
    existing: DataFrame,
) -> dict[str, int]:
    """create_* for new terms, delete+create for existing
    (adhocobo2chado.pm:58-72). Child sets: synonyms → cvtermsynonym,
    comment/alt ids → cvtermprop-like rows, xrefs/alt_ids → cvterm_dbxref."""
    spark = onto.spark
    counts: dict[str, int] = {}
    scope_ids = onto._scope_term_ids()
    comment_type_id = onto.chado.term_id("comment", "cvterm_property_type")
    keyed = (
        onto.tables["cvterm"]
        .filter(F.col("cv_id") == cv_id)
        .join(onto.tables["dbxref"], "dbxref_id")
        .select("cvterm_id", "accession", "db_id")
        .localCheckpoint()
    )
    dbmap = F.broadcast(onto.tables["db"])

    def keyed_join(df: DataFrame) -> DataFrame:
        return df.join(
            dbmap.withColumnsRenamed({"name": "db"}), "db"
        ).join(keyed, ["accession", "db_id"])

    exist_ids = existing.select("cvterm_id")

    syn = keyed_join(
        _rekey(parsed["synonyms"], cv_name, [("db", "accession")])
    ).join(scope_ids, "scope")
    onto.tables["cvtermsynonym"], _ = append(
        onto.tables["cvtermsynonym"].join(exist_ids, "cvterm_id", "left_anti"),
        syn.select(
            "cvterm_id", F.col("syn").alias("synonym"), F.col("scope_id").alias("type_id")
        ),
    )
    counts["synonyms"] = onto.tables["cvtermsynonym"].count()

    cm = keyed_join(
        _rekey(
            parsed["terms"].filter(F.col("cmmnt").isNotNull()), cv_name,
            [("db", "accession")],
        ).select("db", "accession", "cmmnt")
    )
    comment_of = F.lit(comment_type_id).cast("long").alias("type_id")
    onto.tables["cvtermprop"], _ = append(
        onto.tables["cvtermprop"].join(
            exist_ids.select("cvterm_id", comment_of), ["cvterm_id", "type_id"], "left_anti"
        ),
        cm.select("cvterm_id", comment_of, F.col("cmmnt").alias("value")),
    )
    counts["comments"] = cm.count()

    # alt_ids + xrefs → dbxref + cvterm_dbxref links
    links = (
        keyed_join(
            _rekey(parsed["alt_ids"], cv_name, [("alt_db", "alt_id")]).select(
                "db", "accession",
                F.col("alt_db").alias("xdb"), F.col("alt_id").alias("xacc"),
            )
        )
        .unionByName(
            keyed_join(
                _rekey(parsed["xrefs"], cv_name, [("xref_db", "xref_id")]).select(
                    "db", "accession",
                    F.col("xref_db").alias("xdb"), F.col("xref_id").alias("xacc"),
                )
            )
        )
        .join(
            dbmap.withColumnsRenamed({"name": "xdb", "db_id": "xdb_id"}), "xdb"
        )
        .select("cvterm_id", F.col("xacc").alias("accession"), F.col("xdb_id").alias("db_id"))
        .localCheckpoint()
    )
    onto.tables["dbxref"], _ = find_or_create(
        onto.tables["dbxref"], links.select("accession", "db_id"),
        ["accession", "db_id"], "dbxref_id",
    )
    link_rows = links.join(onto.tables["dbxref"], ["accession", "db_id"]).select(
        "cvterm_id", "dbxref_id"
    )
    # set semantics: (kept ∪ link_rows).distinct()
    onto.tables["cvterm_dbxref"], _ = find_or_create(
        onto.tables["cvterm_dbxref"].join(exist_ids, "cvterm_id", "left_anti").distinct(),
        link_rows,
        ["cvterm_id", "dbxref_id"],
    )
    counts["term_xrefs"] = link_rows.count()
    return counts


def _create_relationships(
    onto: ChadoOntologyLoader, parsed: dict, cv_name: str, cv_id: int
) -> dict[str, int]:
    """Skip-if-unresolved edge insert (Adhoc/Ontology.pm:117-152)."""
    rels = _rekey(
        parsed["relationships"], cv_name,
        [("subject_db", "subject"), ("object_db", "object"), ("type_db", "type")],
    )
    n_all = rels.count()
    resolved = (
        onto.chado.resolve_terms(rels, "subject", "object", "type")
        .filter(
            (F.col("subject_cv_id") == cv_id)
            & (F.col("object_cv_id") == cv_id)
            & (F.col("type_cv_id") == cv_id)
        )
        .select("subject_id", "object_id", "type_id")
        .distinct()
    )

    onto.tables["cvterm_relationship"], fresh = find_or_create(
        onto.tables["cvterm_relationship"], resolved, ["subject_id", "object_id", "type_id"]
    )
    return {
        "relationships": fresh.count(),
        "skipped_relationships": n_all - resolved.count() if n_all else 0,
    }
