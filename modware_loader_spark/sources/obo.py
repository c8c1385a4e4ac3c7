"""OBO ontology source scan (reference S2): parse an OBO 1.2 file into a
header dict + term/relationship/synonym/alt_id staging DataFrames.

The reference parses with ONTO-PERL (``lib/Modware/Load/Command/
obo2chado.pm:44-45``) and shapes staging rows in
``lib/Modware/Loader/Role/Ontology/Temp/Generic.pm:38-203``:
- term id ``DB:ACC`` → (db, accession); bare ids → db 'internal'
  (``WithChadoHelper.pm:131-155``),
- name falls back to the id; obsolete terms get ``<name> (obsolete <id>)``
  and is_obsolete=1 (``Temp/Generic.pm:140-149``),
- [Typedef] stanzas → is_relationshiptype=1,
- namespace tag → cv, else the ontology default-namespace,
- synonyms carry their scope (EXACT/BROAD/NARROW/RELATED),
- is_a + relationship tags → (subject, object, type) edge rows.

Spark shape: line scan → stanza ids via a chunked two-phase running count
of stanza headers (``sources/stitch.py`` — no single-partition window) →
per-stanza pivot aggregation; everything is partition-parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modware_loader_spark.sources.stitch import line_index, running_stitch

MULTI_KEYS = ("synonym", "is_a", "relationship", "alt_id", "subset", "xref")
SINGLE_KEYS = ("id", "name", "namespace", "def", "comment", "is_obsolete")


def _strip_trailing_comment(col):
    """Drop OBO trailing ``! human readable`` comments from id values."""
    return F.trim(F.substring_index(col, " ! ", 1))


def _normalize(col):
    """DB:ACC → struct(db, accession); bare → (internal, id)."""
    has = F.instr(col, ":") > 0
    return F.struct(
        F.when(has, F.substring_index(col, ":", 1)).otherwise(F.lit("internal")).alias("db"),
        F.when(has, F.substring_index(col, ":", -1)).otherwise(col).alias("accession"),
    )


def parse_obo(spark: SparkSession, path: str) -> dict:
    """Returns {header: dict, terms, relationships, synonyms, alt_ids}."""
    lines = line_index(spark, path)
    is_header = F.col("line").isin("[Term]", "[Typedef]")
    tagged = (
        running_stitch(
            lines,
            counts={"stanza_id": is_header},
            lasts={"stanza_type": F.when(is_header, F.col("line"))},
        )
        .filter(~is_header & (F.trim("line") != ""))
        .withColumn("key", F.regexp_extract("line", r"^([\w-]+):", 1))
        .withColumn("value", F.trim(F.regexp_replace("line", r"^[\w-]+:\s*", "")))
        .filter(F.col("key") != "")
        .localCheckpoint()
    )

    header = {
        r.key: r.value
        for r in tagged.filter(F.col("stanza_id") == 0).select("key", "value").collect()
    }
    default_ns = header.get("default-namespace") or header.get("ontology")

    def first_of(key):
        return F.first(F.when(F.col("key") == key, F.col("value")), ignorenulls=True)

    def all_of(key):
        return F.sort_array(
            F.collect_list(
                F.when(F.col("key") == key, F.struct(F.col("idx"), F.col("value")))
            )
        )

    stanzas = (
        tagged.filter(F.col("stanza_id") > 0)
        .groupBy("stanza_id", "stanza_type")
        .agg(
            first_of("id").alias("raw_id"),
            first_of("name").alias("raw_name"),
            first_of("namespace").alias("namespace"),
            first_of("def").alias("raw_def"),
            first_of("comment").alias("comment"),
            first_of("is_obsolete").alias("raw_obsolete"),
            all_of("synonym").alias("raw_synonyms"),
            all_of("is_a").alias("raw_is_a"),
            all_of("relationship").alias("raw_rel"),
            all_of("alt_id").alias("raw_alt_ids"),
            all_of("xref").alias("raw_xrefs"),
        )
        .filter(F.col("raw_id").isNotNull())
    )

    norm = _normalize(F.col("raw_id"))
    def_text = F.when(
        F.col("raw_def").isNotNull(),
        F.regexp_replace(
            F.regexp_extract("raw_def", r'^"((?:[^"\\]|\\.)*)"', 1), r'\\(["\\])', "$1"
        ),
    )
    base_name = F.coalesce(F.col("raw_name"), F.col("raw_id"))
    is_obs = (F.col("raw_obsolete") == "true").cast("int")
    terms = stanzas.select(
        F.col("stanza_id").alias("ord"),
        norm["db"].alias("db"),
        norm["accession"].alias("accession"),
        F.when(
            is_obs == 1,
            F.concat(base_name, F.lit(" (obsolete "), F.col("raw_id"), F.lit(")")),
        )
        .otherwise(base_name)
        .alias("name"),
        def_text.alias("definition"),
        F.col("comment").alias("cmmnt"),
        F.coalesce(is_obs, F.lit(0)).alias("is_obsolete"),
        (F.col("stanza_type") == "[Typedef]").cast("int").alias("is_relationshiptype"),
        F.coalesce(F.col("namespace"), F.lit(default_ns)).alias("cv"),
        F.col("raw_id"),
        F.col("raw_synonyms"),
        F.col("raw_is_a"),
        F.col("raw_rel"),
        F.col("raw_alt_ids"),
        F.col("raw_xrefs"),
    ).localCheckpoint()

    subj = _normalize(F.col("raw_id"))
    is_a_edges = terms.select(
        subj["db"].alias("subject_db"),
        subj["accession"].alias("subject"),
        F.explode("raw_is_a").alias("e"),
    ).select(
        "subject_db",
        "subject",
        _normalize(_strip_trailing_comment(F.col("e.value")))["db"].alias("object_db"),
        _normalize(_strip_trailing_comment(F.col("e.value")))["accession"].alias("object"),
        F.lit("internal").alias("type_db"),
        F.lit("is_a").alias("type"),
    )
    rel_val = _strip_trailing_comment(F.col("e.value"))
    rel_edges = terms.select(
        subj["db"].alias("subject_db"),
        subj["accession"].alias("subject"),
        F.explode("raw_rel").alias("e"),
    ).select(
        "subject_db",
        "subject",
        _normalize(F.element_at(F.split(rel_val, r"\s+"), 2))["db"].alias("object_db"),
        _normalize(F.element_at(F.split(rel_val, r"\s+"), 2))["accession"].alias("object"),
        _normalize(F.element_at(F.split(rel_val, r"\s+"), 1))["db"].alias("type_db"),
        _normalize(F.element_at(F.split(rel_val, r"\s+"), 1))["accession"].alias("type"),
    )
    relationships = is_a_edges.unionByName(rel_edges)

    syn_text = F.regexp_replace(
        F.regexp_extract(F.col("e.value"), r'^"((?:[^"\\]|\\.)*)"', 1),
        r'\\(["\\])',
        "$1",
    )
    syn_scope = F.regexp_extract(F.col("e.value"), r'"\s+(EXACT|BROAD|NARROW|RELATED)', 1)
    synonyms = terms.select(
        "db", "accession", F.explode("raw_synonyms").alias("e")
    ).select(
        "db",
        "accession",
        syn_text.alias("syn"),
        F.when(syn_scope == "", "RELATED").otherwise(syn_scope).alias("scope"),
    )

    alt = _normalize(_strip_trailing_comment(F.col("e.value")))
    alt_ids = terms.select(
        "db", "accession", F.explode("raw_alt_ids").alias("e")
    ).select("db", "accession", alt["db"].alias("alt_db"), alt["accession"].alias("alt_id"))

    # xref tags (used by the adhoc loader's include_metadata path; quoted
    # descriptions after the id are dropped like ONTO-PERL does)
    xr = _normalize(_strip_trailing_comment(F.element_at(F.split(F.col("e.value"), r'\s+"'), 1)))
    xrefs = terms.select(
        "db", "accession", F.explode("raw_xrefs").alias("e")
    ).select("db", "accession", xr["db"].alias("xref_db"), xr["accession"].alias("xref_id"))

    return {
        "header": header,
        "terms": terms.drop("raw_synonyms", "raw_is_a", "raw_rel", "raw_alt_ids", "raw_xrefs"),
        "relationships": relationships,
        "synonyms": synonyms,
        "alt_ids": alt_ids,
        "xrefs": xrefs,
    }
