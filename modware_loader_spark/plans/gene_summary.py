"""chado2genesummary export: gene paragraph props → (gene id, author, wiki).

Reference: ``lib/Modware/Export/Command/chado2genesummary.pm`` — one SQL
pulling ``paragraph_no`` featureprops of gene features (:92-102), then a
row-at-a-time legacy ``Paragraph`` lookup (:108-112) + author proper-name
mapping (:66-84) + MediaWiki conversion
(``lib/Modware/Role/Command/WithMediaWikiFormatter.pm:58-105``).

Spark shape: the N+1 paragraph lookups become ONE broadcast-or-shuffle join
on ``paragraph_no``; the author mapping is a tiny literal map lookup; the
tag→wiki conversion is a JVM ``regexp_replace`` chain plus — for the
reference_no→PMID resolution, which needs a per-row dynamic mapping — an
``aggregate`` over the row's own extracted (reference_no, pmid) pairs with
``regexp_replace`` as the merge, so the whole export stays codegen'd
(no Python UDFs). The HTML→MediaWiki step is approximate (the reference
shells out to HTML::WikiConverter; its own golden test is disabled): the
tags the dicty corpus actually uses (locus/go/reference/curation_status,
i/b/br) are covered.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# chado2genesummary.pm:66-84
PROPER_NAMES = {
    "PF": "Petra Fey",
    "CGM_DDB_PFEY": "Petra Fey",
    "RD": "Robert Dodson",
    "CGM_DDB_BOBD": "Robert Dodson",
    "PG": "Pascale Gaudet",
    "CGM_DDB_PASC": "Pascale Gaudet",
    "CGM_DDB_KPIL": "Karen Kestin",
}


def resolve_author(col, names: dict | None = None) -> F.Column:
    """written_by initials → proper name, pass-through otherwise."""
    names = PROPER_NAMES if names is None else names
    m = F.create_map(*[F.lit(x) for x in chain.from_iterable(names.items())])
    return F.coalesce(F.element_at(m, col), col)


def convert_tags_to_wiki(col, pmid_map: F.Column | None = None) -> F.Column:
    """The formatter's tag rewrites (WithMediaWikiFormatter.pm:58-105) as a
    regexp chain, emitting MediaWiki links directly (the reference goes
    tag → <a href> → wiki; the composition is the same string).

    ``pmid_map``: optional map<string,string> column of reference_no →
    PMID for this row (see ``attach_pmid_maps``); ``pmid="..."`` attributes
    resolve without it.
    """
    s = col
    # <locus gene_id name/> → [/gene/id name] (either attribute order)
    s = F.regexp_replace(
        s, r'<locus\s+gene_id="([^"]+)"\s+name="([^"]+)"\s*/>', r"[/gene/$1 $2]"
    )
    s = F.regexp_replace(
        s, r'<locus\s+name="([^"]+)"\s+gene_id="([^"]+)"\s*/>', r"[/gene/$2 $1]"
    )
    # <go id term/> → [/ontology/go/id/annotation/page/1 term]
    s = F.regexp_replace(
        s,
        r'<go\s+id="([^"]+)"\s+term="([^"]+)"\s*/>',
        r"[/ontology/go/$1/annotation/page/1 $2]",
    )
    # <reference pmid="N">text</reference> → [pubmed-url text]
    s = F.regexp_replace(
        s,
        r'<reference[^>]*\spmid="(\d+)"[^>]*>([^<]*)</reference>',
        r"[http://www.ncbi.nlm.nih.gov/pubmed/$1 $2]",
    )
    if pmid_map is not None:
        # per-row dynamic reference_no → pmid: fold the row's pairs through
        # regexp_replace (JVM aggregate, no UDF)
        entries = F.map_entries(pmid_map)
        s = F.aggregate(
            entries,
            s,
            lambda acc, e: F.regexp_replace(
                acc,
                F.concat(
                    F.lit(r'<reference\s+reference_no="'),
                    e["key"],
                    F.lit(r'"[^>]*>([^<]*)</reference>'),
                ),
                F.concat(
                    F.lit("[http://www.ncbi.nlm.nih.gov/pubmed/"),
                    e["value"],
                    F.lit(" $1]"),
                ),
            ),
        )
    # <curation_status>text</curation_status> → text
    s = F.regexp_replace(s, r"<curation_status>([^<]*)</curation_status>", r"$1")
    # strip the <summary> wrapper
    s = F.regexp_replace(s, r"</?summary[^>]*>", "")
    # trim() parity (pm:107-113): kill newlines outright, tabs → spaces
    s = F.regexp_replace(s, r"[\n\r]", "")
    s = F.regexp_replace(s, r"\t", " ")
    # minimal html2wiki: italics/bold/br + whitespace collapse
    s = F.regexp_replace(s, r"<i>(.*?)</i>", r"''$1''")
    s = F.regexp_replace(s, r"<b>(.*?)</b>", r"'''$1'''")
    s = F.regexp_replace(s, r"<br\s*/?>", "<br />")
    s = F.regexp_replace(s, r" {2,}", " ")
    return F.trim(s)


def attach_pmid_maps(df: DataFrame, pmid_map: DataFrame, text_col: str = "paragraph_text") -> DataFrame:
    """Per row, collect the map of reference_no → PMID for the reference
    tags the text actually uses (formatter ``_build_pub_id_pmid``).

    ``pmid_map``: (reference_no string, pmid string) — in the reference,
    chado pub.uniquename by pub_id overlaid with legacy PUBMED refs. One
    explode + broadcast join + groupBy re-collect; rows with no reference
    tags skip the shuffle via the left join's null map.
    """
    refs = F.regexp_extract_all(
        F.col(text_col), F.lit(r'<reference\s+reference_no="(\d+)"'), 1
    )
    key_cols = [c for c in df.columns]
    with_refs = df.withColumn("__ref_no", F.explode_outer(F.array_distinct(refs)))
    resolved = with_refs.join(
        F.broadcast(pmid_map.withColumnsRenamed({"reference_no": "__ref_no"})),
        "__ref_no",
        "left",
    )
    return (
        resolved.groupBy(*key_cols)
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.when(
                        F.col("__ref_no").isNotNull() & F.col("pmid").isNotNull(),
                        F.struct(F.col("__ref_no").alias("key"), F.col("pmid").alias("value")),
                    )
                )
            ).alias("__pmids")
        )
    )


def gene_summaries(
    loader,
    paragraphs: DataFrame,
    pmid_map: DataFrame | None = None,
) -> DataFrame:
    """→ (accession, author, wiki): the export's three TSV columns.

    ``loader``: a ChadoGFF3Loader-shaped object (tables featureprop/feature/
    dbxref/cvterm). ``paragraphs``: legacy Paragraph table
    (paragraph_no, written_by, paragraph_text).
    """
    t, cvterm = loader.tables, loader.chado.term_ids()
    para_type = cvterm.where(F.col("name") == "paragraph_no").select(
        F.col("cvterm_id").alias("type_id")
    )
    gene_type = cvterm.where(F.col("name") == "gene").select(
        F.col("cvterm_id").alias("type_id")
    )
    genes = (
        t["feature"]
        .join(F.broadcast(gene_type), "type_id")
        .select("feature_id", "dbxref_id")
        .join(t["dbxref"].select("dbxref_id", "accession"), "dbxref_id")
    )
    props = (
        t["featureprop"]
        .join(F.broadcast(para_type), "type_id")
        .select("feature_id", F.col("value").alias("paragraph_no"))
    )
    joined = (
        props.join(genes, "feature_id")
        .join(
            paragraphs.withColumn(
                "paragraph_no", F.col("paragraph_no").cast("string")
            ),
            "paragraph_no",
        )
        .select("accession", "written_by", "paragraph_text")
    )
    if pmid_map is not None:
        joined = attach_pmid_maps(joined, pmid_map)
        wiki = convert_tags_to_wiki(F.col("paragraph_text"), F.col("__pmids"))
    else:
        wiki = convert_tags_to_wiki(F.col("paragraph_text"))
    return joined.select(
        "accession",
        resolve_author(F.col("written_by")).alias("author"),
        wiki.alias("wiki"),
    )
