"""chado2genesummary export (reference chado2genesummary.pm +
WithMediaWikiFormatter.pm; golden fragments from t/export/gene_summary.t).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from modware_loader_spark.plans.gene_summary import (
    attach_pmid_maps,
    convert_tags_to_wiki,
    gene_summaries,
    resolve_author,
)
from modware_loader_spark.plans.gff3_load import ChadoGFF3Loader


def _conv(spark, text, pmids=None):
    df = spark.createDataFrame([(text,)], "paragraph_text string")
    if pmids is not None:
        pm = spark.createDataFrame(pmids, "reference_no string, pmid string")
        df = attach_pmid_maps(df, pm)
        col = convert_tags_to_wiki(F.col("paragraph_text"), F.col("__pmids"))
    else:
        col = convert_tags_to_wiki(F.col("paragraph_text"))
    return df.select(col.alias("w")).first().w


def test_locus_go_tags(spark):
    assert (
        _conv(spark, 'see <locus gene_id="DDB_G0267472" name="roco7"/> gene')
        == "see [/gene/DDB_G0267472 roco7] gene"
    )
    assert (
        _conv(spark, '<go id="GO:0003924" term="GTPase activity"/>')
        == "[/ontology/go/GO:0003924/annotation/page/1 GTPase activity]"
    )


def test_reference_pmid_attribute(spark):
    got = _conv(spark, '(<reference pmid="14654223">Bosgraaf 2003</reference>)')
    assert got == "([http://www.ncbi.nlm.nih.gov/pubmed/14654223 Bosgraaf 2003])"


def test_reference_no_lookup(spark):
    text = (
        '<reference reference_no="1584">Bosgraaf and Van Haastert 2003'
        '</reference> and <reference reference_no="145">van Egmond 2010</reference>'
    )
    got = _conv(spark, text, pmids=[("1584", "14654223"), ("145", "20348387")])
    assert got == (
        "[http://www.ncbi.nlm.nih.gov/pubmed/14654223 Bosgraaf and Van Haastert 2003]"
        " and [http://www.ncbi.nlm.nih.gov/pubmed/20348387 van Egmond 2010]"
    )
    # unresolved reference_no: tag left alone (reference warns + skips)
    got2 = _conv(spark, '<reference reference_no="9">x</reference>', pmids=[])
    assert got2 == '<reference reference_no="9">x</reference>'


def test_trim_and_html(spark):
    text = '<summary paragraph_no="1">a kinase\ndomain <i>Dictyostelium</i>  x' \
        "<br/> <curation_status>done KP</curation_status></summary>"
    got = _conv(spark, text)
    assert got == "a kinasedomain ''Dictyostelium'' x<br /> done KP"


def test_author_mapping(spark):
    df = spark.createDataFrame(
        [("PF",), ("CGM_DDB_BOBD",), ("JDOE",)], "written_by string"
    )
    got = [r.a for r in df.select(resolve_author(F.col("written_by")).alias("a")).collect()]
    assert got == ["Petra Fey", "Robert Dodson", "JDOE"]


def test_gene_summaries_join(spark):
    ldr = ChadoGFF3Loader(spark)
    ldr.tables["cv"] = spark.createDataFrame(
        [(1, "sequence"), (2, "autocreated")], ldr.tables["cv"].schema
    )
    ldr.tables["cvterm"] = spark.createDataFrame(
        [(1, "gene", None, 0, 0, 1, 1), (2, "paragraph_no", None, 0, 0, 2, 2),
         (3, "mRNA", None, 0, 0, 1, 3)],
        ldr.tables["cvterm"].schema,
    )
    ldr.tables["feature"] = spark.createDataFrame(
        [(10, "DDB_G1", "g1", 1, 1, 100, None, None, None),
         (11, "DDB_G2", "g2", 1, 1, 101, None, None, None),
         (12, "DDB_G1.t", "t1", 3, 1, 102, None, None, None)],
        ldr.tables["feature"].schema,
    )
    ldr.tables["dbxref"] = spark.createDataFrame(
        [(100, "DDB_G0001", 1), (101, "DDB_G0002", 1), (102, "DDB_T0001", 1)],
        "dbxref_id long, accession string, db_id long",
    )
    ldr.tables["featureprop"] = spark.createDataFrame(
        [(10, "41", 2), (11, "42", 2), (12, "43", 2), (10, "note", 3)],
        "feature_id long, value string, type_id long",
    )
    paragraphs = spark.createDataFrame(
        [(41, "PF", 'gene one <locus gene_id="DDB_G0002" name="g2"/>'),
         (42, "XY", "plain"),
         (99, "ZZ", "orphan")],
        "paragraph_no long, written_by string, paragraph_text string",
    )
    out = gene_summaries(ldr, paragraphs).orderBy("accession").collect()
    # mRNA prop (43) and orphan paragraph (99) drop; only gene-typed
    # features with live paragraphs export
    assert [(r.accession, r.author) for r in out] == [
        ("DDB_G0001", "Petra Fey"),
        ("DDB_G0002", "XY"),
    ]
    assert out[0].wiki == "gene one [/gene/DDB_G0002 g2]"
