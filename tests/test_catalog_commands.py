"""Load commands that share one catalog, driven through ``cli.main``:
each command restores the catalog's tables, loads into them and saves
them, so a second command (or a second run of the same one) keeps what
the first one loaded.

- ``gaf2chado`` twice: the second run continues the annotation ids and
  ranks (10 rows), it does not replace the first run's 5;
- ``dictystrain2chado`` then ``dictyplasmid2chado``: both stock sets stay;
- ``bibtex2chado`` twice: the second run finds every pub, and each pub
  type is a term of cv ``pub_type``;
- ``organism2chado`` twice keeps the organism ids, and a plasmid import
  on the same catalog finds the AX4 organism instead of adding one;
- ``gaf2chado`` after ``gff3tochado`` rewrites no file of ``feature``,
  which it only reads.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from modware_loader_spark import cli
from modware_loader_spark.catalog import (
    ChadoCatalog,
    restore_loader_state,
    save_loader_state,
)
from modware_loader_spark.plans.stock_import import StockImporter
from tests.test_loader_pinned import FIX, GAF_COUNTS


def _run(capsys, *argv) -> dict:
    assert cli.main(list(argv)) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _tables(spark, root, *names):
    got = ChadoCatalog(spark, root).load(list(names))
    assert sorted(got) == sorted(names), f"catalog lacks {set(names) - set(got)}"
    return got


def test_gaf2chado_twice_keeps_the_first_annotations(spark, capsys, tmp_path):
    root = str(tmp_path / "catalog")
    # the genes, GO terms, pubs and evidence codes pinned.gaf resolves
    # against, as Chado rows
    dims = {
        "feature": ([(1, "DDB_G0000001"), (2, "DDB_G0000002"), (3, "DDB_G0000003")],
                    "feature_id long, uniquename string"),
        "db": ([(1, "GO")], "db_id long, name string"),
        "dbxref": ([(1000, "0005515", 1), (1001, "0003676", 1)],
                   "dbxref_id long, accession string, db_id long"),
        "cvterm": ([(10, "protein binding", 1, 1000), (11, "nucleic acid binding", 1, 1001)],
                   "cvterm_id long, name string, cv_id long, dbxref_id long"),
        "pub": ([(100, "PMID:100"), (101, "PMID:200")], "pub_id long, uniquename string"),
        "cvtermsynonym": ([(201, "IPI"), (202, "IEA")], "cvterm_id long, synonym string"),
    }
    ChadoCatalog(spark, root).save(
        {name: spark.createDataFrame(rows, schema) for name, (rows, schema) in dims.items()}
    )
    gaf = os.path.join(FIX, "pinned.gaf")
    runs = tuple(_run(capsys, "gaf2chado", "--input", gaf, "--catalog", root) for _ in range(2))
    assert runs == GAF_COUNTS
    fc = _tables(spark, root, "feature_cvterm")["feature_cvterm"]
    assert fc.count() == 10
    assert fc.agg(F.max("feature_cvterm_id")).first()[0] == 10
    # the second run's ranks continue the first run's (U4)
    ranks = sorted(r.rank for r in fc.filter(F.col("cvterm_id") == 10).collect())
    assert ranks == [0, 0, 1, 1, 2, 3]


def test_strains_then_plasmids_keep_both(spark, capsys, tmp_path):
    root = str(tmp_path / "catalog")
    strains = _run(capsys, "dictystrain2chado", "--catalog", root,
                   "--input", os.path.join(FIX, "pinned_strains.tsv"))
    plasmids = _run(capsys, "dictyplasmid2chado", "--catalog", root,
                    "--input", os.path.join(FIX, "pinned_plasmids.tsv"))
    assert strains == {"invalid": 1, "new": 2, "existing": 0}
    assert plasmids == {"invalid": 0, "new": 2, "existing": 0}
    t = _tables(spark, root, "stock", "stockcollection_stock", "organism", "cv", "cvterm")
    assert sorted(r.uniquename for r in t["stock"].collect()) == [
        "DBP0000001", "DBP0000002", "DBS0000001", "DBS0000002",
    ]
    assert t["stockcollection_stock"].count() == 4
    # the strains' organisms, split at the first space
    assert sorted((r.genus, r.species) for r in t["organism"].collect()) == [
        ("Dictyostelium", "discoideum"), ("Dictyostelium", "discoideum AX4"),
    ]
    # the stock types are terms of the shared cv table
    stock_cv = t["cv"].filter(F.col("name") == "dicty_stockcenter").select("cv_id")
    types = t["cvterm"].join(stock_cv, "cv_id").select(
        F.col("cvterm_id").alias("type_id"), F.col("name").alias("type")
    )
    got = t["stock"].join(types, "type_id").groupBy("type").count().collect()
    assert sorted((r.type, r["count"]) for r in got) == [("plasmid", 2), ("strain", 2)]


def test_bibtex2chado_twice_creates_no_pub(spark, capsys, tmp_path):
    root = str(tmp_path / "catalog")
    bib = os.path.join(FIX, "pinned.bib")
    first = _run(capsys, "bibtex2chado", "--input", bib, "--catalog", root)
    second = _run(capsys, "bibtex2chado", "--input", bib, "--catalog", root)
    assert first == {"pub": 3, "pubauthor": 5, "pubprop": 4, "cvterm": 8}
    assert second == {"pub": 0, "pubauthor": 0, "pubprop": 0, "cvterm": 8}
    t = _tables(spark, root, "pub", "pubauthor", "pubprop", "cv", "cvterm")
    assert t["pub"].count() == 3 and t["pubauthor"].count() == 5
    pub_type = t["cv"].filter(F.col("name") == "pub_type").select("cv_id")
    types = t["cvterm"].join(pub_type, "cv_id").select(
        F.col("cvterm_id").alias("type_id"), "name"
    )
    assert types.count() == 8
    typed = t["pub"].join(types, "type_id")
    assert sorted((r.uniquename, r.name) for r in typed.collect()) == [
        ("0000004", "unpublished"), ("20443635", "journal_article"), ("3187", "unpublished"),
    ]
    assert t["pubprop"].join(types, "type_id").count() == 4
    # the non-PubMed pubs render back with their abstract
    out = str(tmp_path / "nonpub.bib")
    assert _run(capsys, "dictynonpub2bib", "--catalog", root, "--output", out,
                "--no_timestamp") == {"entries": 2}
    text = open(out).read()
    assert "abstract = {An EndNote abstract.}," in text
    assert "PubMed abstract" not in text


def test_organism2chado_twice_keeps_the_ids(spark, capsys, tmp_path):
    root = str(tmp_path / "catalog")
    tsv = os.path.join(FIX, "amoebozoa.tsv")

    def organisms():
        org = _tables(spark, root, "organism")["organism"]
        return sorted((r.genus, r.species, r.organism_id) for r in org.collect())

    _run(capsys, "organism2chado", "--input", tsv, "--catalog", root)
    first = organisms()
    _run(capsys, "organism2chado", "--input", tsv, "--catalog", root)
    assert organisms() == first
    assert len(first) == 5
    ax4 = next(oid for genus, species, oid in first if species == "discoideum AX4")

    # a plasmid sequence of the default organism lands on the AX4 row
    catalog = ChadoCatalog(spark, root)
    imp = StockImporter(spark)
    restore_loader_state(imp, catalog)
    imp.import_stock(
        spark.createDataFrame([("DBP0000001", "p1", None)],
                              "plasmid_id string, plasmid_name string, plasmid_descr string"),
        stock_type="plasmid", id_col="plasmid_id", name_col="plasmid_name",
        species_col=None, descr_col="plasmid_descr",
    )
    imp.import_plasmid_sequences(spark.createDataFrame(
        [("DBP0000001", "AY123456", "GGGCCC")], "dbp_id string, seq_id string, sequence string"
    ))
    save_loader_state(imp, catalog)
    assert organisms() == first
    feature = _tables(spark, root, "feature")["feature"]
    assert [r.organism_id for r in feature.collect()] == [ax4]


def test_gaf2chado_leaves_the_genome_files(spark, capsys, tmp_path):
    """A load command writes only the tables it changed: ``gaf2chado``
    after ``gff3tochado`` reads ``feature`` but rewrites none of its
    files, and saves its annotations."""
    root = str(tmp_path / "catalog")
    _run(capsys, "gff3tochado", "--input", os.path.join(FIX, "pinned_genome.gff3"),
         "--catalog", root)
    _run(capsys, "obo2chado", "--input", os.path.join(FIX, "pinned_onto_v1.obo"),
         "--catalog", root)
    _run(capsys, "bibtex2chado", "--input", os.path.join(FIX, "pinned.bib"),
         "--catalog", root)
    gaf = tmp_path / "genes.gaf"
    gaf.write_text("".join(
        f"DDB\t{gene}\t{gene}\t\t{term}\t20443635\tIDA\t\tP\t\t\tgene\t"
        "taxon:44689\t20200101\tdictyBase\t\t\n"
        for gene, term in (("gA", "PO:0000001"), ("gB", "PO:0000002"))
    ))

    def files(table):
        d = os.path.join(root, table)
        return {n: os.stat(os.path.join(d, n)).st_mtime_ns for n in os.listdir(d)}

    before = files("feature")
    counts = _run(capsys, "gaf2chado", "--input", str(gaf), "--catalog", root)
    assert counts == {"loaded": 2, "total": 2}
    assert files("feature") == before
    assert _tables(spark, root, "feature_cvterm")["feature_cvterm"].count() == 2
