"""JDBC mirror smoke: a REAL in-JVM round trip via embedded Apache Derby
(shipped in pyspark/jars), exercising the same ``DataFrameWriter.jdbc``
path a Postgres/Oracle Chado sink uses — no database server required.

The reference's whole raison d'être is an RDBMS sink, so the JDBC
surface carrying actual rows through a JDBC driver (dialect mapping,
batched inserts, table auto-create on append) is worth one gated test;
skipped cleanly where the Derby jars are absent.
"""

from __future__ import annotations

import pytest

from modware_loader_spark.catalog import ChadoCatalog


def _derby_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
        return True
    except Exception:
        return False


def test_jdbc_round_trip_embedded_derby(spark, tmp_path):
    if not _derby_available(spark):
        pytest.skip("embedded Derby driver not on the JVM classpath")
    import os

    # derby.log lands in user.dir; point derby.system.home at the tmp dir
    spark._jvm.java.lang.System.setProperty("derby.system.home", str(tmp_path))
    url = f"jdbc:derby:{tmp_path}/chadodb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    cat = ChadoCatalog(spark, os.path.join(str(tmp_path), "cat"))
    cvterm = spark.createDataFrame(
        [(1, "molecular_function", 0), (2, "binding", 0), (3, "obsolete x", 1)],
        "cvterm_id long, name string, is_obsolete int",
    )
    dbxref = spark.createDataFrame(
        [(10, "GO:0003674"), (20, "GO:0005488")],
        "dbxref_id long, accession string",
    )
    cat.save_jdbc({"cvterm": cvterm, "dbxref": dbxref}, url, properties=props)
    back = cat.load_jdbc(["cvterm", "dbxref"], url, properties=props)
    assert sorted(tuple(r) for r in back["cvterm"].collect()) == [
        (1, "molecular_function", 0),
        (2, "binding", 0),
        (3, "obsolete x", 1),
    ]
    assert back["dbxref"].count() == 2
    # append mode really appends (the idempotent-merge operators upstream
    # are what keep this correct for reloads, M6 semantics)
    cat.save_jdbc(
        {"dbxref": spark.createDataFrame([(30, "GO:1")], "dbxref_id long, accession string")},
        url, properties=props,
    )
    assert cat.load_jdbc(["dbxref"], url, properties=props)["dbxref"].count() == 3


# --- end-to-end load pipelines with the JDBC mirror as the LIVE side
# (round 9): the merge core had only ever diffed against parquet-backed
# tables; here staging DataFrames diff against Derby-RESIDENT tables,
# merge results write back over JDBC in FK-parent-first order, and the
# reference goldens are asserted from a fresh JDBC read.

GFF3_DIR = "/root/reference/t/test_data/gff3"
OBO_DIR = "/root/reference/t/test_data/obo"


def _derby(spark, tmp_path, name):
    if not _derby_available(spark):
        pytest.skip("embedded Derby driver not on the JVM classpath")
    spark._jvm.java.lang.System.setProperty("derby.system.home", str(tmp_path))
    return (
        f"jdbc:derby:{tmp_path}/{name};create=true",
        {"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )


@pytest.mark.slowlane
def test_gff3tochado_end_to_end_over_jdbc(spark, tmp_path):
    import os

    if not os.path.isdir(GFF3_DIR):
        pytest.skip("reference fixtures not available")
    from modware_loader_spark.catalog import (
        restore_loader_state_jdbc,
        save_loader_state_jdbc,
    )
    from modware_loader_spark.plans.gff3_load import ChadoGFF3Loader

    url, props = _derby(spark, tmp_path, "gff3db")
    l1 = ChadoGFF3Loader(spark)
    restore_loader_state_jdbc(l1, url, props)  # empty db -> no-op
    c1 = l1.load_file(os.path.join(GFF3_DIR, "test1.gff3"))
    assert (c1["new_feature"], c1["new_featureloc"]) == (53, 51)
    save_loader_state_jdbc(l1, url, props)

    # fresh process analog: a NEW loader whose live side is Derby rows
    l2 = ChadoGFF3Loader(spark)
    restore_loader_state_jdbc(l2, url, props)
    assert l2.chado.auto_counter == l1.chado.auto_counter  # sequence resumes
    c2 = l2.load_file(os.path.join(GFF3_DIR, "test2.gff3"))
    # t/loader/gff3tochado-update.t golden update counts
    assert (
        c2["new_feature"],
        c2["new_featureloc"],
        c2["new_feature_relationship"],
        c2["new_featureprop"],
    ) == (21, 21, 19, 10)
    save_loader_state_jdbc(l2, url, props)

    # assert the FINAL state from a fresh JDBC read, not loader memory
    feat = spark.read.jdbc(url, "feature", properties=props)
    assert feat.count() == 74
    assert feat.select("uniquename").distinct().count() == 74
    # featureloc holds the located rows plus test1's 2 target (rank-1)
    # rows: 51 + 2 + 21
    assert spark.read.jdbc(url, "featureloc", properties=props).count() == 74
    assert (
        spark.read.jdbc(url, "feature_relationship", properties=props).count()
        == 58
    )


@pytest.mark.slowlane
def test_obo2chado_end_to_end_over_jdbc(spark, tmp_path):
    import os

    if not os.path.isdir(OBO_DIR):
        pytest.skip("reference fixtures not available")
    from modware_loader_spark.catalog import (
        restore_loader_state_jdbc,
        save_loader_state_jdbc,
    )
    from modware_loader_spark.plans.ontology_load import ChadoOntologyLoader

    url, props = _derby(spark, tmp_path, "obodb")
    l1 = ChadoOntologyLoader(spark)
    restore_loader_state_jdbc(l1, url, props)
    l1.load_file(os.path.join(OBO_DIR, "eco.obo"))
    save_loader_state_jdbc(l1, url, props)

    # golden: 294 eco cvterms resident in Derby (t/loader/obo2chado.t)
    l2 = ChadoOntologyLoader(spark)
    restore_loader_state_jdbc(l2, url, props)
    assert l2.cvterm_count("eco") == 294
    assert l2.cvterm_count("eco", obsolete=1) == 3
    # the version gate survives the JDBC round trip: same-date reload
    # is refused off the restored metadata, not in-memory state
    with pytest.raises(ValueError, match="not newer"):
        l2.load_file(os.path.join(OBO_DIR, "eco.obo"))


def test_jdbc_key_range_pushdown_with_clob_columns(spark, tmp_path):
    """key_range bakes a numeric BETWEEN into the dbtable subquery, so
    Derby bounds the scan on the integer key even though predicate
    pushdown is globally OFF for the CLOB workaround: the read returns
    exactly the inclusive range, CLOB string columns ride along
    unharmed, and a Spark-side string filter on top still evaluates
    without the 42818 CLOB-comparison error."""
    if not _derby_available(spark):
        pytest.skip("embedded Derby driver not on the JVM classpath")
    from modware_loader_spark.catalog import _jdbc_read_state

    spark._jvm.java.lang.System.setProperty("derby.system.home", str(tmp_path))
    url = f"jdbc:derby:{tmp_path}/krdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    rows = spark.createDataFrame(
        [(i, f"val {i}") for i in range(100)], "featureprop_id long, value string"
    )
    rows.write.mode("overwrite").jdbc(url, "featureprop", properties=props)
    got = _jdbc_read_state(
        spark, url, "featureprop", props, key_range=("featureprop_id", 40, 59)
    )
    ids = sorted(r.featureprop_id for r in got.collect())
    assert ids == list(range(40, 60))
    # Spark-side predicate over the CLOB column on the ranged read
    assert got.filter("value = 'val 41'").count() == 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _jdbc_read_state(
            spark, url, "featureprop", props,
            key_range=("id; DROP TABLE x", 0, 1),
        )


def test_mixed_catalog_round_trip_over_jdbc(spark, tmp_path):
    """A genome, an ontology, the genome again, GO-style annotations of
    its genes and a strain file (the in-repo pinned fixtures), each load
    restoring and saving the whole state as a CLI command does, give the
    same counts and row-identical tables over Derby as over a parquet
    catalog; ``loader_meta`` keeps both scalar fields (the GFF3
    auto-uniquename counter, the ontology metadata) and lists every table
    any loader saved."""
    import json
    import os

    from modware_loader_spark.catalog import (
        ChadoCatalog,
        restore_loader_state,
        restore_loader_state_jdbc,
        save_loader_state,
        save_loader_state_jdbc,
    )
    from modware_loader_spark.operators.merge import find_or_create
    from modware_loader_spark.plans import gaf_load, gff3_load, ontology_load, stock_import
    from modware_loader_spark.sources.tsv_stock import parse_strains
    from tests.test_gff3_pinned import FIRST_COUNTS, GFF3, SECOND_COUNTS, _digest
    from tests.test_loader_pinned import FIX, ONTO_V1_COUNTS

    url, props = _derby(spark, tmp_path, "mixeddb")
    catalog = ChadoCatalog(spark, str(tmp_path / "catalog"))
    obo = os.path.join(FIX, "pinned_onto_v1.obo")
    # two annotations of the pinned genome's genes with pinned ontology
    # terms, citing one pub
    gaf = tmp_path / "genes.gaf"
    gaf.write_text("".join(
        f"DDB\t{gene}\t{gene}\t\t{term}\tPMID:100\tIDA\t\tP\t\t\tgene\t"
        "taxon:44689\t20200101\tdictyBase\t\t\n"
        for gene, term in (("gA", "PO:0000001"), ("gB", "PO:0000002"))
    ))

    def annotate(ldr):
        t = ldr.tables
        t["pub"], _ = find_or_create(
            t["pub"], ldr.chado.shaped("pub", spark.createDataFrame(
                [("PMID:100",)], "uniquename string")),
            ["uniquename"], "pub_id",
        )
        return ldr.load_file(str(gaf))

    def strains(imp):
        return imp.import_stock(parse_strains(spark, os.path.join(FIX, "pinned_strains.tsv"))[0])
    for restore, save in (
        (lambda ldr: restore_loader_state_jdbc(ldr, url, props),
         lambda ldr: save_loader_state_jdbc(ldr, url, props)),
        (lambda ldr: restore_loader_state(ldr, catalog),
         lambda ldr: save_loader_state(ldr, catalog)),
    ):
        for make, load, want in (
            (gff3_load.ChadoGFF3Loader, lambda ldr: ldr.load_file(GFF3), FIRST_COUNTS),
            (ontology_load.ChadoOntologyLoader, lambda ldr: ldr.load_file(obo), ONTO_V1_COUNTS),
            (gff3_load.ChadoGFF3Loader, lambda ldr: ldr.load_file(GFF3), SECOND_COUNTS),
            (gaf_load.GAFLoader, annotate, {"loaded": 2, "total": 2}),
            (stock_import.StockImporter, strains, {"new": 2, "existing": 0}),
        ):
            loader = make(spark)
            restore(loader)
            assert load(loader) == want
            save(loader)

    meta = {
        r.k: json.loads(r.v)
        for r in spark.read.jdbc(url, "loader_meta", properties=props).collect()
    }
    assert meta["auto_counter"] == 8
    assert meta["metadata"] == {"pinned_onto:date": "01:03:2020 10:00"}
    names = sorted({*gff3_load.TABLES, *ontology_load.TABLES, *gaf_load.TABLES,
                    *stock_import.TABLES})
    assert meta["tables"] == names
    assert {n: _digest(spark.read.jdbc(url, n, properties=props)) for n in names} == {
        n: _digest(df) for n, df in catalog.load(names).items()
    }
