"""chado2gaf round trip: GAF file → GAFLoader (resolution + props) →
chado2gaf_rows → annotation tuples must match the resolvable input rows."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from modware_loader_spark.plans.gaf_export import chado2gaf_rows
from modware_loader_spark.plans.gaf_load import GAFLoader
from modware_loader_spark.sinks.gaf import write_gaf
from modware_loader_spark.sources.gaf import parse_gaf
from tests.test_loader_pinned import seed_gaf_dims

DATA = "/root/reference/t/test_data"


def test_gaf_round_trip_through_chado(spark, tmp_path):
    if not os.path.isdir(DATA):
        pytest.skip("reference fixtures not available")
    gaf = parse_gaf(spark, os.path.join(DATA, "testdicty.gaf2"))

    loader = GAFLoader(spark)
    seed_gaf_dims(
        loader.chado,
        [("DDB_G0277399", 1), ("DDB_G0274035", 2)],
        [("0005515", 10), ("0003676", 11)],
        [("PMID:16079174", 100), ("GO_REF:0000002", 101)],
        [("IPI", 201), ("IEA", 202)],
    )
    loader.load(gaf)

    exported = chado2gaf_rows(loader)
    key_cols = ["db_object_id", "go_id", "evidence_code", "date", "aspect"]
    got = {tuple(r) for r in exported.select(*key_cols).collect()}
    resolvable = gaf.filter(
        F.col("db_object_id").isin("DDB_G0277399", "DDB_G0274035")
        & F.col("go_id").isin("GO:0005515", "GO:0003676")
    )
    expect = {tuple(r) for r in resolvable.select(*key_cols).collect()}
    assert got == expect
    assert len(got) == 3
    # with_from survives pivot + re-split
    wf = {r.with_from[0] for r in exported.collect() if r.with_from}
    assert any(w.startswith("UniProtKB:") for w in wf)
    # and the writer produces a parseable file
    out = str(tmp_path / "export.gaf")
    write_gaf(exported, out)
    import glob

    reparsed = parse_gaf(spark, glob.glob(os.path.join(out, "part-*"))[0])
    assert reparsed.count() == exported.count()


def test_gaf_writer_format_validation(spark, tmp_path):
    """validate_gaf.t parity: every written line has exactly 17 tab
    columns and column 16 (annotation_extension) is empty when unset —
    checked on both our writer's output and its input, the in-repo
    ``tests/fixtures/pinned.gaf``, through the same assertion."""
    src = os.path.join(os.path.dirname(__file__), "fixtures", "pinned.gaf")

    def check(path_glob):
        import glob

        n, col16 = 0, 0
        for p in glob.glob(path_glob):
            for line in open(p):
                if line.startswith("!") or not line.strip("\n"):
                    continue
                cols = line.rstrip("\n").split("\t")
                assert len(cols) == 17, cols
                n += 1
                col16 += len(cols[15])
        return n, col16

    n_ref, ext_ref = check(src)
    assert n_ref > 0 and ext_ref == 0

    out = str(tmp_path / "rt")
    write_gaf(parse_gaf(spark, src), out)
    n_out, ext_out = check(os.path.join(out, "part-*.txt"))
    assert n_out == n_ref
    assert ext_out == 0


def test_go_id_keeps_its_db_prefix(spark, tmp_path):
    """A GO id resolves on (db, accession): in a catalog that also holds
    ``PO:0000001``, one ``GO:0000001`` row binds to the GO term only, and
    the export prints that term's own ``GO:0000001``."""
    from modware_loader_spark.frames import local_frame

    loader = GAFLoader(spark)
    chado, t = loader.chado, loader.tables

    def rows(table, data, schema):
        t[table] = chado.shaped(table, local_frame(spark, data, schema))

    rows("feature", [("DDB_G0000001", 1)], "uniquename string, feature_id long")
    rows("db", [("GO", 1), ("PO", 2)], "name string, db_id long")
    rows("dbxref", [("0000001", 1, 1000), ("0000001", 2, 1001)],
         "accession string, db_id long, dbxref_id long")
    rows("cvterm", [(10, 1000), (11, 1001)], "cvterm_id long, dbxref_id long")
    rows("pub", [("PMID:100", 100)], "uniquename string, pub_id long")
    rows("cvtermsynonym", [("IDA", 201)], "synonym string, cvterm_id long")
    src = tmp_path / "one.gaf"
    src.write_text(
        "DDB\tDDB_G0000001\tgeneA\t\tGO:0000001\tPMID:100\tIDA\t\tP\t\t\tgene\t"
        "taxon:44689\t20200101\tdictyBase\t\t\n"
    )
    assert loader.load_file(str(src)) == {"loaded": 1, "total": 1}
    assert [r.cvterm_id for r in t["feature_cvterm"].collect()] == [10]
    exported = chado2gaf_rows(loader)
    assert [r.go_id for r in exported.collect()] == ["GO:0000001"]
