"""dictyplasmid dump + bibtex2chado pub load (reference parity).

References: ``lib/Modware/Dump/Command/dictyplasmid.pm`` and
``lib/Modware/Import/Command/bibtex2chado.pm`` (+ BibTeX plugin); golden
counts from ``t/loader/bibtex2chado.t``.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

DATA = "/root/reference/t/test_data"


@pytest.fixture(scope="module")
def data_dir():
    if not os.path.isdir(DATA):
        pytest.skip("reference fixtures not available")
    return DATA


def test_plasmid_load_and_dump(spark, data_dir, tmp_path):
    from modware_loader_spark.plans.stock import (
        dump_plasmids,
        load_plasmids,
        write_stock_tsv,
    )

    loaded = load_plasmids(
        spark,
        os.path.join(data_dir, "plasmid_plasmid.tsv"),
        os.path.join(data_dir, "plasmid_props.tsv"),
    )
    assert loaded["plasmids"].count() == 50
    assert loaded["invalid"].count() == 0
    dump = dump_plasmids(loaded["plasmids"], loaded["props"])
    rows = {r.plasmid_id: r for r in dump.collect()}
    assert len(rows) == 50
    p34 = rows["DBP0000034"]
    assert p34.plasmid_name == "pCFC5"
    assert p34.depositor == "Gene Katz"
    assert "T7 tag" in p34.keywords and "|" in p34.keywords
    p98 = rows["DBP0000098"]
    assert p98.synonyms == "GFP-Gbeta|Gb-GFP|Gbeta-GFP"
    out = str(tmp_path / "plasmids")
    write_stock_tsv(dump, out)
    import glob

    lines = open(glob.glob(os.path.join(out, "part-*"))[0]).read().splitlines()
    assert len(lines) == 50
    assert all(len(ln.split("\t")) == 6 for ln in lines)


def _bibtex_tables(spark, path):
    """The pub tables of a fresh state after bibtex2chado of ``path``,
    with ``cvterm`` = the (cvterm_id, name) of the pub types."""
    from modware_loader_spark.plans.bibtex_load import BibTeXLoader

    loader = BibTeXLoader(spark)
    loader.load_file(path)
    return {**loader.tables, "cvterm": loader.chado.term_ids("pub_type")}


def test_bibtex2chado_golden_counts(spark, data_dir):
    t = _bibtex_tables(spark, os.path.join(data_dir, "literature", "test.bib"))
    # t/loader/bibtex2chado.t: 5 pubs, 16 authors, 12 pubprops
    assert t["pub"].count() == 5
    assert t["pubauthor"].count() == 16
    assert t["pubprop"].count() == 12
    # the 8 pub_type cvterms exist
    names = {r.name for r in t["cvterm"].collect()}
    assert names == {
        "unpublished", "journal_article", "status", "doi",
        "month", "issn", "abstract", "thesis",
    }


def test_bibtex2chado_record_shapes(spark, data_dir):
    t = _bibtex_tables(spark, os.path.join(data_dir, "literature", "test.bib"))
    pubs = {r.uniquename: r for r in t["pub"].collect()}
    types = {r.cvterm_id: r.name for r in t["cvterm"].collect()}

    # pmid record: journal_article, year/volume, doi prop, 4 authors
    p = pubs["20443635"]
    assert types[p.type_id] == "journal_article" and p.pubplace == "PubMed"
    assert p.pyear == "2010" and p.volume == "9"
    props = {
        (types[r.type_id], r.value)
        for r in t["pubprop"].filter(F.col("pub_id") == p.pub_id).collect()
    }
    assert ("doi", "10.1021/pr901195c") in props and len(props) == 5
    authors = t["pubauthor"].filter(F.col("pub_id") == p.pub_id).collect()
    assert len(authors) == 4

    # unpublished GO_REF record: braces-stripped single author
    p2 = pubs["0000004"]
    assert types[p2.type_id] == "unpublished" and p2.pubplace == "GO_REF"
    assert p2.pyear == "2000"
    a2 = t["pubauthor"].filter(F.col("pub_id") == p2.pub_id).collect()
    assert len(a2) == 1 and a2[0].surname == "GOA curators"

    # PUB-prefix stripped uniquename, citekey-derived source
    assert types[pubs["3187"].type_id] == "unpublished"
    assert pubs["3187"].pubplace == "ENDNOTE"
    assert pubs["11067"].pubplace == "CURATOR"


def test_organism2chado_shaping(spark):
    """organism2chado row shaping (``organism2chado.pm:128-150`` +
    Amoebozoa plugin): genus-stripped species, strain-appended species,
    first-wins dedup, abbreviation minting."""
    from modware_loader_spark.plans.organism_load import OrganismLoader

    fix = os.path.join(os.path.dirname(__file__), "fixtures", "amoebozoa.tsv")
    loader = OrganismLoader(spark)
    loader.load_file(fix)
    rows = {r.species: r for r in loader.tables["organism"].collect()}
    # AX4 + AX2 strains are distinct species entries; purpureum deduped
    assert set(rows) == {
        "discoideum AX4",
        "discoideum AX2",
        "purpureum",
        "pallidum",
        "castellanii",
    }
    ax4 = rows["discoideum AX4"]
    assert ax4.genus == "Dictyostelium"
    assert ax4.common_name == "slime mold"
    assert ax4.abbreviation == "D.discoideum AX4"
    assert rows["purpureum"].common_name is None
    assert rows["castellanii"].abbreviation == "A.castellanii"
    # deterministic ids, densely numbered
    ids = sorted(r.organism_id for r in rows.values())
    assert ids == [1, 2, 3, 4, 5]
