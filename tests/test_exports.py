"""Export-side parity: GFF3 round-trip, FASTA wrap, GAF round-trip,
spliced-sequence assembly verified against hand-sliced fixture data."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from modware_loader_spark.plans.exports import chado2gff3_rows, spliced_sequences
from modware_loader_spark.plans.gff3_load import ChadoGFF3Loader
from modware_loader_spark.sinks.fasta import write_fasta
from modware_loader_spark.sinks.gaf import write_gaf
from modware_loader_spark.sinks.gff3 import write_gff3
from modware_loader_spark.sources.gaf import parse_gaf
from modware_loader_spark.sources.gff3 import parse_gff3

DATA = "/root/reference/t/test_data"
FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="module")
def loaded(spark):
    if not os.path.isdir(DATA):
        pytest.skip("reference fixtures not available")
    loader = ChadoGFF3Loader(spark)
    loader.load_file(os.path.join(DATA, "gff3", "test1.gff3"))
    return loader


def _single_file(path: str) -> str:
    return glob.glob(os.path.join(path, "part-*"))[0]


def test_gff3_export_round_trip(spark, loaded, tmp_path):
    rows = chado2gff3_rows(loaded)
    out = str(tmp_path / "out.gff3")
    write_gff3(rows, out, sequence_regions=[("Contig1", 1, 37450)])
    reparsed, _ = parse_gff3(spark, _single_file(out))
    orig, _ = parse_gff3(spark, os.path.join(DATA, "gff3", "test1.gff3"))
    # every original ID'd feature must round-trip with identical coordinates
    key = ["seq_id", "type", "start", "end"]
    orig_k = orig.filter(F.col("attributes")["ID"].isNotNull()).select(*key)
    re_k = reparsed.select(*key)
    missing = orig_k.exceptAll(orig_k.join(re_k, key, "left_semi")).count()
    assert missing == 0
    # exported file declares gff-version and sequence-region directives
    head = open(_single_file(out)).read().splitlines()[:2]
    assert head[0] == "##gff-version 3"
    assert head[1].startswith("##sequence-region Contig1")


def test_spliced_sequence_matches_hand_slicing(spark, loaded):
    spliced = {r.parent: r for r in spliced_sequences(loaded).collect()}
    contig1 = loaded.tables["feature"].filter("uniquename = 'Contig1'").first().residues
    # trans-1: + strand exons 1001-1100, 1201-1300, 1401-1450 (1-based)
    expect1 = contig1[1000:1100] + contig1[1200:1300] + contig1[1400:1450]
    assert spliced["trans-1"].spliced == expect1
    assert spliced["trans-1"].n_segments == 3
    # trans-2: − strand exons 30001-30100, 30701-30800, 30801-31000
    fwd = contig1[30000:30100] + contig1[30700:30800] + contig1[30800:31000]
    comp = fwd.translate(str.maketrans("ATGCatgc", "TACGtacg"))[::-1]
    assert spliced["trans-2"].spliced == comp


def test_fasta_writer_wraps_60(spark, loaded, tmp_path):
    refs = loaded.tables["feature"].filter(F.col("residues").isNotNull()).select(
        F.col("uniquename").alias("id"), F.col("residues").alias("sequence")
    )
    out = str(tmp_path / "out.fasta")
    write_fasta(refs, out)
    lines = open(_single_file(out)).read().splitlines()
    assert lines[0].startswith(">")
    seq_lines = [ln for ln in lines if not ln.startswith(">")]
    assert all(len(ln) <= 60 for ln in seq_lines)
    # reassembled sequence identical
    body = "".join(seq_lines[: next(i for i, ln in enumerate(lines[1:]) if ln.startswith(">"))])
    first_id = lines[0][1:]
    original = dict(refs.collect())[first_id]
    assert body == original[: len(body)]


def test_gaf_round_trip(spark, tmp_path):
    if not os.path.isdir(DATA):
        pytest.skip("reference fixtures not available")
    gaf = parse_gaf(spark, os.path.join(DATA, "testdicty.gaf2"))
    out = str(tmp_path / "out.gaf")
    write_gaf(gaf, out)
    lines = open(_single_file(out)).read().splitlines()
    assert lines[0] == "!gaf-version: 2.0"
    reparsed = parse_gaf(spark, _single_file(out))
    assert reparsed.count() == gaf.count()
    a = {tuple(r) for r in gaf.select("db_object_id", "go_id", "evidence_code").collect()}
    b = {tuple(r) for r in reparsed.select("db_object_id", "go_id", "evidence_code").collect()}
    assert a == b


def test_gff3_percent_escape_roundtrip(spark, tmp_path):
    """%2C/%3B/%3D/%09/%25 in attribute values decode on read and
    re-escape on write (Bio::GFF3::LowLevel parity); literal '+' is
    untouched."""
    from modware_loader_spark.sinks.gff3 import gff3_lines
    from modware_loader_spark.sources.gff3 import parse_gff3

    src = tmp_path / "esc.gff3"
    src.write_text(
        "##gff-version 3\n"
        "chr1\tsrc\tgene\t1\t100\t.\t+\t.\t"
        "ID=g1;Note=a%2Cb%3Bc%3Dd%09e%25f;Name=x%2By+z\n"
    )
    from modware_loader_spark.functions import strand_to_int

    feats, _ = parse_gff3(spark, str(src))
    row = feats.first()
    assert row.attributes["Note"] == ["a,b;c=d\te%f"]
    # '+' and %2B both stay as-is on decode ('+' is literal in GFF3; %2B
    # is not in the reserved set)
    assert row.attributes["Name"] == ["x%2By+z"]
    ints = feats.withColumn("strand", strand_to_int(F.col("strand")))
    line = gff3_lines(ints).first().line
    attrs = line.split("\t")[8]
    assert "Note=a%2Cb%3Bc%3Dd%09e%25f" in attrs
    assert "Name=x%252By+z" in attrs or "Name=x%2By+z" in attrs
    # full round-trip: parse(write(parse(x))) == parse(x)
    dst = tmp_path / "esc2.gff3"
    dst.write_text("##gff-version 3\n" + line + "\n")
    feats2, _ = parse_gff3(spark, str(dst))
    row2 = feats2.first()
    assert row2.attributes["Note"] == row.attributes["Note"]


def test_chado2alignment_export(spark):
    """chado2alignmentgff3: EST_match + match_part rows with Target
    (parent id + query coords) and Gap recovered from featureprops
    (``lib/Modware/Export/Command/chado2alignmentgff3.pm`` +
    ``FeatureWriter/GFF3/Alignment.pm``)."""
    from modware_loader_spark.plans.exports import chado2alignment_rows

    ldr = ChadoGFF3Loader(spark)
    ldr.load_file(os.path.join(FIXTURES, "est_alignment.gff3"))
    rows = chado2alignment_rows(ldr, "EST_match", match_type="EST_match").collect()
    parents = [r for r in rows if r.type == "EST_match"]
    parts = sorted(
        (r for r in rows if r.type == "match_part"), key=lambda r: r.start
    )
    assert len(parents) == 1 and len(parts) == 2
    p = parents[0]
    assert (p.seq_id, p.start, p.end, p.strand) == ("ctg123", 1200, 9000, 1)
    assert p.attributes["ID"] == ["EST00001"]
    # Target = parent id + the part's rank-1 (query) location, 1-based
    assert parts[0].attributes["Target"] == ["EST00001 5 506 -"]
    assert parts[1].attributes["Target"] == ["EST00001 1 502 -"]
    assert parts[0].attributes["Gap"] == ["M301 D1499 M201"]
    assert all(c.attributes["Parent"] == ["EST00001"] for c in parts)
    # unknown type → empty frame, not an error
    assert chado2alignment_rows(ldr, "nonesuch").count() == 0


def test_gff3alignment_filter(spark, tmp_path):
    """gff3alignment: match groups with any inter-part gap above the
    cutoff are dropped whole (``Filter/Command/gff3alignment.pm:104-129``)."""
    from modware_loader_spark.functions import strand_to_int
    from modware_loader_spark.plans.gff3_filter import filter_gff3_alignments
    from modware_loader_spark.sources.gff3 import parse_gff3

    src = tmp_path / "aln.gff3"
    src.write_text(
        "##gff-version 3\n"
        # tight group: gap = 300-200 = 100
        "c1\t.\tprotein_match\t1\t300\t.\t+\t.\tID=m1\n"
        "c1\t.\tmatch_part\t1\t100\t.\t+\t.\tID=m1.1;Parent=m1\n"
        "c1\t.\tmatch_part\t200\t300\t.\t+\t.\tID=m1.2;Parent=m1\n"
        # loose group: gap = 5000-100 = 4900
        "c1\t.\tprotein_match\t1\t6000\t.\t+\t.\tID=m2\n"
        "c1\t.\tmatch_part\t1\t100\t.\t+\t.\tID=m2.1;Parent=m2\n"
        "c1\t.\tmatch_part\t5000\t6000\t.\t+\t.\tID=m2.2;Parent=m2\n"
        # single-part group always passes (no gaps)
        "c1\t.\tprotein_match\t10\t50\t.\t-\t.\tID=m3\n"
        "c1\t.\tmatch_part\t10\t50\t.\t-\t.\tID=m3.1;Parent=m3\n"
    )
    feats, _ = parse_gff3(spark, str(src))
    feats = feats.withColumn("strand", strand_to_int(F.col("strand")))
    kept = filter_gff3_alignments(feats, "protein_match", 1000).collect()
    ids = sorted(r.attributes["ID"][0] for r in kept)
    assert ids == ["m1", "m1.1", "m1.2", "m3", "m3.1"]
    # cutoff below the tight gap drops m1 too
    kept2 = filter_gff3_alignments(feats, "protein_match", 50).collect()
    ids2 = sorted(r.attributes["ID"][0] for r in kept2)
    assert ids2 == ["m3", "m3.1"]
