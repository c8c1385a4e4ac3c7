"""sumstatsongff3 intron stats (reference sumstatsongff3.pm:39-120).

The input is the hand-written ``tests/fixtures/introns.gff3``: three
multi-exon mRNAs on both strands with exons listed out of order, one exon
shared by two isoforms (``Parent=a,b``), a single-exon mRNA and a
two-exon tRNA (neither yields an intron). Its five introns have distinct
lengths whose sum is not a multiple of five, so avg, max, min and the
avg truncation are each observable. The expected values are recomputed
in-test with an independent plain-Python walk of the same GFF3
(sorted-exon gaps per mRNA), mirroring the reference's SQLite-store
iteration.
"""

from __future__ import annotations

import collections
import os

from modware_loader_spark.plans.sumstats import intron_lengths, intron_stats
from modware_loader_spark.sources.gff3 import parse_gff3

GFF3 = os.path.join(os.path.dirname(__file__), "fixtures", "introns.gff3")


def _expected_lengths(path):
    mrnas, exons = set(), collections.defaultdict(list)
    with open(path) as fh:
        for line in fh:
            if line.startswith("#") or not line.strip():
                continue
            cols = line.rstrip("\n").split("\t")
            if len(cols) < 9:
                continue
            attrs = dict(
                kv.split("=", 1) for kv in cols[8].split(";") if "=" in kv
            )
            if cols[2] == "mRNA" and "ID" in attrs:
                mrnas.add(attrs["ID"])
            elif cols[2] == "exon" and "Parent" in attrs:
                for p in attrs["Parent"].split(","):
                    exons[p].append((int(cols[3]), int(cols[4])))
    out = []
    for t, spans in exons.items():
        if t not in mrnas or len(spans) < 2:
            continue
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            out.append(s2 - e1)
    return out


def test_intron_lengths_match_plain_python(spark):
    features, _ = parse_gff3(spark, GFF3)
    got = sorted(
        r.intron_length for r in intron_lengths(features).collect()
    )
    expected = sorted(_expected_lengths(GFF3))
    assert expected, "fixture must contain multi-exon transcripts"
    assert got == expected


def test_intron_stats_row(spark):
    features, _ = parse_gff3(spark, GFF3)
    row = intron_stats(features, filename="introns.gff3").first()
    exp = _expected_lengths(GFF3)
    assert row.file == "introns.gff3" and row.type == "intron"
    assert row.avg_nt == sum(exp) // len(exp)
    assert row.max_nt == max(exp) and row.min_nt == min(exp)


def test_source_restriction_empty(spark):
    features, _ = parse_gff3(spark, GFF3)
    assert intron_stats(features, source="no_such_source").count() == 0
