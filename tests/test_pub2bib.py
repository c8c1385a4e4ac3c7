"""chadopub2bib: PubMed XML → BibTeX against the reference's own golden
(``t/test_data/literature/dictygenomespub.bib``, whose first three
entries are XSLT output of ``share/pubmed2bibtex.xslt``; the fourth is
dictybib-formatted and out of scope). The fixture XML restates the same
three articles in efetch shape."""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest

from modware_loader_spark.plans.pub2bib import pub2bib_rows, pubmed_xml_to_bibtex

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIX = os.path.join(os.path.dirname(__file__), "fixtures")
XML = os.path.join(FIX, "pubmed_dictygenomes.xml")
GOLDEN = "/root/reference/t/test_data/literature/dictygenomespub.bib"
# the golden is the reference checkout's own XSLT output; it is not
# restated in the repo, so the comparisons run only where it exists
needs_golden = pytest.mark.skipif(
    not os.path.exists(GOLDEN), reason=f"reference golden {GOLDEN} not present"
)


def _norm(text: str) -> list[str]:
    """The shipped golden lacks the stylesheet's 4-space indent (it was
    post-processed); compare modulo leading/trailing whitespace."""
    return [ln.strip() for ln in text.strip().splitlines() if ln.strip()]


def _golden_entries() -> list[str]:
    bib = open(GOLDEN).read()
    return re.split(r"\n(?=@article\{)", bib.strip())[:3]


@needs_golden
def test_matches_reference_golden():
    out = pubmed_xml_to_bibtex(open(XML).read())
    assert _norm(out) == _norm("\n".join(_golden_entries()))


def test_stylesheet_quirks():
    """Pin the XSLT's exact formatting on the raw (indented) output:
    lowercased month, trailing space after initials, doi only when
    present, nlmuniqueid's trailing comma."""
    out = pubmed_xml_to_bibtex(open(XML).read())
    assert "\n    month = {may}" in out
    assert "author = {GREGG, J H JH }" in out
    entries = out.split("@article{")
    assert "doi = {10.1016/j.jaci.2004.12.1131}" in entries[2]
    assert "doi" not in entries[1]
    assert "nlmuniqueid = {2985110R},\n" in out


def test_pmid_filter():
    out = pubmed_xml_to_bibtex(open(XML).read(), pmids={"15867862"})
    assert out.count("@article{") == 1
    assert "pmid15867862" in out


def test_author_list_truncation_marker():
    xml = """<PubmedArticleSet><PubmedArticle>
      <MedlineCitation><PMID>1</PMID><Article>
        <ArticleTitle>T</ArticleTitle>
        <AuthorList CompleteYN="N">
          <Author><LastName>Doe</LastName><ForeName>J</ForeName><Initials>J</Initials></Author>
        </AuthorList>
      </Article></MedlineCitation>
      <PubmedData><PublicationStatus>ppublish</PublicationStatus></PubmedData>
    </PubmedArticle></PubmedArticleSet>"""
    out = pubmed_xml_to_bibtex(xml)
    assert "author = {Doe, J J  and others}" in out
    # empty NlmUniqueID: the stylesheet emits no separator before pmid —
    # the faithful quirk (see module docstring)
    assert "}\n    pmid = {1}," in out


def test_distributed_pages(spark, tmp_path):
    """pub2bib_rows: one dumped page per row, pure map stage."""
    import shutil

    d = tmp_path / "pages"
    d.mkdir()
    shutil.copy(XML, d / "page1.xml")
    shutil.copy(XML, d / "page2.xml")
    rows = pub2bib_rows(spark, str(d)).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.bibtex.count("@article{") == 3
    plan = pub2bib_rows(spark, str(d))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # no shuffle: per-file map only


def test_cli_writes_entries(tmp_path):
    """The chadopub2bib command on the in-repo XML, with no golden: it
    exits 0 and writes one @article entry per PubmedArticle."""
    out = tmp_path / "pubs.bib"
    res = subprocess.run(
        [sys.executable, "-m", "modware_loader_spark.cli", "chadopub2bib",
         "--xml", XML, "--output", str(out)],
        capture_output=True, text=True, cwd=REPO,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert out.read_text().count("@article{") == 3


@needs_golden
def test_cli_end_to_end(tmp_path):
    out = tmp_path / "pubs.bib"
    res = subprocess.run(
        [sys.executable, "-m", "modware_loader_spark.cli", "chadopub2bib",
         "--xml", XML, "--output", str(out)],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert res.returncode == 0, res.stderr[-2000:]
    text = out.read_text()
    assert text.count("@article{") == 3
    assert _norm(text) == _norm("\n".join(_golden_entries()))


def test_patch_copyright(tmp_path):
    """fetchpublication's local post-step: CopyrightInformation nodes go,
    everything else survives."""
    from modware_loader_spark.plans.pub2bib import patch_copyright

    xml = (
        "<PubmedArticleSet><PubmedArticle><MedlineCitation>"
        "<PMID>9</PMID><Article><ArticleTitle>T</ArticleTitle>"
        "<Abstract><AbstractText>body</AbstractText>"
        "<CopyrightInformation>(c) broken encoding</CopyrightInformation>"
        "</Abstract></Article></MedlineCitation></PubmedArticle>"
        "</PubmedArticleSet>"
    )
    out = patch_copyright(xml)
    assert "CopyrightInformation" not in out
    assert "body" in out and "<PMID>9</PMID>" in out

    src = tmp_path / "in.xml"
    dst = tmp_path / "out.xml"
    src.write_text(xml)
    res = subprocess.run(
        [sys.executable, "-m", "modware_loader_spark.cli", "pubmedpatch",
         "--input", str(src), "--output", str(dst)],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert res.returncode == 0, res.stderr[-1500:]
    assert "CopyrightInformation" not in dst.read_text()
