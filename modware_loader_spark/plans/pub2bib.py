"""chadopub2bib / pub2bib: PubMed XML → BibTeX.

Reference: ``lib/Modware/Export/Command/chadopub2bib.pm:65-123`` pages the
chado ``pub`` table (pubplace=PUBMED), fetches each page's PubMed XML from
NCBI efetch, dumps the XML, and pipes it through the shipped stylesheet
``share/pubmed2bibtex.xslt``. The network fetch stays driver-side by
design (S10); everything after the dump is pure transformation and is
ported here:

- :func:`pubmed_xml_to_bibtex` replicates the stylesheet's output
  byte-for-byte in pure Python (the container has no libxslt). When
  ``lxml`` IS importable and an ``xslt_path`` is given, the real
  stylesheet runs instead — behavior-identical, kept as the
  compatibility escape hatch.
- :func:`pub2bib_rows` is the Spark shape for a directory of dumped XML
  pages (the reference writes one file per efetch page,
  ``chadopub2bib.pm:105-112``): one row per file via ``wholetext`` read,
  transformed in an Arrow-batched ``mapInPandas`` — each page is
  independent, so a backlog of dumps converts embarrassingly parallel.

Field order, whitespace, and quirks follow the stylesheet exactly,
including: lowercased month/day, the trailing space after each author's
initials, `` and others`` for truncated author lists (@CompleteYN='N'),
doi as the only emitted ArticleId type, and the trailing comma emitted
after ``nlmuniqueid`` (absent when NlmUniqueID is empty — in which case
no comma separates the previous field from ``pmid``, faithfully
reproducing the stylesheet's output).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Iterable

_LOWER = str.lower  # translate(., $uppercase, $smallcase)


def _txt(parent: ET.Element | None, path: str) -> str:
    """string-value of the first matching node ('' when absent)."""
    if parent is None:
        return ""
    node = parent.find(path)
    if node is None:
        return ""
    return "".join(node.itertext())


def _article_fields(article: ET.Element) -> str:
    """The <Article> template (stylesheet lines 58-67): title, authors,
    journal block, pages, abstract."""
    out = [",\n    title = {", _txt(article, "ArticleTitle"), "}"]
    alist = article.find("AuthorList")
    if alist is not None:
        out.append(",\n    author = {")
        for i, author in enumerate(alist.findall("Author")):
            if i > 0:
                out.append(" and ")
            out.append(_txt(author, "LastName"))
            out.append(", ")
            out.append(_txt(author, "ForeName"))
            out.append(" ")
            out.append(_txt(author, "Initials"))
            out.append(" ")
        if alist.get("CompleteYN") == "N":
            out.append(" and others")
        out.append("}")
    journal = article.find("Journal")
    if journal is not None:
        out.append(",\n    journal = {")
        out.append(_txt(journal, "ISOAbbreviation"))
        out.append("}")
        for label, path, fold in (
            ("issn", "ISSN", False),
            ("volume", "JournalIssue/Volume", False),
            ("number", "JournalIssue/Issue", False),
            ("year", "JournalIssue/PubDate/Year", False),
            ("month", "JournalIssue/PubDate/Month", True),
            ("day", "JournalIssue/PubDate/Day", True),
        ):
            val = _txt(journal, path)
            if val:
                out.append(f",\n    {label} = {{{_LOWER(val) if fold else val}}}")
    pages = _txt(article, "Pagination/MedlinePgn")
    if pages:
        out.append(f",\n    pages = {{{pages}}}")
    abstract = _txt(article, "Abstract/AbstractText")
    if abstract:
        out.append(f",\n    abstract = {{{abstract}}}")
    return "".join(out)


def _entry(article_el: ET.Element) -> tuple[str, str]:
    """One <PubmedArticle> → (pmid, bibtex entry text)."""
    citation = article_el.find("MedlineCitation")
    pubdata = article_el.find("PubmedData")
    pmid = _txt(citation, "PMID")
    out = [f"@article{{pmid{pmid}"]
    article = citation.find("Article") if citation is not None else None
    if article is not None:
        out.append(_article_fields(article))
    if pubdata is not None:
        for aid in pubdata.findall("ArticleIdList/ArticleId"):
            if aid.get("IdType") == "doi":
                out.append(f",\n    doi = {{{''.join(aid.itertext())}}}")
    nlm = _txt(citation, "MedlineJournalInfo/NlmUniqueID")
    if nlm:
        out.append(f",\n    nlmuniqueid = {{{nlm}}},")
    out.append(f"\n    pmid = {{{pmid}}},")
    out.append(f"\n    status = {{{_txt(pubdata, 'PublicationStatus')}}}")
    out.append("\n}\n\n")
    return pmid, "".join(out)


def pubmed_xml_to_bibtex(
    xml_text: str,
    pmids: Iterable[str] | None = None,
    xslt_path: str | None = None,
) -> str:
    """Transform one PubMed efetch XML document to BibTeX text.

    ``pmids``: restrict to these PMIDs (the chado pub table's
    pubplace=PUBMED uniquenames in the reference command); None keeps
    every article. ``xslt_path``: run the real stylesheet via lxml when
    available (entry filtering still applies, via pre-pruning the tree).
    """
    keep = None if pmids is None else {str(p) for p in pmids}
    root = ET.fromstring(xml_text)
    if keep is not None:
        for art in list(root.findall("PubmedArticle")):
            if _txt(art.find("MedlineCitation"), "PMID") not in keep:
                root.remove(art)
    if xslt_path is not None:
        try:
            from lxml import etree as LX
        except ImportError as exc:
            raise NotImplementedError(
                "xslt_path requires lxml, which is not installed; omit it "
                "to use the built-in equivalent transform"
            ) from exc
        transform = LX.XSLT(LX.parse(xslt_path))
        return str(transform(LX.fromstring(ET.tostring(root))))
    return "".join(_entry(a)[1] for a in root.findall("PubmedArticle"))


def patch_copyright(xml_text: str) -> str:
    """The local half of ``modware-fetch publication``
    (``lib/Modware/Fetch/Command/publication.pm:188-201``): delete every
    ``CopyrightInformation`` node from a PubMed efetch document and
    pretty-print the result — the reference applies this patch because
    the node's encoding breaks downstream XML parsers. The
    esearch/efetch/elink network fetch itself stays excluded (S10)."""
    root = ET.fromstring(xml_text)
    # iterate parents; ElementTree removal needs the parent handle
    for parent in root.iter():
        for child in [c for c in list(parent) if c.tag == "CopyrightInformation"]:
            parent.remove(child)
    ET.indent(root)
    return ET.tostring(root, encoding="unicode")


def pub2bib_rows(spark, paths: str, pmids: Iterable[str] | None = None):
    """Distributed shape: one dumped efetch page per row → its BibTeX.

    ``wholetext`` keeps each XML document intact in a single row; pages
    are independent so the transform is a pure Arrow-batched map stage
    (no shuffle) — the right plan for a years-long backlog of nightly
    dumps. Returns ``(file, bibtex)``.
    """
    from pyspark.sql import functions as F

    from modware_loader_spark.frames import map_rows

    keep = None if pmids is None else sorted({str(p) for p in pmids})
    docs = (
        spark.read.text(paths, wholetext=True)
        .withColumn("file", F.input_file_name())
    )
    return map_rows(
        docs.select("file", "value"),
        lambda xml: [(pubmed_xml_to_bibtex(xml, pmids=keep),)],
        "file string, bibtex string",
        carry=["file"],
    )
