"""WARC (Web ARChive, ISO 28500) ingestion + HTML text extraction.

The front door of a crawl-derived training-data pipeline: CCNet / C4 /
RefinedWeb / FineWeb all start from Common-Crawl-shaped WARC files —
length-prefixed ``WARC/1.0`` records, in practice one gzip member per
record so readers can skip without decompressing the world.

Every operator here is one composition of the same pure row functions,
each run inside ONE ``frames.map_rows`` Arrow stage:

- ``_synth_record_bytes``: one deterministic WARC/1.0 response record
  (WARC named fields, embedded HTTP/1.1 envelope, gzip member with a
  fixed mtime) around a page — the synthesis analog of the media synths.
- ``parse_warc_records``: split a bytes blob into WARC records (plain or
  per-record-gzip), parse the WARC named headers and, for ``response``
  records, the embedded HTTP status line + headers — pure Python over
  ``zlib``.
- ``html_to_text`` / ``main_content`` / ``html_links``: stdlib
  ``html.parser`` extraction — visible text (``script``/``style``
  dropped, entities unescaped, whitespace collapsed: the C4-style "text
  from markup" step), the densitometric main-content block classifier,
  and the anchor harvest.

The staged operators (``synth_warc`` → ``warc_records`` →
``extract_html_text`` / ``extract_main_content``) run one link each; the
synthesis operators ``synth_extract_html_text`` and
``synth_extract_main_content`` run the same links chained inside one
stage, so the record bytes never cross the Python/JVM boundary and the
two paths cannot drift. Body bytes never shuffle: hashing, extraction
and filters all run map-side.

Scale shape: gzip is not splittable, so the parallelism unit is the
FILE — exactly how production crawls are laid out (millions of ~1 GB
``.warc.gz`` files): ``read_warc(spark, glob)`` uses the ``binaryFile``
source (one file per task) and splits records inside the task; per-doc
payload columns (the synthesis path the driver-verified query uses)
parallelize per row like the other media synths.

Reference scope: none (the reference ingests curated flat files, not
crawls); extension scope mandated by the north-star baseline
(training-data pipeline ingestion).
"""

from __future__ import annotations

import gzip as _gzip
import html as _html
import io
import re
import zlib
from html.parser import HTMLParser

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from modware_loader_spark.frames import ensure_min_partitions, map_rows

CRLF = b"\r\n"

# ASCII-only whitespace, matching Spark's Java-regex ``\s`` and DuckDB's
# RE2 ``\s`` — Python's bare ``str.split()`` additionally treats U+00A0,
# U+000B, U+2028 etc. as separators, which would silently diverge word
# counts (and therefore the main-content threshold) from every SQL
# oracle the moment a crawl carries non-ASCII whitespace.
_ASCII_WS = re.compile(r"\s+", re.ASCII)


def _ws_split(s: str) -> list[str]:
    """Split on ASCII whitespace runs, no empty tokens."""
    return [t for t in _ASCII_WS.split(s) if t]

WARC_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), True),
        T.StructField("record_no", T.IntegerType(), False),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("warc_type", T.StringType(), True),
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField("content_length", T.LongType(), True),
        T.StructField("body", T.BinaryType(), True),
    ]
)


def _gunzip_members(buf: bytes) -> bytes:
    """Decompress a concatenation of gzip members (the standard WARC
    layout: one member per record); plain bytes pass through."""
    if not buf.startswith(b"\x1f\x8b"):
        return buf
    out, pos = [], 0
    while pos < len(buf):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out.append(d.decompress(buf[pos:]))
        consumed = len(buf) - pos - len(d.unused_data)
        if consumed <= 0:  # trailing garbage — stop rather than spin
            break
        pos += consumed
    return b"".join(out)


def _parse_headers(block: bytes) -> dict[str, str]:
    """Case-insensitive header dict from a CRLF header block (values of
    repeated names: last wins — WARC named fields appear once)."""
    out: dict[str, str] = {}
    for line in block.split(CRLF):
        if b":" in line:
            k, v = line.split(b":", 1)
            out[k.strip().decode("latin-1").lower()] = v.strip().decode(
                "latin-1", "replace"
            )
    return out


def parse_warc_records(buf: bytes) -> list[dict]:
    """All WARC records in ``buf`` (plain or gzip-membered), each as
    ``{target_uri, warc_type, http_status, content_length, body}``.

    ``body`` is the record payload with the embedded HTTP response
    envelope stripped for ``response`` records (``http_status`` parsed
    from its status line); other record types carry their raw payload
    with ``http_status`` None. Malformed trailing bytes end the walk
    instead of raising — a truncated tail record is the normal failure
    mode of an interrupted crawl write.
    """
    data = _gunzip_members(bytes(buf))
    records, pos = [], 0
    while True:
        start = data.find(b"WARC/", pos)
        if start < 0:
            break
        hdr_end = data.find(CRLF + CRLF, start)
        if hdr_end < 0:
            break
        headers = _parse_headers(data[start:hdr_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            break
        body_start = hdr_end + 4
        body = data[body_start : body_start + length]
        if len(body) < length:
            break  # truncated tail record
        status = None
        if headers.get("warc-type") == "response" and body.startswith(b"HTTP/"):
            http_end = body.find(CRLF + CRLF)
            if http_end >= 0:
                status_line = body[: body.find(CRLF)].split(b" ")
                if len(status_line) >= 2 and status_line[1].isdigit():
                    status = int(status_line[1])
                body = body[http_end + 4 :]
        records.append(
            {
                "target_uri": headers.get("warc-target-uri"),
                "warc_type": headers.get("warc-type"),
                "http_status": status,
                "content_length": len(body),
                "body": body,
            }
        )
        pos = body_start + length
    return records


class _TextExtractor(HTMLParser):
    _SKIP = {"script", "style", "noscript", "template"}

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)  # entities -> text for us
        self.parts: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in self._SKIP:
            self._skip_depth += 1

    def handle_endtag(self, tag):
        if tag in self._SKIP and self._skip_depth:
            self._skip_depth -= 1

    def handle_data(self, data):
        if not self._skip_depth and data:
            self.parts.append(data)


def html_to_text(markup: str) -> str:
    """Visible text of an HTML document: tags dropped, ``script``/
    ``style`` subtrees skipped, entities unescaped, whitespace runs
    collapsed to single spaces, trimmed. Text nodes join with a space —
    a tag boundary is a word boundary (``<title>a</title><p>b`` must not
    fuse to ``ab``); with ``convert_charrefs`` the parser flushes one
    data node per inter-tag run, so entity-split words stay whole."""
    p = _TextExtractor()
    p.feed(markup)
    p.close()
    return " ".join(_ws_split(" ".join(p.parts)))


_BLOCK_TAGS = {
    "html", "head", "body", "title", "p", "div", "section", "article",
    "main", "header", "footer", "nav", "aside", "h1", "h2", "h3", "h4",
    "h5", "h6", "ul", "ol", "li", "table", "tr", "td", "th", "blockquote",
    "pre", "form", "figure", "figcaption", "hr",
}


class _BlockExtractor(HTMLParser):
    """Segment HTML into text blocks at block-level tag boundaries,
    tracking per-block word and linked-word counts — the measurement
    pass of a jusText / Boilerpipe densitometric classifier
    (Kohlschütter et al. 2010: word count + link density separate
    content from boilerplate; stopword densities are the jusText
    refinement). Inline tags (``a``, ``b``, ``span``, …) do NOT flush;
    ``script``/``style`` subtrees are skipped like ``_TextExtractor``."""

    _SKIP = {"script", "style", "noscript", "template"}

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[dict] = []
        self._parts: list[tuple[str, bool]] = []  # (text run, inside <a>)
        self._skip_depth = 0
        self._a_depth = 0
        self._cur_tag = ""

    def _flush(self) -> None:
        # An anchor cannot legally span block elements, and HTMLParser
        # does no auto-closing: without this reset one unclosed <a>
        # ('<p><a href=/x>click here</p><p>article…</p>') would mark
        # every later block's words as linked and the density test
        # would discard the whole page's real content.
        self._a_depth = 0
        n_words = sum(len(_ws_split(t)) for t, _ in self._parts)
        if n_words:
            self.blocks.append(
                {
                    "tag": self._cur_tag,
                    "text": " ".join(
                        _ws_split(" ".join(t for t, _ in self._parts))
                    ),
                    "n_words": n_words,
                    "n_linked_words": sum(
                        len(_ws_split(t))
                        for t, linked in self._parts
                        if linked
                    ),
                }
            )
        self._parts = []

    def handle_starttag(self, tag, attrs):
        if tag in self._SKIP:
            self._skip_depth += 1
            return
        if tag in _BLOCK_TAGS:
            self._flush()
            self._cur_tag = tag
        elif tag == "a":
            self._a_depth += 1

    def handle_endtag(self, tag):
        if tag in self._SKIP:
            if self._skip_depth:
                self._skip_depth -= 1
            return
        if tag in _BLOCK_TAGS:
            self._flush()
        elif tag == "a" and self._a_depth:
            self._a_depth -= 1

    def handle_data(self, data):
        if not self._skip_depth and data:
            self._parts.append((data, self._a_depth > 0))


def html_blocks(markup: str) -> list[dict]:
    """Text blocks of an HTML document with densitometric features:
    ``[{tag, text, n_words, n_linked_words}, ...]`` in document order.
    Empty runs (whitespace-only between block tags) produce no block."""
    p = _BlockExtractor()
    p.feed(markup)
    p.close()
    p._flush()  # trailing text after the last block tag
    return p.blocks


def is_content_block(
    n_words: int, n_linked_words: int, min_words: int = 10
) -> bool:
    """Densitometric content test: enough words AND link density
    <= 1/3, compared in exact integer arithmetic (``3 * linked <=
    total`` — no float threshold to diverge across engines)."""
    return n_words >= min_words and 3 * n_linked_words <= n_words


def main_content(markup: str, min_words: int = 10) -> dict:
    """Boilerplate-removed main text of an HTML document: blocks that
    pass :func:`is_content_block` joined with single spaces, plus the
    block census — the C4/RefinedWeb "main content extraction" stage
    the plain :func:`html_to_text` skips (it keeps nav/footer/banner
    text). Pure row-local work: no shuffle at any corpus size."""
    blocks = html_blocks(markup)
    kept = [
        b
        for b in blocks
        if is_content_block(b["n_words"], b["n_linked_words"], min_words)
    ]
    return {
        "n_blocks": len(blocks),
        "n_content_blocks": len(kept),
        "main_text": " ".join(b["text"] for b in kept),
        "main_words": sum(b["n_words"] for b in kept),
    }


_MAIN_CONTENT_FIELDS = [
    T.StructField("n_blocks", T.IntegerType(), False),
    T.StructField("n_content_blocks", T.IntegerType(), False),
    T.StructField("main_text", T.StringType(), False),
    T.StructField("main_words", T.IntegerType(), False),
]

_TEXT_SCHEMA = T.StructType(
    [f for f in WARC_SCHEMA.fields if f.name != "body"]
    + [T.StructField("text", T.StringType(), True)]
)

_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def _main_content_row(markup: str | None, min_words: int) -> tuple:
    """``main_content`` as the ``_MAIN_CONTENT_FIELDS`` tuple (NULL
    markup reads as the empty page)."""
    mc = main_content(markup if markup is not None else "", min_words)
    return mc["n_blocks"], mc["n_content_blocks"], mc["main_text"], mc["main_words"]


def _records(payload: bytes | None) -> list[tuple]:
    """``WARC_SCHEMA`` minus ``source``, one tuple per record of a blob."""
    if payload is None:
        return []
    return [
        (i, r["target_uri"], r["warc_type"], r["http_status"], r["content_length"], r["body"])
        for i, r in enumerate(parse_warc_records(payload))
    ]


def _decode(body: bytes | None) -> str | None:
    """utf-8 with U+FFFD substitution — the JVM ``decode(body, 'UTF-8')``."""
    return None if body is None else bytes(body).decode("utf-8", "replace")


def _body_text(body: bytes | None) -> str | None:
    markup = _decode(body)
    return None if markup is None else html_to_text(markup)


def extract_main_content(
    df: DataFrame, html_col: str = "html", min_words: int = 10
) -> DataFrame:
    """DataFrame form of :func:`main_content`: every non-html column is
    carried through, the html column is replaced by ``(n_blocks,
    n_content_blocks, main_text, main_words)``. One Arrow map stage —
    markup is consumed map-side and never shuffles."""
    carry = [f for f in df.schema.fields if f.name != html_col]
    if len(carry) == len(df.schema.fields):
        raise ValueError(f"extract_main_content: no column {html_col!r}")
    return map_rows(
        df,
        lambda markup: [_main_content_row(markup, min_words)],
        T.StructType(carry + _MAIN_CONTENT_FIELDS),
        carry=[f.name for f in carry],
    )


def warc_records(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Spark source: one row per WARC record found in each payload blob.

    Input needs ``(media_id or source id col..., payload binary)``; the
    first non-payload column is carried through as ``source`` (cast to
    string). Splitting is per-row Python over Arrow batches — the blob
    never shuffles; downstream extraction/filters run map-side.
    """
    carry = next((c for c in media.columns if c != payload_col), None)
    if carry is None:
        raise ValueError(
            f"warc_records expects an (id, {payload_col!r}) shaped input: "
            f"need at least one non-payload column to carry through as "
            f"'source', got columns {media.columns!r}"
        )
    return map_rows(
        media.select(F.col(carry).cast("string").alias("source"), payload_col),
        _records,
        WARC_SCHEMA,
        carry=["source"],
    )


def extract_html_text(records: DataFrame) -> DataFrame:
    """``warc_records`` output + a ``text`` column: utf-8 decode of the
    body run through ``html_to_text``. One Arrow map stage — the body
    bytes are consumed here and do not survive into the (narrow) output,
    so nothing binary ever shuffles."""
    keep = _TEXT_SCHEMA.fieldNames()[:-1]
    return map_rows(
        records.select(*keep, "body"),
        lambda body: [(_body_text(body),)],
        _TEXT_SCHEMA,
        carry=keep,
    )


class _LinkExtractor(HTMLParser):
    """Harvest raw ``<a href>`` values in document order."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            for k, v in attrs:
                if k == "href" and v is not None:
                    self.links.append(v)


def html_links(markup: str) -> list[str]:
    """All raw anchor hrefs of an HTML document, in document order
    (empty-string hrefs included — resolution decides what survives)."""
    p = _LinkExtractor()
    p.feed(markup)
    p.close()
    return p.links


_BASE_ORIGIN = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)")


def resolve_href(base_url: str, href: str) -> str | None:
    """Resolve an anchor href against its page URL for link-graph use.

    Deliberately narrower than RFC 3986 / ``urllib.parse.urljoin``:
    keeps http(s)-absolute hrefs, resolves protocol-relative (``//h/x``
    — base scheme) and root-relative (``/x`` — base origin), and drops
    everything else (``mailto:``/``javascript:``/other schemes,
    fragment-only, empty, and path-relative hrefs — the last because
    dot-segment semantics add nothing to a HOST-level graph: a
    path-relative link always stays on the page's own host, which the
    edge stage drops as a self-loop anyway). The three kept forms are
    pure string concatenations, so a SQL oracle restates resolution
    exactly.
    """
    h = href.strip()
    if not h or h.startswith("#"):
        return None
    low = h.lower()
    if low.startswith("http://") or low.startswith("https://"):
        return h
    m = _BASE_ORIGIN.match(base_url)
    if m is None:
        return None
    if h.startswith("//"):
        return m.group(1) + ":" + h
    if h.startswith("/"):
        return m.group(0) + h
    return None


LINKS_SCHEMA = T.StructType(
    [
        T.StructField("src_url", T.StringType(), False),
        T.StructField("href", T.StringType(), False),
        T.StructField("dst_url", T.StringType(), True),
    ]
)


def extract_links(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src_url, href, dst_url) per harvested anchor — the hyperlink
    table a crawl-scale centrality prior starts from (Common Crawl's
    host-level web graph is exactly this harvest, host-reduced).

    One Arrow map stage (``html.parser`` anchor walk + ``resolve_href``),
    embarrassingly parallel, zero shuffle; the HTML column is consumed
    here and does not survive into the narrow output. ``dst_url`` is
    NULL for dropped hrefs (mailto:/javascript:/fragment-only/
    path-relative) so per-page harvest accounting stays queryable;
    edge building filters the NULLs.
    """

    def row(base, markup):
        if markup is None:
            return []
        return [(base, h, resolve_href(base, h)) for h in html_links(markup)]

    return map_rows(pages.select(url_col, html_col), row, LINKS_SCHEMA)


def read_warc(spark, path_glob: str) -> DataFrame:
    """File-level WARC reader: ``binaryFile`` source (one file per task —
    gzip members are not splittable, files are the crawl's parallelism
    unit) piped through ``warc_records``; ``source`` is the file path."""
    files = spark.read.format("binaryFile").load(path_glob).select(
        "path", "content"
    )
    return warc_records(
        files.withColumnRenamed("content", "payload"), payload_col="payload"
    )


def _synth_record_bytes(mid: int, uri: str, body_html: str, gzip_records: bool) -> bytes:
    """One deterministic WARC/1.0 response record for page ``mid`` at
    ``uri``: WARC named fields around an HTTP/1.1 200 envelope around
    ``body_html``; one gzip member with a fixed mtime when
    ``gzip_records``. Every synthesized record is built here."""
    body = body_html.encode("utf-8")
    http = (
        b"HTTP/1.1 200 OK" + CRLF
        + b"Content-Type: text/html" + CRLF
        + b"Content-Length: " + str(len(body)).encode() + CRLF
        + CRLF + body
    )
    rec = (
        b"WARC/1.0" + CRLF
        + b"WARC-Type: response" + CRLF
        + ("WARC-Target-URI: " + uri).encode() + CRLF
        + b"WARC-Record-ID: <urn:uuid:" + str(mid).encode() + b">" + CRLF
        + b"Content-Type: application/http;msgtype=response" + CRLF
        + b"Content-Length: " + str(len(http)).encode() + CRLF
        + CRLF + http + CRLF + CRLF
    )
    if gzip_records:
        buf = io.BytesIO()
        # fixed mtime: byte-deterministic output
        with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(rec)
        rec = buf.getvalue()
    return rec


def _doc_record(mid: int, text: str | None, gzip_records: bool) -> bytes:
    """The ``synth_warc`` page of document ``mid``: title, a style block,
    the html-escaped text as one paragraph, a script block."""
    return _synth_record_bytes(
        mid,
        f"https://crawl.example.com/doc/{mid}",
        "<html><head><title>doc "
        + str(mid)
        + '</title><style>p{color:black}</style></head><body><p>'
        + _html.escape(text or "")
        + "</p><script>var x=1;</script></body></html>",
        gzip_records,
    )


def synth_warc(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gzip_records: bool = True,
) -> DataFrame:
    """Deterministic per-row WARC response record (REAL bytes: WARC/1.0
    named fields, embedded HTTP/1.1 envelope, html-escaped body, one
    gzip member per record by default) — the synthesis analog of
    ``synth_gray_ppm``/``synth_wav_tones``, so the driver-verified query
    exercises the true record walk + gzip + HTML extraction while an
    external SQL engine can restate the construction (URI arithmetic,
    escaped body length) without a WARC stack."""

    def row(mid, text):
        mid = int(mid)
        return [(mid, _doc_record(mid, text, gzip_records))]

    return map_rows(
        ensure_min_partitions(df.select(id_col, text_col)), row, _PAYLOAD_SCHEMA
    )


def synth_extract_html_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gzip_records: bool = True,
) -> DataFrame:
    """``synth_warc → warc_records → extract_html_text`` in ONE Arrow
    stage: the same row functions chained per input row
    (``_doc_record`` → ``parse_warc_records`` → ``html_to_text``), so
    the output equals the staged chain's while the gzip'd payloads never
    cross the JVM↔Python boundary (each ``mapInPandas`` is a separate
    crossing with an Arrow transpose+serialization on each side).
    Production crawls enter via ``read_warc``, where the payload is READ
    in the JVM and must cross once anyway."""

    def row(mid, text):
        mid = int(mid)
        rec = _doc_record(mid, text, gzip_records)
        return [(str(mid), *r[:-1], _body_text(r[-1])) for r in _records(rec)]

    return map_rows(
        ensure_min_partitions(df.select(id_col, text_col)), row, _TEXT_SCHEMA
    )


def synth_extract_main_content(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 10,
    gzip_records: bool = True,
) -> DataFrame:
    """``synth_warc → warc_records → decode → extract_main_content`` in
    ONE Arrow stage (see ``synth_extract_html_text``): the record round
    trip plus the densitometric block classifier (``main_content``),
    one row ``(doc_id, n_blocks, n_content_blocks, main_text,
    main_words)`` per record."""

    def row(mid, text):
        mid = int(mid)
        rec = _doc_record(mid, text, gzip_records)
        return [(mid, *_main_content_row(_decode(r[-1]), min_words)) for r in _records(rec)]

    return map_rows(
        ensure_min_partitions(df.select(id_col, text_col)),
        row,
        T.StructType(
            [T.StructField("doc_id", T.LongType(), True)] + _MAIN_CONTENT_FIELDS
        ),
    )


def synth_warc_linked(
    df: DataFrame,
    n_hosts: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Linked crawl pages as REAL gzip'd WARC/1.0 records — the fixture
    for the end-to-end crawl chain (``pipeline_crawl_e2e``): page m
    lives on ``www.h(m % n_hosts).example.org`` and its body carries
    BOTH the document text (escaped ``<p>`` paragraph — the main-content
    block) and the six-anchor link census of the
    ``plans.pipeline_queries._synth_link_pages`` scheme (absolute
    ``(7m+1) % H`` with tracking param + fragment, protocol-relative
    ``(13m+2) % H`` with uppercase WWW. and :443, the ``m % 4 == 0`` hub
    link to h0, a root-relative self link, mailto:, fragment-only, and a
    bare ``<a>``). Deterministic bytes (fixed gzip mtime) so the fixture
    files are reproducible and an external SQL engine can restate the
    whole construction arithmetically."""

    def row(mid, text):
        m = int(mid)
        a1 = (
            f"https://h{(m * 7 + 1) % n_hosts}.example.org/p/"
            f"{m % 50}?utm_source=feed#sec1"
        )
        a2 = f"//WWW.h{(m * 13 + 2) % n_hosts}.example.org:443/x"
        hub = '<a href="https://h0.example.org/hub">hub</a>' if m % 4 == 0 else ""
        body_html = (
            "<html><body><p>"
            + _html.escape(text or "")
            + f'</p><a href="{a1}">one</a><a href="{a2}">two</a>'
            + hub
            + '<a href="/about">self</a>'
            '<a href="mailto:crawl@example.org">mail</a>'
            '<a href="#top">top</a><a>bare</a></body></html>'
        )
        uri = f"https://www.h{m % n_hosts}.example.org/d/{m}"
        return [(m, _synth_record_bytes(m, uri, body_html, True))]

    return map_rows(
        ensure_min_partitions(df.select(id_col, text_col)), row, _PAYLOAD_SCHEMA
    )
