"""Raw BLAST text-report scan (reference S11): parse classic NCBI
pairwise text reports (blastn/blastp/blastx/tblastn, both legacy
``2.2.x`` and BLAST+ layouts) into an HSP DataFrame.

The reference iterates ``Bio::SearchIO`` result/hit/hsp objects
(``lib/Modware/Transform/Command/blast2chadogff3.pm:191-233``); the
fields we extract are exactly the ones that command consumes: query
name/description, hit name/accession, per-hit significance (best HSP
evalue, used by the ``cutoff`` option ``:236-237``), per-HSP
query/hit start/end/strand (``:303-328``) and a CIGAR-ish token string
for the ``Gap`` attribute (``:326-327`` — BioPerl ``cigar_string``
split into ``\\d+[A-Z]`` tokens).

Scale shape: a concatenated report file is split into one row per
``Query=`` block via the text source's ``lineSep`` option — the split
happens in the scan, so a multi-GB report parses in parallel, one
bounded block per task. Block parsing is pure Python inside an
Arrow-batched ``mapInPandas`` (never row-at-a-time UDFs); the only
driver-side read is the one-line program banner.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modware_loader_spark.frames import map_rows

HSP_SCHEMA = (
    "query_id string, query_desc string, query_len int, "
    "hit_id string, hit_desc string, hit_len int, hit_rank int, hsp_rank int, "
    "bits double, evalue double, identities int, align_len int, "
    "query_strand int, strand int, "
    "query_start long, query_end long, hit_start long, hit_end long, gap string, "
    # frame-context + alignment-derived columns for the Tblastn filters
    # (lib/Modware/Role/Tblastn/Filter.pm): BLAST-reported signed frames,
    # first aligned residue of each row, and stop-codon presence — kept as
    # tiny derived columns so the (large) alignment strings never leave the
    # parser task.
    "query_frame int, hit_frame int, "
    "aln_q_first string, aln_h_first string, hsp_has_stop boolean"
)

_RE_BITS = re.compile(r"Score\s*=\s*([\d.eE+]+)\s*bits")
_RE_EXPECT = re.compile(r"Expect(?:\(\d+\))?\s*=\s*([^\s,]+)")
_RE_IDENT = re.compile(r"Identities\s*=\s*(\d+)/(\d+)")
_RE_STRAND = re.compile(r"Strand\s*=\s*(Plus|Minus)\s*/\s*(Plus|Minus)")
_RE_FRAME = re.compile(r"Frame\s*=\s*([+-]\d)(?:\s*/\s*([+-]\d))?")
_RE_LENGTH = re.compile(r"Length\s*=\s*([\d,]+)")
_RE_LETTERS = re.compile(r"\(\s*([\d,]+)\s*letters\s*\)")
_RE_ALN = re.compile(r"^(Query|Sbjct):?\s+(\d+)\s+(\S+)\s+(\d+)\s*$")


def _to_evalue(s: str) -> float:
    """BLAST prints bare exponents (``e-105``) for tiny evalues."""
    s = s.rstrip(",")
    if s.startswith(("e", "E")):
        s = "1" + s
    try:
        return float(s)
    except ValueError:
        return float("nan")


def _cigarish(qseq: str, sseq: str) -> str:
    """Space-joined number-first tokens matching the reference's
    ``cigar_string =~ /\\d{1,3}[A-Z]?/g; join ' '`` (``:326-327``).
    M = aligned pair, I = gap in the query row, D = gap in the hit row."""
    ops: list[str] = []
    run_op, run_len = None, 0
    for qc, sc in zip(qseq, sseq):
        op = "I" if qc == "-" else ("D" if sc == "-" else "M")
        if op == run_op:
            run_len += 1
        else:
            if run_op is not None:
                ops.append(f"{run_len}{run_op}")
            run_op, run_len = op, 1
    if run_op is not None:
        ops.append(f"{run_len}{run_op}")
    return " ".join(ops)


def _parse_hsp_chunk(chunk: str, algorithm: str) -> dict | None:
    """One `` Score =`` block → HSP dict (coords normalized min/max)."""
    m_bits = _RE_BITS.search(chunk)
    m_exp = _RE_EXPECT.search(chunk)
    if not (m_bits and m_exp):
        return None
    out: dict = {
        "bits": float(m_bits.group(1)),
        "evalue": _to_evalue(m_exp.group(1)),
        "identities": None,
        "align_len": None,
        "query_strand": 1,
        "strand": 1,
        "query_frame": 0,
        "hit_frame": 0,
    }
    m = _RE_IDENT.search(chunk)
    if m:
        out["identities"], out["align_len"] = int(m.group(1)), int(m.group(2))
    m = _RE_STRAND.search(chunk)
    if m:  # blastn: "Strand = Plus / Minus" = query / hit
        out["query_strand"] = 1 if m.group(1) == "Plus" else -1
        out["strand"] = 1 if m.group(2) == "Plus" else -1
    else:
        m = _RE_FRAME.search(chunk)
        if m:
            first = 1 if m.group(1).startswith("+") else -1
            if m.group(2):  # tblastx: query / hit frames
                out["query_strand"] = first
                out["strand"] = 1 if m.group(2).startswith("+") else -1
                out["query_frame"] = int(m.group(1))
                out["hit_frame"] = int(m.group(2))
            elif algorithm == "blastx":  # query frame only
                out["query_strand"] = first
                out["query_frame"] = int(m.group(1))
            else:  # tblastn: hit frame only
                out["strand"] = first
                out["hit_frame"] = int(m.group(1))
    q_coords: list[int] = []
    s_coords: list[int] = []
    q_seq: list[str] = []
    s_seq: list[str] = []
    for line in chunk.splitlines():
        m = _RE_ALN.match(line.strip())
        if not m:
            continue
        which, a, seq, b = m.group(1), int(m.group(2)), m.group(3), int(m.group(4))
        if which == "Query":
            q_coords += [a, b]
            q_seq.append(seq)
        else:
            s_coords += [a, b]
            s_seq.append(seq)
    if not (q_coords and s_coords):
        return None
    out["query_start"], out["query_end"] = min(q_coords), max(q_coords)
    out["hit_start"], out["hit_end"] = min(s_coords), max(s_coords)
    q_str, s_str = "".join(q_seq), "".join(s_seq)
    out["gap"] = _cigarish(q_str, s_str)
    out["aln_q_first"] = q_str[:1]
    out["aln_h_first"] = s_str[:1]
    out["hsp_has_stop"] = "*" in s_str
    return out


def _parse_query_block(block: str, algorithm: str) -> list[dict]:
    """One ``Query=`` block (query header + all its hits) → HSP dicts."""
    if not block.strip():
        return []
    head, *hit_chunks = re.split(r"\n>\s?", block)
    head_lines = head.strip().splitlines()
    if not head_lines:
        return []
    qname = head_lines[0].strip().split()[0] if head_lines[0].strip() else ""
    if not qname:
        return []
    qdesc = " ".join(head_lines[0].strip().split()[1:])
    qlen = None
    m = _RE_LETTERS.search(head) or _RE_LENGTH.search(head)
    if m:
        qlen = int(m.group(1).replace(",", ""))
    rows: list[dict] = []
    for hit_rank, hchunk in enumerate(hit_chunks, start=1):
        hhead, *hsp_chunks = re.split(r"\n\s?Score\s*=", hchunk)
        # hit id/desc may wrap over lines until the "Length =" line
        desc_lines: list[str] = []
        hlen = None
        for line in hhead.splitlines():
            m = _RE_LENGTH.search(line)
            if m:
                hlen = int(m.group(1).replace(",", ""))
                break
            desc_lines.append(line.strip())
        htokens = " ".join(desc_lines).split()
        if not htokens:
            continue
        hname, hdesc = htokens[0], " ".join(htokens[1:])
        for hsp_rank, chunk in enumerate(hsp_chunks, start=1):
            hsp = _parse_hsp_chunk("Score =" + chunk, algorithm)
            if hsp is None:
                continue
            hsp.update(
                query_id=qname,
                query_desc=qdesc,
                query_len=qlen,
                hit_id=hname,
                hit_desc=hdesc,
                hit_len=hlen,
                hit_rank=hit_rank,
                hsp_rank=hsp_rank,
            )
            rows.append(hsp)
    return rows


def read_blast_report(
    spark: SparkSession, path: str, algorithm: str | None = None
) -> DataFrame:
    """Parse raw BLAST text report(s) at ``path`` into HSP rows.

    ``algorithm`` (blastn/blastp/blastx/tblastn/tblastx) defaults to the
    first word of the report banner — a one-line driver-side read, same
    header-sized pattern as the OBO scan.
    """
    if algorithm is None:
        first = spark.read.text(path).head(1)
        algorithm = first[0].value.split()[0].lower() if first else "blastn"
    algorithm = algorithm.lower()

    blocks = spark.read.text(path, lineSep="\nQuery=")

    # Executors have no importable copy of this package (the external
    # driver only puts the repo on its OWN sys.path), so ship this module's
    # functions by value instead of by reference — same effect as the
    # nested-function convention used elsewhere, without inlining ~150
    # lines of parser into a closure.
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])

    cols = [f.split()[0] for f in HSP_SCHEMA.split(", ")]

    def parse(block):
        return [tuple(r.get(c) for c in cols) for r in _parse_query_block(block, algorithm)]

    return map_rows(blocks, parse, HSP_SCHEMA)


def parse_blast_id(col, parser: str | None):
    """Header-id parsers (``blast2chadogff3.pm:163-179``): pipe-splitting
    applied only when the id actually contains ``|``."""
    if parser is None:
        return col
    idx = {"ncbi_gi": 1, "regular": 0, "general": 2}[parser]
    return F.when(
        F.instr(col, "|") > 0, F.split(col, r"\|").getItem(idx)
    ).otherwise(col)
