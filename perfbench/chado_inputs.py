"""Seeded input files for the Chado commands, and the counts each command
must return on them.

- :func:`genome_inputs` writes a GFF3 genome: genes, mRNAs, exons and CDSs
  on four chromosomes, with Alias, Dbxref and Note attributes, EST
  ``Target`` rows (10% of feature lines) and FASTA tails.
- :func:`ontology_inputs` writes a GO-like ontology release and its
  owltools 4-column closure. The release is v2 of a layered DAG at most
  12 deep (``is_a`` plus some ``part_of`` edges): it obsoletes some leaf
  terms of v1, removes others, renames 10% and adds 10% new leaves.

The expected counts are derived from the generated structure alone, never
from running the program.
"""

from __future__ import annotations

import os
import random

GO_BASE = 10000
MAX_DEPTH = 12
CHROMOSOMES = ("chr1", "chr2", "chr3", "chr4")
_BASES = bytes(b"ACGT"[i % 4] for i in range(256))  # random byte -> base


def _write(path: str, lines: list[str]) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")


def _go_id(n: int) -> str:
    return f"GO:{GO_BASE + n:07d}"


def genome_inputs(out_dir: str, seed: int, n_genes: int) -> dict:
    """Write ``genome.gff3``; return its path, the feature keys an export
    must reproduce and the counts ``gff3tochado`` must return."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    per_chrom = -(-n_genes // len(CHROMOSOMES))
    gene_span, gap = 1800, 200
    chrom_len = per_chrom * (gene_span + gap) + gap
    feats: list[tuple] = []  # (seqid, source, type, start, end, score, strand, phase, attrs)
    n_alias = n_dbxref = n_note = n_parent = 0
    for c in CHROMOSOMES:
        feats.append((c, "bench", "chromosome", 1, chrom_len, ".", ".", ".", f"ID={c};Name={c}"))
    for g in range(n_genes):
        c = CHROMOSOMES[g // per_chrom]
        gid = f"DDB_G{g + 1:07d}"
        s = gap + (g % per_chrom) * (gene_span + gap) + 1
        e = s + gene_span - 1
        strand = "+" if rng.random() < 0.5 else "-"
        attrs = [f"ID={gid}", f"Name=gene{g + 1}"]
        if rng.random() < 0.6:
            attrs.append(f"Alias=GA{g + 1}")
            n_alias += 1
        if rng.random() < 0.5:
            attrs.append(f"Dbxref=GenBank:XM_{600000 + g}")
            n_dbxref += 1
        if rng.random() < 0.3:
            attrs.append(f"Note=putative protein {g + 1}")
            n_note += 1
        feats.append((c, "bench", "gene", s, e, ".", strand, ".", ";".join(attrs)))
        mid = f"{gid}.t1"
        feats.append((c, "bench", "mRNA", s, e, ".", strand, ".", f"ID={mid};Parent={gid}"))
        n_ex = 2 + g % 2
        ex_len = gene_span // n_ex
        for x in range(n_ex):
            feats.append((c, "bench", "exon", s + x * ex_len, s + (x + 1) * ex_len - 1, ".",
                          strand, ".", f"ID={mid}.e{x + 1};Parent={mid}"))
        feats.append((c, "bench", "CDS", s + 30, e - 30, ".", strand, "0",
                      f"ID={mid}.cds;Parent={mid}"))
        n_parent += 2 + n_ex
    n_est = len(feats) // 9  # EST rows are 10% of all feature lines
    for i in range(n_est):
        c = CHROMOSOMES[i % len(CHROMOSOMES)]
        s = 1 + rng.randrange(chrom_len - 400)
        feats.append((c, "est", "EST_match", s, s + 299, f"{rng.randrange(50, 100)}.0", "+", ".",
                      f"ID=estm{i + 1};Target=EST{i + 1} 1 300 +"))
    lines = ["##gff-version 3"]
    lines += [f"##sequence-region {c} 1 {chrom_len}" for c in CHROMOSOMES]
    lines += ["\t".join(map(str, f)) for f in feats]
    lines.append("##FASTA")
    for c in CHROMOSOMES:
        lines.append(f">{c}")
        seq = rng.randbytes(chrom_len).translate(_BASES).decode()
        lines += [seq[i:i + 60] for i in range(0, chrom_len, 60)]
    path = os.path.join(out_dir, "genome.gff3")
    _write(path, lines)
    n_lines = len(feats)
    return {
        "path": path,
        "keys": sorted((f[0], f[2], f[3], f[4], f[8].split(";", 1)[0][3:]) for f in feats),
        "expected": {
            # each EST Target row also creates the target feature itself
            "new_feature": n_lines + n_est,
            "new_featureloc": n_lines,
            "new_featureloc_target": n_est,
            "new_analysisfeature": n_est,
            "new_feature_synonym": n_alias,
            "new_feature_dbxref": n_dbxref,
            "new_featureprop": n_note,
            "new_feature_relationship": n_parent,
        },
        # the export writes a sequence-region for every srcfeature,
        # which includes each EST target
        "regions": len(CHROMOSOMES) + n_est,
    }


def _dag(rng: random.Random, n_terms: int) -> tuple[dict, dict]:
    """Layered DAG with three roots: (layer, parents) where
    ``parents[t]`` lists (parent, relation)."""
    layer = {0: 0, 1: 0, 2: 0}
    parents: dict[int, list[tuple[int, str]]] = {0: [], 1: [], 2: []}
    by_layer: dict[int, list[int]] = {0: [0, 1, 2]}
    for t in range(3, n_terms):
        depth = 1 + min(int(rng.random() ** 0.7 * (MAX_DEPTH - 1)), len(by_layer) - 1)
        p = rng.choice(by_layer[depth - 1])
        ps = [(p, "is_a")]
        if depth > 1 and rng.random() < 0.25:
            q = rng.choice(by_layer[rng.randrange(depth - 1)])
            ps.append((q, "part_of" if rng.random() < 0.4 else "is_a"))
        layer[t] = depth
        parents[t] = ps
        by_layer.setdefault(depth, []).append(t)
    return layer, parents


def _obo_lines(date: str, terms: dict[int, dict]) -> list[str]:
    out = ["format-version: 1.2", f"date: {date}", "saved-by: perfbench",
           "default-namespace: biological_process", ""]
    for t in sorted(terms):
        d = terms[t]
        out += ["[Term]", f"id: {_go_id(t)}", f"name: {d['name']}",
                f'def: "Definition of {d["name"]}." [GOC:bench]',
                f'synonym: "{d["name"]} process" RELATED []']
        if d.get("obsolete"):
            out.append("is_obsolete: true")
        for p, rel in d["parents"]:
            if rel == "is_a":
                out.append(f"is_a: {_go_id(p)} ! {terms[p]['name']}")
            else:
                out.append(f"relationship: part_of {_go_id(p)} ! {terms[p]['name']}")
        out.append("")
    return out + ["[Typedef]", "id: part_of", "name: part_of", "is_transitive: true", ""]


def _closure(terms: dict[int, dict]) -> list[tuple[int, str, int, int]]:
    """(subject, predicate, distance, object): every ``is_a`` ancestor at
    its shortest distance, plus each direct ``part_of`` edge."""
    rows = []
    for t in sorted(terms):
        dist = {t: 0}
        frontier = [t]
        while frontier:
            nxt = []
            for u in frontier:
                for p, rel in terms[u]["parents"]:
                    if rel == "is_a" and p not in dist:
                        dist[p] = dist[u] + 1
                        nxt.append(p)
            frontier = nxt
        rows += [(t, "OBO_REL:is_a", d, a) for a, d in sorted(dist.items()) if d > 0]
        rows += [(t, "part_of", 1, p) for p, rel in terms[t]["parents"] if rel == "part_of"]
    return rows


def _edges(terms: dict[int, dict]) -> set:
    return {(t, p, rel) for t, d in terms.items() for p, rel in d["parents"]}


def ontology_inputs(out_dir: str, seed: int, n_terms: int) -> dict:
    """Write ``go_v2.obo`` and ``go_v2.closure``; return their paths and
    the counts the ontology commands must return on an empty catalog."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    layer, parents = _dag(rng, n_terms)
    v1 = {t: {"name": f"process {t}", "parents": parents[t]} for t in parents}
    has_child = {p for d in v1.values() for p, _ in d["parents"]}
    leaves = [t for t in sorted(v1) if t not in has_child and layer[t] > 0]
    rng.shuffle(leaves)
    n_gone = max(2, n_terms // 20)
    obsoleted, removed = leaves[: n_gone // 2], set(leaves[n_gone // 2: n_gone])
    v2 = {t: dict(d) for t, d in v1.items() if t not in removed}
    for t in obsoleted:
        v2[t] = {"name": v1[t]["name"], "parents": [], "obsolete": True}
    live = [t for t in sorted(v2) if not v2[t].get("obsolete")]
    for t in rng.sample(live, max(1, n_terms // 10)):
        v2[t] = dict(v2[t], name=f"{v2[t]['name']} (renamed)")
    anchors = [t for t in live if layer[t] < MAX_DEPTH - 1]
    added = range(n_terms, n_terms + max(1, n_terms // 10))
    for t in added:
        v2[t] = {"name": f"process {t}", "parents": [(rng.choice(anchors), "is_a")]}
    paths = {n: os.path.join(out_dir, n) for n in ("go_v2.obo", "go_v2.closure")}
    _write(paths["go_v2.obo"], _obo_lines("01:06:2020 00:00", v2))
    closure = _closure(v2)
    _write(paths["go_v2.closure"],
           [f"{_go_id(s)}\t{p}\t{d}\t{_go_id(o)}" for s, p, d, o in closure])
    return {
        "paths": paths,
        "expected": {
            # + the part_of typedef
            "obo2chado": {"new_cvterms": len(v2) + 1, "new_relationships": len(_edges(v2))},
            "oboclosure2chado": {"new_paths": len(closure), "deleted_paths": 0},
        },
    }
