"""Correctness probe: load order of a genome and an ontology into an empty
Chado catalog.

    python3 perfbench/probe_genome_first.py [--seed N]

A fresh Chado install loads ontologies first, which the ``chado_genome``
workload's catalog never mixes with. This probe loads a small GFF3 genome
into an empty catalog *before* an ontology, then loads the ontology
(``obo2chado``) and its closure (``oboclosure2chado``), and checks the
returned counts against the generator. The same loads in ontology-first
order are the control. Known defect: in genome-first order the ontology
load makes too few relationships and the closure resolves no paths; the
GFF3 and ontology loaders share the ``dbxref`` table with separate
``db_id`` spaces. The probe exits 1 while any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from argparse import Namespace

import chado_inputs
from run import session


def _load(order: list[str], genome: dict, onto: dict, catalog: str) -> dict:
    from modware_loader_spark import cli

    got = {}
    for step in order:
        if step == "genome":
            got[step] = cli.cmd_gff3tochado(
                Namespace(input=genome["path"], catalog=catalog, dry_run=False))
        elif step == "ontology":
            got[step] = cli.cmd_obo2chado(Namespace(
                input=onto["paths"]["go_v2.obo"], catalog=catalog, dry_run=False, force=False))
        else:
            got[step] = cli.cmd_oboclosure2chado(
                Namespace(input=onto["paths"]["go_v2.closure"], catalog=catalog, dry_run=False))
    return got


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    with session("probe") as (_, work, _):
        genome = chado_inputs.genome_inputs(os.path.join(work, "in"), args.seed, n_genes=20)
        onto = chado_inputs.ontology_inputs(os.path.join(work, "in"), args.seed, n_terms=60)
        want = {"ontology": onto["expected"]["obo2chado"],
                "closure": onto["expected"]["oboclosure2chado"]}
        results = {}
        for label, order in (("ontology_first", ["ontology", "closure", "genome"]),
                             ("genome_first", ["genome", "ontology", "closure"])):
            got = _load(order, genome, onto, os.path.join(work, label))
            for step, exp in want.items():
                for key, value in exp.items():
                    results[f"{label}.{step}.{key}"] = {
                        "got": got[step].get(key), "expected": value,
                        "ok": got[step].get(key) == value}
    failed = sorted(k for k, r in results.items() if not r["ok"])
    for k, r in results.items():
        print(f"{k}: got {r['got']} expected {r['expected']}"
              f"{'' if r['ok'] else '  FAILED'}", file=sys.stderr)
    print(json.dumps({"probe": "genome_first", "failed": failed, "results": results}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
