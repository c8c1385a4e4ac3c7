"""``chado_genome`` workload: a curator loads a genome into a fresh Chado
catalog and exports it back as GFF3, the way the CLI runs it
(``gff3tochado`` then ``chado2gff3``).

Each command is overhead-bound: its time barely moves with input size and
the first command in a JVM also pays JIT warm-up, as every CLI invocation
does. So the timed iteration starts from an empty catalog in a fresh
process and is not warmed up first.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
from argparse import Namespace

import chado_inputs

N_GENES = 2000
# sha256 prefix of the export per seed, recorded from earlier runs of this
# generator at N_GENES; an export must not change from run to run
RECORDED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "export_sha256.json")


def setup(work: str, seed: int, reps: int = 3) -> tuple[dict, float]:
    """Generate the genome ``reps`` times; return it and the median time."""
    times = []
    for r in range(reps):
        t = time.perf_counter()
        genome = chado_inputs.genome_inputs(os.path.join(work, f"inputs{r}"), seed, N_GENES)
        times.append(time.perf_counter() - t)
    return genome, statistics.median(times)


def _read_export(path: str) -> list[str]:
    lines = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name)) as fh:
                lines += fh.read().splitlines()
    return lines


def iteration(tracer, genome: dict, work: str, i: int) -> dict:
    """One timed load + export; returns the outputs to check."""
    from modware_loader_spark import cli

    catalog = os.path.join(work, f"catalog{i}")
    out = os.path.join(work, f"export{i}.gff3")
    with tracer.span("cli.gff3tochado"):
        counts = cli.cmd_gff3tochado(
            Namespace(input=genome["path"], catalog=catalog, dry_run=False)
        )
    with tracer.span("cli.chado2gff3"):
        exported = cli.cmd_chado2gff3(Namespace(catalog=catalog, output=out, dry_run=False))
    return {"counts": counts, "exported": exported, "output": out}


def verify(genome: dict, got: dict) -> list[tuple[str, bool, str]]:
    """Returned counts and the exported file against the generator."""
    checks = []
    exp = genome["expected"]
    bad = {k: (got["counts"].get(k), v) for k, v in exp.items() if got["counts"].get(k) != v}
    checks.append(("gff3tochado.counts", not bad, f"(got, expected): {bad}" if bad else ""))
    n_feat = len(genome["keys"])
    n = got["exported"].get("features_exported")
    checks.append(("chado2gff3.count", n == n_feat, f"{n} != {n_feat}"))
    lines = _read_export(got["output"])
    n_lines = 1 + genome["regions"] + n_feat
    checks.append(("chado2gff3.lines", len(lines) == n_lines, f"{len(lines)} != {n_lines}"))
    keys = []
    for line in lines:
        if line.startswith("#"):
            continue
        f = line.split("\t")
        fid = dict(kv.split("=", 1) for kv in f[8].split(";")).get("ID")
        keys.append((f[0], f[2], int(f[3]), int(f[4]), fid))
    same = sorted(keys) == genome["keys"]
    checks.append(("chado2gff3.features", same, "exported features differ from the input"))
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    got["export_sha256"] = digest
    return checks


def verify_hashes(seed: int, digests: list[str]) -> list[tuple[str, bool, str]]:
    """The export is the same in every iteration, and equals the one
    recorded for ``seed`` if there is one."""
    checks = [("chado2gff3.sha256_each_iteration", len(set(digests)) == 1,
               f"iterations differ: {sorted(set(digests))}")]
    with open(RECORDED) as fh:
        known = json.load(fh).get(str(seed))
    if known is not None:
        checks.append(("chado2gff3.sha256_recorded", digests[0] == known,
                       f"{digests[0]} != recorded {known}"))
    return checks
