"""Byte-level pin of the GFF3 loader's catalog and of its GFF3 export on
the paths the golden-count tests do not reach without the reference
fixtures: a ``##FASTA`` tail, ID-less rows (auto uniquenames), ``Target``
rows, Alias/Dbxref/Note attributes and percent-escapes — loaded twice
into one loader (the incremental path), and once more through a
save/restore round trip of the catalog.

Each digest is the sha256 of a table's rows, sorted, under its column
names; the export digest is that of the written GFF3 file. Both load
paths must give the same catalog and the same export.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

from modware_loader_spark.catalog import (
    ChadoCatalog,
    restore_loader_state,
    save_loader_state,
)
from modware_loader_spark.plans.exports import chado2gff3_rows, sequence_regions
from modware_loader_spark.plans.gff3_load import ChadoGFF3Loader
from modware_loader_spark.sinks.gff3 import write_gff3

GFF3 = os.path.join(os.path.dirname(__file__), "fixtures", "pinned_genome.gff3")

FIRST_COUNTS = {
    "temp_new_feature": 18,
    "new_feature": 18,
    "new_featureloc": 15,
    "new_featureloc_target": 3,
    "new_analysisfeature": 3,
    "new_synonym": 3,
    "new_feature_synonym": 4,
    "new_feature_relationship": 10,
    "new_dbxref": 3,
    "new_feature_dbxref": 4,
    "new_featureprop": 5,
}
SECOND_COUNTS = {
    "temp_new_feature": 4,
    "new_feature": 4,
    "new_featureloc": 4,
    "new_featureloc_target": 1,
    "new_analysisfeature": 1,
    "new_synonym": 0,
    "new_feature_synonym": 0,
    "new_feature_relationship": 4,
    "new_dbxref": 0,
    "new_feature_dbxref": 0,
    "new_featureprop": 0,
}
DIGESTS = {
    "feature": "f288de4fd9d6f913",
    "featureloc": "a8e08ef0e2e0343e",
    "analysisfeature": "57bb15340cb6a075",
    "synonym": "def6ef3f4e3bf9a5",
    "feature_synonym": "a9b2e2426ec5c1da",
    "feature_relationship": "95366ce7e0ac077b",
    "dbxref": "f86bf318414ce1bf",
    "feature_dbxref": "1252ba884db7b0c5",
    "featureprop": "9d7ef5070cdb23f4",
    "db": "1d545d1c839a041e",
    "cv": "071e4aec275c836e",
    "cvterm": "bcb545d6b1f27bf8",
    "analysis": "05e93efe7b9036f4",
}
EXPORT_DIGEST = "1bbf2240298d850c"


def _cell(v):
    return repr(v) if isinstance(v, float) else v


def _digest(df) -> str:
    rows = sorted(json.dumps([_cell(v) for v in r]) for r in df.collect())
    text = "\n".join([",".join(df.columns), *rows])
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _catalog_digests(loader) -> dict:
    return {name: _digest(df) for name, df in loader.tables.items()}


def _export_digest(loader, out: str) -> str:
    write_gff3(chado2gff3_rows(loader), out, sequence_regions=sequence_regions(loader))
    body = "".join(open(p).read() for p in sorted(glob.glob(os.path.join(out, "part-*"))))
    return hashlib.sha256(body.encode()).hexdigest()[:16]


def test_incremental_load_pinned(spark, tmp_path):
    loader = ChadoGFF3Loader(spark)
    assert loader.load_file(GFF3) == FIRST_COUNTS
    assert loader.load_file(GFF3) == SECOND_COUNTS
    assert loader.chado.auto_counter == 8
    assert _catalog_digests(loader) == DIGESTS
    assert _export_digest(loader, str(tmp_path / "out.gff3")) == EXPORT_DIGEST


def test_restored_load_pinned(spark, tmp_path):
    catalog = ChadoCatalog(spark, str(tmp_path / "catalog"))
    first = ChadoGFF3Loader(spark)
    assert first.load_file(GFF3) == FIRST_COUNTS
    save_loader_state(first, catalog)

    loader = ChadoGFF3Loader(spark)
    restore_loader_state(loader, catalog)
    assert loader.load_file(GFF3) == SECOND_COUNTS
    assert loader.chado.auto_counter == 8
    assert _catalog_digests(loader) == DIGESTS
    assert _export_digest(loader, str(tmp_path / "out.gff3")) == EXPORT_DIGEST
