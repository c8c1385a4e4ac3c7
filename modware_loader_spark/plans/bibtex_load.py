"""bibtex2chado equivalent (S13 completion): BibTeX entries → Chado pub /
pubauthor / pubprop tables.

Reference: ``lib/Modware/Import/Command/bibtex2chado.pm`` with the BibTeX
plugin (``lib/Modware/Plugin/Import/Publication/BibTeX.pm``):
- uniquename = pmid, else the ``id`` field with a leading ``PUB``
  stripped (``BibTeX.pm:5-17``);
- pubplace = 'PubMed' for pmid entries, else the upper-cased citekey
  prefix before the id (``BibTeX.pm:19-29``);
- pub type = journal_article when a ``status`` field exists, else
  unpublished (``BibTeX.pm:31-37``);
- column map title/volume/series_name←journal/pyear←year/pages
  (``bibtex2chado.pm:64-70``);
- pubprops only for doi/status/month/issn/abstract when present
  (``create_pub_properties``, ``:105-117``);
- authors split on ``and``, rank = position+1, braces stripped from
  name parts (``create_authors``, ``:119-140``);
- the 8 pub_type cvterms find-or-created up front (``:142-159``), here in cv
  ``pub_type`` of the shared state, each with an ``internal``-db dbxref
  ``pub_type:<name>``;
- a pub is found or created on uniquename; only created pubs get
  authors and props.

Golden counts (``t/loader/bibtex2chado.t``): 5 pubs, 16 authors,
12 pubprops from ``t/test_data/literature/test.bib``.

Spark shape: one parse scan → three projections; the author fan-out is a
posexplode (rank from position, no window); the pub types are one
find-or-create batch (U1), never row-at-a-time.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from modware_loader_spark.catalog import ChadoState
from modware_loader_spark.frames import local_frame
from modware_loader_spark.operators.merge import append
from modware_loader_spark.sources.bibtex import parse_bibtex

TABLES = ("db", "dbxref", "cv", "cvterm", "pub", "pubauthor", "pubprop")

PUB_TYPE_TERMS = [
    "unpublished",
    "journal_article",
    "status",
    "doi",
    "month",
    "issn",
    "abstract",
    "thesis",
]
PROP_FIELDS = ["doi", "status", "month", "issn", "abstract"]


class BibTeXLoader:
    """bibtex2chado over a Chado state (``catalog.ChadoState``)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.chado = ChadoState(spark)
        self.chado.declare(TABLES)
        self.tables = self.chado.tables

    def load_file(self, path: str) -> dict[str, int]:
        """→ the pubs, authors and props created, and the pub_type terms."""
        chado, t = self.chado, self.tables
        chado.find_or_create_names("db", ["internal"])
        chado.find_or_create_terms(local_frame(
            self.spark,
            [(name, "pub_type", f"pub_type:{name}") for name in PUB_TYPE_TERMS],
            "name string, cv string, accession string",
        ))
        type_ids = {r.name: r.cvterm_id for r in chado.term_ids("pub_type").collect()}
        entries = parse_bibtex(self.spark, path)
        f = lambda k: F.element_at(F.col("fields"), k)  # noqa: E731

        base = entries.select(
            "citekey",
            "fields",
            F.coalesce(
                f("pmid"), F.regexp_replace(f("id"), r"^PUB", "")
            ).alias("uniquename"),
            F.when(f("pmid").isNotNull(), F.lit("PubMed"))
            .otherwise(F.upper(F.expr("replace(citekey, element_at(fields, 'id'), '')")))
            .alias("pubplace"),
            F.when(
                f("status").isNotNull(), F.lit(type_ids["journal_article"])
            )
            .otherwise(F.lit(type_ids["unpublished"]))
            .cast("long")
            .alias("type_id"),
            f("title").alias("title"),
            f("volume").alias("volume"),
            f("journal").alias("series_name"),
            f("year").alias("pyear"),
            f("pages").alias("pages"),
        )
        fresh = base.join(t["pub"].select("uniquename"), "uniquename", "left_anti")
        t["pub"], pub = append(t["pub"], fresh, id_col="pub_id", order_by=["uniquename"])

        authors_raw = pub.select(
            "pub_id",
            F.posexplode(F.split(F.element_at(F.col("fields"), "author"), r"\s+and\s+")),
        ).withColumnsRenamed({"pos": "rank0", "col": "raw"})
        braced = F.regexp_extract("raw", r"^\{(.*)\}$", 1)
        has_comma = F.instr(F.trim(F.col("raw")), ",") > 0
        trimmed = F.trim(F.regexp_replace("raw", r"[{}]", ""))
        pubauthor = authors_raw.filter(F.trim("raw") != "").select(
            "pub_id",
            (F.col("rank0") + 1).cast("int").alias("rank"),
            F.when(braced != "", braced)
            .when(has_comma, F.trim(F.substring_index(trimmed, ",", 1)))
            .otherwise(F.element_at(F.split(trimmed, r"\s+"), -1))
            .alias("surname"),
            F.when(braced != "", F.lit(None).cast("string"))
            .when(has_comma, F.trim(F.substring_index(trimmed, ",", -1)))
            .otherwise(
                F.nullif(
                    F.trim(
                        F.regexp_replace(trimmed, r"\s*\S+$", "")
                    ),
                    F.lit(""),
                )
            )
            .alias("givennames"),
        )

        props = None
        for prop in PROP_FIELDS:
            p = pub.filter(F.element_at("fields", prop).isNotNull()).select(
                "pub_id",
                F.lit(type_ids[prop]).cast("long").alias("type_id"),
                F.element_at("fields", prop).alias("value"),
            )
            props = p if props is None else props.unionByName(p)

        t["pubauthor"], pubauthor = append(t["pubauthor"], pubauthor)
        t["pubprop"], props = append(t["pubprop"], props)
        return {
            "pub": pub.count(),
            "pubauthor": pubauthor.count(),
            "pubprop": props.count(),
            "cvterm": len(type_ids),
        }
