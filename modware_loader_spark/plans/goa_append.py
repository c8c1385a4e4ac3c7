"""GOA dicty GAF post-steps: append ncRNA rows and duplicate-gene copies.

Reference: ``lib/Modware/Role/Command/GOA/Dicty/AppendncRNA.pm:15-30``
(append the shared ncRNA GAF verbatim to the export) and
``lib/Modware/Role/Command/GOA/Dicty/AppendDuplicate.pm:18-72`` (for each
annotation whose gene is in a duplicate group, emit the same annotation
re-keyed to every *other* member of the group; for chr2 duplicates emit one
copy re-keyed via a 1:1 map). Tests: ``t/role/append_ncrna.t``,
``t/role/appenduplicate.t``.

Spark shape: both are map-side-only plans at any scale. The ncRNA append is
a ``unionByName``; the duplicate expansion is two broadcast joins (the
duplicate tables are a few hundred rows) producing the copy rows, unioned
under the originals — no shuffle of the (large) GAF side at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modware_loader_spark.frames import local_frame
from modware_loader_spark.sources.gaf import parse_gaf

# The actin duplicate group from the reference role's __DATA__ section
# (AppendDuplicate.pm:77-95): every annotation on one member is copied to
# all the others. Kept as data, keyed by group so more groups can be added.
DUPLICATE_GROUPS: dict[str, list[str]] = {
    "actin": [
        "DDB_G0289553",
        "DDB_G0288879",
        "DDB_G0274129",
        "DDB_G0274599",
        "DDB_G0274137",
        "DDB_G0272520",
        "DDB_G0272248",
        "DDB_G0274727",
        "DDB_G0274133",
        "DDB_G0274285",
        "DDB_G0274561",
        "DDB_G0289005",
        "DDB_G0289663",
        "DDB_G0274135",
        "DDB_G0280545",
        "DDB_G0269234",
        "DDB_G0274601",
    ]
}


def duplicate_groups_df(spark: SparkSession, groups: dict[str, list[str]] | None = None) -> DataFrame:
    """(group_name, member_id) rows for the duplicate-gene groups."""
    groups = DUPLICATE_GROUPS if groups is None else groups
    rows = [(g, m) for g, members in groups.items() for m in members]
    return local_frame(spark, rows, "group_name string, member_id string")


def load_chr2_dups(spark: SparkSession, path: str) -> DataFrame:
    """chr2 duplicate map (src_id → dup_id), one TSV pair per line
    (AppendDuplicate.pm:29-38)."""
    return (
        spark.read.option("sep", "\t")
        .csv(path)
        .toDF("src_id", "dup_id")
        .where(F.col("src_id").isNotNull() & F.col("dup_id").isNotNull())
    )


def load_ncrna_gaf(spark: SparkSession, path: str) -> DataFrame:
    """The shared ncRNA GAF (AppendncRNA.pm:21-23) in GAF column layout."""
    return parse_gaf(spark, path)


def append_ncrna(gaf: DataFrame, ncrna: DataFrame) -> DataFrame:
    """AppendncRNA: the export plus the static ncRNA annotation set."""
    return gaf.unionByName(ncrna.select(*gaf.columns), allowMissingColumns=False)


def duplicate_copies(
    gaf: DataFrame,
    groups: DataFrame | None = None,
    chr2_map: DataFrame | None = None,
    id_col: str = "db_object_id",
) -> DataFrame:
    """Just the copy rows AppendDuplicate would append (not the originals).

    Group semantics (AppendDuplicate.pm:50-58): a row keyed to any group
    member is re-emitted once per *other* member of that group. chr2
    semantics (:60-64): a row keyed to a map source is re-emitted once with
    the mapped id. A row can match both; both sets of copies are produced.
    """
    spark = gaf.sparkSession
    copies = []
    if groups is None:
        groups = duplicate_groups_df(spark)
    m1 = groups.withColumnsRenamed({"member_id": id_col})
    m2 = groups.withColumnsRenamed({"member_id": "__dup_id"})
    group_copies = (
        gaf.join(F.broadcast(m1), id_col)
        .join(F.broadcast(m2), "group_name")
        .where(F.col("__dup_id") != F.col(id_col))
        .withColumn(id_col, F.col("__dup_id"))
        .drop("group_name", "__dup_id")
        .select(*gaf.columns)
    )
    copies.append(group_copies)
    if chr2_map is not None:
        chr2_copies = (
            gaf.join(F.broadcast(chr2_map.withColumnsRenamed({"src_id": id_col})), id_col)
            .withColumn(id_col, F.col("dup_id"))
            .drop("dup_id")
            .select(*gaf.columns)
        )
        copies.append(chr2_copies)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def append_duplicates(
    gaf: DataFrame,
    groups: DataFrame | None = None,
    chr2_map: DataFrame | None = None,
    id_col: str = "db_object_id",
) -> DataFrame:
    """AppendDuplicate: originals followed by the expanded duplicate copies."""
    return gaf.unionByName(duplicate_copies(gaf, groups, chr2_map, id_col))
