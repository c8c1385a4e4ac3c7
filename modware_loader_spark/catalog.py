"""The Chado catalog: the one schema every loader shares, its live state,
and its persistence — one parquet directory per table, with a JDBC mirror
for a real Chado database.

The reference loads everything into one database, and so does every
load command here (GFF3, GenBank, ontology, closure, adhoc, GAF, BibTeX,
organism and stock): each loader declares the tables it uses (columns
from :data:`SCHEMAS`) in one :class:`ChadoState`, which
:func:`save_loader_state` / :func:`restore_loader_state` persist with its
scalar state. Every loader shares one id space per table: a genome, an
ontology, the pub types and the stock terms find or create the same
``cv``/``cvterm`` rows, and a plasmid feature is a ``feature`` row.

The reference's persistent state is rows in Pg/SQLite/Oracle via
DBIx::Class (``lib/Modware/Role/Command/WithBCS.pm:118-121``); its
transactionality (single txn around a whole load,
``gff3tochado.pm:251,272-277``) maps to idempotent merge design (M6
EXCEPT semantics) + atomic directory overwrite per table here. The JDBC
path uses the same DataFrames with ``spark.read/write.jdbc`` — dialect
differences live entirely in the JDBC writer (the reference needed three
SQL dialects; we need none).

Scale: each table directory is partitionable (e.g. feature by
organism_id, featureloc by srcfeature_id) — pass ``partition_by`` to get
partition pruning on the read side.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modware_loader_spark.frames import local_frame
from modware_loader_spark.operators.merge import find_or_create, materialized

SCHEMAS = {
    # general + cv module
    "db": "db_id long, name string",
    "cv": "cv_id long, name string",
    "dbxref": "dbxref_id long, accession string, db_id long",
    "cvterm": (
        "cvterm_id long, name string, definition string, is_obsolete int, "
        "is_relationshiptype int, cv_id long, dbxref_id long"
    ),
    "cvterm_relationship": "object_id long, subject_id long, type_id long",
    "cvprop": "cv_id long, type_id long, value string",
    "cvtermsynonym": "cvterm_id long, synonym string, type_id long",
    "cvtermprop": "cvterm_id long, type_id long, value string",
    "cvterm_dbxref": "cvterm_id long, dbxref_id long",
    "cvtermpath": (
        "object_id long, subject_id long, type_id long, pathdistance int, cv_id long"
    ),
    # sequence + companalysis module
    "feature": (
        "feature_id long, uniquename string, name string, type_id long, "
        "organism_id long, dbxref_id long, residues string, md5checksum string, "
        "seqlen long"
    ),
    "featureloc": (
        "feature_id long, srcfeature_id long, fmin long, fmax long, "
        "strand int, phase int, rank int"
    ),
    "analysis": "analysis_id long, program string, programversion string",
    "analysisfeature": "feature_id long, significance double, analysis_id long",
    "synonym": "synonym_id long, name string, type_id long, synonym_sgml string",
    "feature_synonym": "feature_id long, synonym_id long, pub_id long",
    "feature_relationship": "object_id long, subject_id long, type_id long",
    "feature_dbxref": "dbxref_id long, feature_id long",
    "featureprop": "feature_id long, value string, type_id long",
    # organism + pub module
    "organism": (
        "organism_id long, genus string, species string, common_name string, "
        "abbreviation string"
    ),
    "pub": (
        "pub_id long, uniquename string, pubplace string, type_id long, "
        "title string, volume string, series_name string, pyear string, pages string"
    ),
    "pubauthor": "pub_id long, rank int, surname string, givennames string",
    "pubprop": "pub_id long, type_id long, value string",
    # GAF annotations (a prop's type is its GAF column name)
    "feature_cvterm": (
        "feature_cvterm_id long, feature_id long, cvterm_id long, pub_id long, "
        "rank int, is_not boolean"
    ),
    "feature_cvtermprop": "feature_cvterm_id long, type string, value string",
    # stock module
    "stock": (
        "stock_id long, uniquename string, name string, organism_id long, "
        "description string, type_id long"
    ),
    "stockcollection": "stockcollection_id long, name string, type_id long",
    "stockcollection_stock": "stockcollection_id long, stock_id long",
    "stockprop": "stock_id long, type_id long, value string, rank int",
    "stock_pub": "stock_id long, pub_id long",
    "stock_cvterm": "stock_id long, cvterm_id long, pub_id long",
    "stock_relationship": "object_id long, subject_id long, type_id long",
    "genotype": "genotype_id long, name string, uniquename string, type_id long",
    "stock_genotype": "stock_id long, genotype_id long",
    "phenotype": "phenotype_id long, observable string, assay string, value string",
    "environment": "environment_id long, name string",
    "phenstatement": (
        "phenotype_id long, genotype_id long, environment_id long, "
        "type_id long, pub_id long"
    ),
}


class ChadoState:
    """The tables of one Chado schema, plus its scalar state."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.tables: dict[str, DataFrame] = {}
        self.restored: dict[str, DataFrame] = {}
        self.auto_counter = 0
        self.metadata: dict[str, str] = {}

    def scalars(self) -> dict:
        """The scalar state: the auto-id counter (the analog of the
        reference's DB sequence position — without it a fresh process would
        mint colliding auto uniquenames) and the ontology metadata."""
        return {"auto_counter": self.auto_counter, "metadata": self.metadata}

    def restore(
        self, load: Callable[[list[str]], dict[str, DataFrame]], meta: dict | None
    ) -> None:
        """Replace each declared table that ``load(names)`` returns, and the
        scalar state by ``meta`` (as :meth:`scalars` gave it), if any."""
        self.restored = load(list(self.tables))
        self.tables.update(self.restored)
        if meta is not None:
            self.auto_counter, self.metadata = meta["auto_counter"], meta["metadata"]

    def changed(self) -> dict[str, DataFrame]:
        """The tables that are not still the frame :meth:`restore` loaded
        (every table, when nothing was restored)."""
        return {
            name: df for name, df in self.tables.items()
            if df is not self.restored.get(name)
        }

    def declare(self, names: Iterable[str]) -> None:
        """Add each table of ``names`` not held yet, empty."""
        self.clear([name for name in names if name not in self.tables])

    def clear(self, names: Iterable[str]) -> None:
        """Replace each table of ``names`` by an empty one."""
        for name in names:
            self.tables[name] = local_frame(self.spark, [], SCHEMAS[name])

    def shaped(self, table: str, df: DataFrame) -> DataFrame:
        """``df`` under the columns of ``table``, NULL where it has none."""
        return df.select(*[
            F.col(f.name) if f.name in df.columns else F.lit(None).cast(f.dataType).alias(f.name)
            for f in self.tables[table].schema
        ])

    def term_ids(self, cv: str | None = None) -> DataFrame:
        """(name, cvterm_id) of the terms of ``cv``, or of every term."""
        terms = self.tables["cvterm"]
        if cv is not None:
            in_cv = self.tables["cv"].filter(F.col("name") == cv).select("cv_id")
            terms = terms.join(F.broadcast(in_cv), "cv_id", "left_semi")
        return terms.select("name", "cvterm_id")

    def term_id(self, name: str, cv: str) -> int:
        return self.term_ids(cv).filter(F.col("name") == name).first().cvterm_id

    def term_keys(self) -> DataFrame:
        """Every term under the natural key of its dbxref: (cvterm_id,
        accession, db, cv_id, is_relationshiptype)."""
        t = self.tables
        db = t["db"].select("db_id", F.col("name").alias("db"))
        return (
            t["cvterm"].join(t["dbxref"], "dbxref_id").join(F.broadcast(db), "db_id")
            .select("cvterm_id", "accession", "db", "cv_id", "is_relationshiptype")
        )

    def resolve_terms(self, df: DataFrame, *roles: str) -> DataFrame:
        """M5 key resolution (``insert_relationship``,
        ``share/postgresql.lib:195-219``): for each role, inner-join
        ``df``'s ``role``/``role_db`` accession and db name to a term of
        :meth:`term_keys`, adding ``role_id``, ``role_cv_id`` and
        ``role_is_rel``."""
        keys = self.term_keys()
        for r in roles:
            df = df.join(
                keys.select(
                    F.col("accession").alias(r), F.col("db").alias(f"{r}_db"),
                    F.col("cvterm_id").alias(f"{r}_id"), F.col("cv_id").alias(f"{r}_cv_id"),
                    F.col("is_relationshiptype").alias(f"{r}_is_rel"),
                ),
                [r, f"{r}_db"],
            )
        return df

    def find_or_create_names(self, table: str, names: list[str] | DataFrame) -> None:
        """``db`` or ``cv`` rows by name (a list, or a ``name`` frame)."""
        if not isinstance(names, DataFrame):
            names = local_frame(self.spark, names, "name string")
        self.tables[table], _ = find_or_create(
            self.tables[table], names, ["name"], f"{table}_id"
        )

    def find_or_create_terms(self, terms: DataFrame, dbxrefs: DataFrame | None = None) -> None:
        """find_or_create_cvterm_namespace (``Ontology.pm:295-305``) for the
        ``(name, cv, accession)`` rows of ``terms``: each cv is found or
        created by name, and each (name, cv) pair that has no cvterm yet
        gets an ``internal``-db dbxref ``accession`` and a cvterm. The
        ``(accession, db_id)`` rows of ``dbxrefs`` are found or created in
        the same dbxref statement; ``terms`` is evaluated once for the
        three statements. The ``internal`` db must exist."""
        t = self.tables
        terms = materialized(terms)
        self.find_or_create_names("cv", terms.select(F.col("cv").alias("name")))
        internal = t["db"].filter(F.col("name") == "internal").first().db_id
        missing = terms.join(
            F.broadcast(t["cv"].withColumnRenamed("name", "cv")), "cv"
        ).join(t["cvterm"].select("name", "cv_id"), ["name", "cv_id"], "left_anti")
        xrefs = missing.select("accession", F.lit(internal).cast("long").alias("db_id"))
        if dbxrefs is not None:
            # the caller's rows lead the union: led by the term rows, a
            # later plan over the checkpointed dbxref table fails in
            # Spark's union constraint rewrite ("key not found: accession")
            xrefs = dbxrefs.unionByName(xrefs)
        t["dbxref"], _ = find_or_create(
            t["dbxref"], xrefs, ["accession", "db_id"], "dbxref_id"
        )
        dx = t["dbxref"].filter(F.col("db_id") == internal).select(
            "accession", "dbxref_id"
        )
        cand = missing.join(F.broadcast(dx), "accession").select(
            "name",
            F.lit(None).cast("string").alias("definition"),
            F.lit(0).alias("is_obsolete"),
            F.lit(0).alias("is_relationshiptype"),
            "cv_id",
            "dbxref_id",
        )
        t["cvterm"], _ = find_or_create(t["cvterm"], cand, ["name", "cv_id"], "cvterm_id")


class ChadoCatalog:
    def __init__(self, spark: SparkSession, root: str,
                 partition_by: dict[str, list[str]] | None = None):
        self.spark = spark
        self.root = root
        self.partition_by = partition_by or {}

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def save(self, tables: dict[str, DataFrame]) -> None:
        """Write each table with a write-aside + atomic swap.

        A restored DataFrame is a lazy scan over this catalog's own parquet
        directory; a direct ``mode("overwrite")`` on that directory deletes
        the source files before the scan runs (FAILED_READ_FILE + data loss).
        Writing to a ``.__tmp__`` sibling first fully materializes the new
        data from the old files, then a directory rename swaps it in — the
        old generation is only removed after the new one is in place.
        """
        for name, df in tables.items():
            target = self._path(name)
            tmp = target + ".__tmp__"
            old = target + ".__old__"
            for leftover in (tmp, old):
                if os.path.isdir(leftover):
                    shutil.rmtree(leftover)
            writer = df.write.mode("overwrite")
            if name in self.partition_by:
                writer = writer.partitionBy(*self.partition_by[name])
            writer.parquet(tmp)
            if os.path.isdir(target):
                os.rename(target, old)
            os.rename(tmp, target)
            if os.path.isdir(old):
                shutil.rmtree(old)

    # -- metastore-backed bucketed persistence ---------------------------
    # Repeated loads re-join the big fact tables on the same keys every
    # time (feature ⋈ featureloc on feature_id, cvterm ⋈ dbxref on
    # dbxref_id). Bucketing both sides on the join key removes that
    # shuffle for every future merge: the scan is already hash-partitioned
    # on disk. This needs a metastore table (saveAsTable), so it is an
    # OPT-IN second persistence mode next to the plain parquet dirs — the
    # natural cluster shape for 100 TB facts where the shuffle is the
    # bottleneck, overkill for dims.
    def _table_name(self, table: str) -> str:
        base = os.path.basename(os.path.normpath(self.root))
        safe = "".join(c if c.isalnum() else "_" for c in base)
        return f"{safe}__{table}"

    def save_bucketed(
        self, tables: dict[str, DataFrame], bucket_by: dict[str, tuple[list[str], int]]
    ) -> None:
        """``bucket_by``: table → (bucket columns, bucket count). Tables
        not listed write unbucketed. Bucket count: size so each bucket's
        biggest partition fits in executor memory at the target SF."""
        for name, df in tables.items():
            tname = self._table_name(name)
            # an in-memory metastore forgets tables across sessions but the
            # managed LOCATION on disk survives → LOCATION_ALREADY_EXISTS on
            # the next save. Drop the table AND clear a stale location.
            self.spark.sql(f"DROP TABLE IF EXISTS {tname}")
            wh = self.spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse"
            ).removeprefix("file:")
            stale = os.path.join(wh, tname.lower())
            if os.path.isdir(stale):
                shutil.rmtree(stale)
            writer = df.write.mode("overwrite").format("parquet")
            spec = bucket_by.get(name)
            if spec:
                cols, n = spec
                writer = writer.bucketBy(n, *cols).sortBy(*cols)
            writer.saveAsTable(tname)

    def load_bucketed(self, names: list[str]) -> dict[str, DataFrame]:
        out = {}
        for name in names:
            tname = self._table_name(name)
            if self.spark.catalog.tableExists(tname):
                out[name] = self.spark.table(tname)
        return out

    def load(self, names: list[str]) -> dict[str, DataFrame]:
        out = {}
        for name in names:
            path = self._path(name)
            if os.path.isdir(path):
                out[name] = self.spark.read.parquet(path)
        return out

    # -- JDBC mirror (round-trip-tested in-JVM via embedded Derby,
    #    tests/test_jdbc.py; Postgres/Oracle differ only by driver jar
    #    + url, which Spark's JDBC dialects handle) -----------------------
    def save_jdbc(self, tables: dict[str, DataFrame], url: str,
                  properties: dict | None = None, batchsize: int = 4000) -> None:
        """Write each table over JDBC. ``batchsize`` default mirrors the
        reference's staging chunk (``Temp/WithPostgresql.pm:10-11``)."""
        props = dict(properties or {})
        props.setdefault("batchsize", str(batchsize))
        for name, df in tables.items():
            df.write.mode("append").jdbc(url, name, properties=props)

    def load_jdbc(self, names: list[str], url: str,
                  properties: dict | None = None) -> dict[str, DataFrame]:
        return {
            name: self.spark.read.jdbc(url, name, properties=dict(properties or {}))
            for name in names
        }


def save_loader_state(loader, catalog: ChadoCatalog) -> None:
    """Persist the changed tables (:meth:`ChadoState.changed`) and the
    scalar state of ``loader``'s Chado state."""
    catalog.save(loader.chado.changed())
    os.makedirs(catalog.root, exist_ok=True)
    with open(os.path.join(catalog.root, "_meta.json"), "w") as fh:
        json.dump(loader.chado.scalars(), fh)


def restore_loader_state(loader, catalog: ChadoCatalog) -> None:
    meta_path = os.path.join(catalog.root, "_meta.json")
    meta = None
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
    loader.chado.restore(catalog.load, meta)


# FK-parent-first write order for a REAL Chado RDBMS sink (the reference
# loads staging tables then bulk-merges in a fixed dependency order —
# SURVEY §3.1 step 6): referenced tables must exist/fill before their
# referents or a constraint-enforcing database rejects the batch. The
# embedded-Derby mirror used in tests auto-creates constraint-free
# tables, but the order is applied unconditionally so the test exercises
# the exact write sequence a Postgres Chado would need.
JDBC_TABLE_ORDER = [
    "db", "dbxref", "cv", "cvterm", "cvtermsynonym", "cvterm_relationship", "cvtermprop",
    "organism", "pub", "pubauthor", "pubprop", "synonym", "analysis",
    "feature", "featureloc", "feature_relationship", "analysisfeature", "feature_synonym",
    "feature_dbxref", "featureprop", "feature_cvterm", "feature_cvtermprop",
    "stockcollection", "stock", "stockcollection_stock", "stockprop", "stock_pub",
    "stock_cvterm", "stock_relationship", "genotype", "stock_genotype",
    "environment", "phenotype", "phenstatement",
]


def _jdbc_ordered(tables: dict[str, DataFrame]) -> list[tuple[str, DataFrame]]:
    rank = {n: i for i, n in enumerate(JDBC_TABLE_ORDER)}
    return sorted(tables.items(), key=lambda kv: (rank.get(kv[0], len(rank)), kv[0]))


def save_loader_state_jdbc(
    loader,
    url: str,
    properties: dict | None = None,
    batchsize: int = 4000,
) -> None:
    """Persist the tables and scalar state of ``loader``'s Chado state
    over JDBC — the live-database twin of :func:`save_loader_state` (same
    table set, the database replaces the parquet directory). Tables write
    FK-parents first (:data:`JDBC_TABLE_ORDER`), each with ``overwrite`` (the merge
    operators already produced the full post-merge state; a real Chado
    deployment with immovable FK constraints would instead append the
    ``new_*`` deltas inside one transaction — same order either way).
    Scalar state (auto-id counter = the reference's sequence position,
    plus loader metadata) lands in a 1-row-per-key ``loader_meta`` table
    so a fresh process resumes without minting colliding ids. Only the
    changed tables (:meth:`ChadoState.changed`) are written; the
    ``tables`` manifest adds every table of this loader to those saved
    before, so a loader that declares fewer tables leaves the others
    restorable."""
    props = dict(properties or {})
    saved = (_jdbc_meta(loader.spark, url, props) or {}).get("tables", [])
    props.setdefault("batchsize", str(batchsize))
    tables = loader.chado.tables
    for name, df in _jdbc_ordered(loader.chado.changed()):
        # Break lineage before the overwrite: a changed table's plan can
        # still READ from the very JDBC table being overwritten
        # (truncate-then-rescan would write back an empty source);
        # localCheckpoint materializes the rows first. State
        # tables are merge targets/dimensions — driver-memory-sized by
        # design, the billion-row corpus never flows through here.
        df.localCheckpoint().write.mode("overwrite").jdbc(
            url, name, properties=props
        )
    # one JSON value per key (the counter's JSON text is its decimal)
    meta = {**loader.chado.scalars(), "tables": sorted({*saved, *tables})}
    meta_rows = [(k, json.dumps(v)) for k, v in meta.items()]
    local_frame(loader.spark, meta_rows, "k string, v string").write.mode(
        "overwrite"
    ).jdbc(url, "loader_meta", properties=props)


def _jdbc_read_state(
    spark: SparkSession,
    url: str,
    table: str,
    props: dict,
    key_range: tuple[str, int, int] | None = None,
) -> DataFrame:
    """State-table read with predicate pushdown OFF: Spark's Derby
    dialect stores StringType as CLOB, and Derby cannot compare CLOB
    with CHAR — the first filter pushed into the database (``WHERE name
    = 'eco'``) dies with SQLSyntaxError 42818. State tables are
    merge-target/dimension sized and the merge diffs FULL tables, so
    evaluating every predicate Spark-side costs nothing here; a
    Postgres sink (TEXT, comparable) could leave pushdown on.

    ``key_range=(col, lo, hi)``: KEY-RANGE pushdown that coexists with
    the CLOB workaround (r11 VERDICT item 6) — the numeric BETWEEN is
    baked into the ``dbtable`` subquery, so the DATABASE bounds the
    scan on its integer key (index-range-scannable, never a CLOB
    comparison) while Spark-side predicates stay unpushed. This is the
    read-amplification fix for a staged diff whose batch spans a known
    key interval: the live side streams only that interval instead of
    the whole table (measured at 100× state: SCALE.md r12). ``col``
    must be a numeric column; ``lo``/``hi`` are inclusive ints — both
    interpolated as integers, not strings, so no quoting/injection
    surface."""
    if key_range is not None:
        col, lo, hi = key_range
        if not str(col).replace("_", "").isalnum():
            raise ValueError(f"bad key column {col!r}")
        # alias must not start with '_' (Derby 42X01 rejects it); the
        # column is double-quoted because Spark's JDBC writer CREATEs
        # quoted (case-exact) identifiers.
        table = (
            f'(SELECT * FROM {table} WHERE "{col}" BETWEEN {int(lo)} '
            f"AND {int(hi)}) AS kr0"
        )
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("pushDownPredicate", "false")
    )
    for k, v in props.items():
        reader = reader.option(k, v)
    return reader.load()


def _jdbc_meta(spark: SparkSession, url: str, props: dict) -> dict | None:
    """The ``loader_meta`` rows written by :func:`save_loader_state_jdbc`,
    or None when the database holds no saved state yet."""
    try:
        rows = _jdbc_read_state(spark, url, "loader_meta", props).collect()
    except Exception as exc:
        # ONLY a missing loader_meta table means "first run against this
        # database". Any other failure (DB locked by another JVM, network
        # blip, bad credentials) must propagate: swallowing it would
        # leave the loader empty with auto_counter=0, and the NEXT
        # save_loader_state_jdbc would overwrite every live table with
        # state merged against nothing — silent data loss + id reuse.
        msg = str(exc).lower()
        if any(
            marker in msg
            for marker in (
                "does not exist",  # Derby 42X05, Postgres undefined_table
                "not found",
                "table_or_view_not_found",
                "object not found",
            )
        ):
            return None
        raise
    return {r["k"]: json.loads(r["v"]) for r in rows}


def restore_loader_state_jdbc(
    loader, url: str, properties: dict | None = None
) -> None:
    """Rehydrate a loader from a JDBC-resident state written by
    :func:`save_loader_state_jdbc`: the ``loader_meta`` manifest names
    the saved tables, each is read back as the loader's live side (so
    the next load's staging DataFrames diff against database-resident
    rows), and the auto-id counter resumes. Production note: these
    reads are unpartitioned single-task scans, right for dimension /
    merge-target tables; a bulk re-export of a billion-row feature
    table would pass ``partitionColumn`` bounds instead."""
    props = dict(properties or {})
    meta = _jdbc_meta(loader.spark, url, props)
    if meta is None:
        return  # nothing saved yet — keep the loader's empty state
    saved = set(meta.get("tables", []))
    loader.chado.restore(
        lambda names: {
            name: _jdbc_read_state(loader.spark, url, name, props)
            for name in names
            if name in saved
        },
        meta,
    )
