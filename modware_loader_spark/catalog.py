"""Chado catalog persistence: one parquet directory per table (the
production shape of the in-memory loader state), with a JDBC mirror for a
real Chado database.

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
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


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


def _state_tables(loader) -> dict[str, DataFrame]:
    """A loader's tables plus its dims, saved as ``dim_<name>``."""
    dims = getattr(loader, "dims", {})
    return {**loader.tables, **{f"dim_{name}": df for name, df in dims.items()}}


def _state_meta(loader) -> dict:
    """A loader's scalar state: the auto-id counter (the analog of the
    reference's DB sequence position — without it a fresh process would
    mint colliding auto uniquenames) and its metadata."""
    return {
        "auto_counter": getattr(loader, "_auto_counter", 0),
        "metadata": getattr(loader, "metadata", {}),
    }


def _restore_state(
    loader, load: Callable[[list[str]], dict[str, DataFrame]], meta: dict | None
) -> None:
    """Rehydrate ``loader`` from ``load(names)``, which returns the saved
    tables among ``names``, and from the scalar state ``meta`` (as written
    by :func:`_state_meta`), if there is one."""
    loader.tables.update(load(list(loader.tables)))
    dims = getattr(loader, "dims", {})
    for name, df in load([f"dim_{name}" for name in dims]).items():
        dims[name.removeprefix("dim_")] = df
    if meta is None:
        return
    if hasattr(loader, "_auto_counter"):
        loader._auto_counter = meta.get("auto_counter", 0)
    if hasattr(loader, "metadata"):
        loader.metadata.update(meta.get("metadata", {}))


def save_loader_state(loader, catalog: ChadoCatalog) -> None:
    """Persist a loader's tables + dims + scalar state."""
    catalog.save(_state_tables(loader))
    os.makedirs(catalog.root, exist_ok=True)
    with open(os.path.join(catalog.root, "_meta.json"), "w") as fh:
        json.dump(_state_meta(loader), fh)


def restore_loader_state(loader, catalog: ChadoCatalog) -> None:
    meta_path = os.path.join(catalog.root, "_meta.json")
    meta = None
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
    _restore_state(loader, catalog.load, meta)


# FK-parent-first write order for a REAL Chado RDBMS sink (the reference
# loads staging tables then bulk-merges in a fixed dependency order —
# SURVEY §3.1 step 6): referenced tables must exist/fill before their
# referents or a constraint-enforcing database rejects the batch. The
# embedded-Derby mirror used in tests auto-creates constraint-free
# tables, but the order is applied unconditionally so the test exercises
# the exact write sequence a Postgres Chado would need. ``dim_`` staging
# prefixes order like their base table.
JDBC_TABLE_ORDER = [
    "db",
    "dbxref",
    "cv",
    "cvterm",
    "cvtermsynonym",
    "cvterm_relationship",
    "cvtermprop",
    "organism",
    "pub",
    "synonym",
    "analysis",
    "feature",
    "featureloc",
    "feature_relationship",
    "analysisfeature",
    "feature_synonym",
    "feature_dbxref",
    "featureprop",
]


def _jdbc_ordered(tables: dict[str, DataFrame]) -> list[tuple[str, DataFrame]]:
    rank = {n: i for i, n in enumerate(JDBC_TABLE_ORDER)}
    key = lambda kv: (
        rank.get(kv[0][4:] if kv[0].startswith("dim_") else kv[0], len(rank)),
        kv[0],
    )
    return sorted(tables.items(), key=key)


def save_loader_state_jdbc(
    loader,
    url: str,
    properties: dict | None = None,
    batchsize: int = 4000,
) -> None:
    """Persist a loader's tables + dims + scalar state over JDBC — the
    live-database twin of :func:`save_loader_state` (same table set, the
    database replaces the parquet directory). Tables write FK-parents
    first (:data:`JDBC_TABLE_ORDER`), each with ``overwrite`` (the merge
    operators already produced the full post-merge state; a real Chado
    deployment with immovable FK constraints would instead append the
    ``new_*`` deltas inside one transaction — same order either way).
    Scalar state (auto-id counter = the reference's sequence position,
    plus loader metadata) lands in a 1-row-per-key ``loader_meta`` table
    so a fresh process resumes without minting colliding ids."""
    props = dict(properties or {})
    props.setdefault("batchsize", str(batchsize))
    tables = _state_tables(loader)
    for name, df in _jdbc_ordered(tables):
        # Break lineage before the overwrite: a restored loader's
        # untouched tables still READ from the very JDBC table being
        # overwritten (truncate-then-rescan would write back an empty
        # source); localCheckpoint materializes the rows first. State
        # tables are merge targets/dimensions — driver-memory-sized by
        # design, the billion-row corpus never flows through here.
        df.localCheckpoint().write.mode("overwrite").jdbc(
            url, name, properties=props
        )
    # one JSON value per key (the counter's JSON text is its decimal)
    meta = {**_state_meta(loader), "tables": sorted(tables)}
    meta_rows = [(k, json.dumps(v)) for k, v in meta.items()]
    loader.spark.createDataFrame(meta_rows, "k string, v string").write.mode(
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
    try:
        meta = {
            r["k"]: r["v"]
            for r in _jdbc_read_state(
                loader.spark, url, "loader_meta", props
            ).collect()
        }
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
            return  # nothing saved yet — keep the loader's empty state
        raise
    meta = {k: json.loads(v) for k, v in meta.items()}
    saved = set(meta.get("tables", []))
    _restore_state(
        loader,
        lambda names: {
            name: _jdbc_read_state(loader.spark, url, name, props)
            for name in names
            if name in saved
        },
        meta,
    )
