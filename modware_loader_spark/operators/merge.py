"""Staging→live merge operators — the relational core of the reference.

The reference's computational heart is a *staging-table + set-operation
merge*: parse → bulk-load temp tables → diff against live tables with
joins/EXCEPT/anti-joins → INSERT/UPDATE/DELETE (SQL in
``share/postgresql.lib`` / ``share/postgresql_gff3.lib`` with SQLite/Oracle
variants). Here each pattern is one declarative DataFrame function; Catalyst
picks the physical join (broadcast-hash for dim-sized sides, sort-merge
otherwise, AQE skew-splitting at runtime). No temp tables exist — a
"staging relation" is a DataFrame; the loaders ``localCheckpoint`` the ones
every statement re-reads.

The live-table half of every loader's merge is :func:`append` and
:func:`find_or_create`. Their contract: new rows get surrogate ids after
the live table's max id (M13, in a caller-given order, so ids are
reproducible), are materialized exactly once — counting them or joining
against them never re-runs the diff that produced them — and are unioned
onto the live table. A live table that is not a single leaf (a scan, a
local relation or an earlier materialization) is materialized before the
union, so across any number of appends its plan stays at most one
materialized leaf plus the newest rows (use ``checkpoint`` instead of
``localCheckpoint`` on a cluster that must survive executor loss).

Scale notes (100 TB): M1–M12 are pure DataFrame expressions, so predicate
pushdown / column pruning reach the scan; merges on a natural key shuffle
once on that key; dim-sided lookups (M5) should pass ``broadcast=True``.
Only small values reach the driver: M13 collects one count per
partition, and :func:`append` reads the live max id with one ``first()``.

Operator numbering follows SURVEY.md §2.3.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from modware_loader_spark.frames import local_frame


def new_keys(staging: DataFrame, live: DataFrame, keys: Sequence[str]) -> DataFrame:
    """M1 — left-anti join: staging rows whose key has no match in live.

    Reference: ``share/postgresql.lib:225-235`` (insert_new_accession),
    ``share/postgresql_gff3.lib:80-86`` (insert_temp_new_feature_ids).
    """
    return staging.join(live.select(*keys).dropDuplicates(list(keys)), list(keys), "left_anti")


def existing_keys(
    staging: DataFrame, live: DataFrame, keys: Sequence[str], carry: Sequence[str]
) -> DataFrame:
    """M2 — semi-join that also carries live surrogate id columns.

    Reference: ``share/postgresql.lib:237-246`` (insert_existing_accession).
    """
    live_proj = live.select(*keys, *carry).dropDuplicates(list(keys))
    return staging.join(live_proj, list(keys), "inner")


def prune_set(
    live: DataFrame,
    staging: DataFrame,
    keys: Sequence[str],
    scope_keys: Sequence[str] | None = None,
) -> DataFrame:
    """M3 — scoped anti-diff: live rows absent from staging, restricted to
    the staging file's universe (e.g. its cv_id/db_id values).

    Reference: ``share/postgresql.lib:248-260`` (insert_temp_term_delete).
    """
    out = live.join(staging.select(*keys).distinct(), list(keys), "left_anti")
    if scope_keys:
        scope = staging.select(*scope_keys).distinct()
        out = out.join(F.broadcast(scope), list(scope_keys), "left_semi")
    return out


def delete_rows(live: DataFrame, prune: DataFrame, keys: Sequence[str]) -> DataFrame:
    """M4 — DELETE-with-join: recompute live minus the prune set.

    Reference: ``share/postgresql.lib:311-318`` (DELETE … USING). In Spark
    a delete is an anti-join + overwrite (or a Delta/JDBC DELETE pushdown).
    """
    return live.join(prune.select(*keys).distinct(), list(keys), "left_anti")


def resolve_keys(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, Sequence[str] | str, str]],
    broadcast: bool = True,
) -> DataFrame:
    """M5 — insert-select through N-way key-resolution joins: translate
    natural keys to surrogate ids by chaining joins against dimension
    tables (the reference joins dbxref→cvterm three times for
    subject/object/type before inserting relationships).

    ``dims`` is a list of ``(dim_df, join_keys, id_col_alias)``; each dim is
    expected to expose exactly one non-key column (the surrogate id), which
    is renamed to ``id_col_alias``. Dims are broadcast by default — at 100 TB
    the fact side streams, dims ship once per executor, zero extra shuffle.

    Reference: ``share/postgresql.lib:195-219`` (insert_relationship),
    ``share/postgresql_gff3.lib:99-211``.
    """
    out = fact
    for dim, keys, alias in dims:
        keys = [keys] if isinstance(keys, str) else list(keys)
        id_col = [c for c in dim.columns if c not in keys]
        if len(id_col) != 1:
            raise ValueError(f"dim must have exactly one id column, got {id_col}")
        dim_proj = dim.withColumnRenamed(id_col[0], alias)
        if broadcast:
            dim_proj = F.broadcast(dim_proj)
        out = out.join(dim_proj, keys, "left")
    return out


def except_insert(candidates: DataFrame, existing: DataFrame) -> DataFrame:
    """M6 — set-difference before insert (idempotent append).

    The reference uses set-semantics EXCEPT (``share/postgresql.lib:221-223``,
    Oracle MINUS) — so ``.exceptAll`` would be wrong. SQL EXCEPT also
    treats NULLs as equal, which a plain anti-join's ``=`` does not —
    candidate rows with a NULL column would be re-inserted on every run,
    breaking idempotency — so the anti-join condition is built with
    null-safe equality (Catalyst still plans a single left-anti join).
    """
    cols = list(candidates.columns)
    ex = existing.select(*cols)
    for c in cols:
        ex = ex.withColumnRenamed(c, f"__ex_{c}")
    cond = None
    for c in cols:
        eq = candidates[c].eqNullSafe(ex[f"__ex_{c}"])
        cond = eq if cond is None else cond & eq
    return candidates.distinct().join(ex, cond, "left_anti")


def closure_refresh_delete(live: DataFrame, staging_proj: DataFrame) -> DataFrame:
    """M7 — correlated EXISTS + EXCEPT delete: live rows whose natural-key
    projection is absent from staging (the rows to delete).

    Reference: ``share/postgresql_transitive.lib:50-78``.
    """
    cols = staging_proj.columns
    return live.join(staging_proj.distinct(), cols, "left_anti")


def scd1_update(
    live: DataFrame,
    staging: DataFrame,
    keys: Sequence[str],
    update_cols: Sequence[str],
) -> DataFrame:
    """M8 — UPDATE…FROM join (SCD-1): overwrite live attribute columns with
    staging values where the key matches; untouched rows pass through.

    Reference: ``share/postgresql.lib:353-378`` (update_cvterm_names /
    update_cvterms), Oracle ``MERGE INTO`` ``WithOracle.pm:172-220``.
    """
    staged = staging.select(
        *keys, *[F.col(c).alias(f"__new_{c}") for c in update_cols]
    ).dropDuplicates(list(keys))
    out = live.join(staged, list(keys), "left")
    for c in update_cols:
        out = out.withColumn(c, F.coalesce(F.col(f"__new_{c}"), F.col(c)))
    return out.drop(*[f"__new_{c}" for c in update_cols])


def refresh_children(
    live_children: DataFrame,
    staging_children: DataFrame,
    parent_keys: Sequence[str],
) -> DataFrame:
    """M9 — delete-then-reinsert child sets: for every parent present in
    staging, replace its whole child set; children of untouched parents
    survive. This is the overwrite-partition pattern.

    Reference: delete ``share/postgresql.lib:320-350``, insert ``:262-307``,
    orchestration ``WithPostgresql.pm:87-152``.
    """
    touched = staging_children.select(*parent_keys).distinct()
    kept = live_children.join(touched, list(parent_keys), "left_anti")
    return kept.unionByName(staging_children)


def grown_groups(
    live: DataFrame, staging: DataFrame, key: str | Sequence[str]
) -> DataFrame:
    """M10 — grouped-count comparison: keys whose staging group is strictly
    larger than its live group (e.g. terms that gained synonyms).

    Reference: ``share/postgresql.lib:166-193`` (insert_updated_synonym_in_temp).
    """
    keys = [key] if isinstance(key, str) else list(key)
    lc = live.groupBy(*keys).agg(F.count(F.lit(1)).alias("live_count"))
    sc = staging.groupBy(*keys).agg(F.count(F.lit(1)).alias("staging_count"))
    return (
        sc.join(lc, keys, "left")
        .filter(F.coalesce(F.col("live_count"), F.lit(0)) < F.col("staging_count"))
        .select(*keys, "live_count", "staging_count")
    )


def window_dedup(
    df: DataFrame, partition_by: Sequence[str], order_by: Sequence[Column | str]
) -> DataFrame:
    """M11 — dedup via window: one row per key by
    ``row_number() OVER (PARTITION BY … ORDER BY …) = 1``.

    Reference: ``share/postgresql_gff3.lib:175-187`` (insert_new_dbxref).
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def distinct_insert(staging: DataFrame, live: DataFrame, keys: Sequence[str]) -> DataFrame:
    """M12 — DISTINCT + anti-join insert (new synonyms).

    Reference: ``share/postgresql_gff3.lib:136-151`` (insert_new_synonym).
    """
    return staging.distinct().join(live.select(*keys).distinct(), list(keys), "left_anti")


def generate_ids(
    df: DataFrame,
    order_by: Sequence[Column | str],
    id_col: str = "generated_id",
    prefix: str = "",
    start: int = 1,
) -> DataFrame:
    """M13 — deterministic sequence-valued id generation.

    The reference pulls ``nextval('feature_feature_id_seq')`` per row
    (``lib/Modware/Loader/GFF3/Staging/Postgresql.pm:28-56``); non-contiguous,
    order-dependent. Here ids equal ``row_number`` over a canonical total
    order — deterministic and reproducible, which the oracle can replicate.

    Scale shape: a bare ``Window.orderBy`` would sort the whole input through
    ONE task. Instead we range-repartition on the canonical order (so
    partition p holds strictly smaller keys than partition p+1), rank locally
    inside each partition (a *partitioned* window — parallel), and add
    per-partition cumulative offsets computed from a tiny count-per-partition
    aggregate (the zipWithIndex pattern). Output ids are identical to the
    global ``row_number`` whenever ``order_by`` is a total order (ties are
    ambiguous under any engine). The ranked frame is pinned with
    ``localCheckpoint`` so the sampled range bounds cannot shift between the
    offset computation and the final projection.
    """
    sess = df.sparkSession
    try:
        npart = int(sess.conf.get("spark.sql.shuffle.partitions", "32"))
    except ValueError:
        npart = 32
    ranked = (
        df.repartitionByRange(npart, *order_by)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("__pid").orderBy(*order_by)),
        )
        .localCheckpoint(eager=True)
    )
    counts = sorted(
        (r["__pid"], r["__cnt"])
        for r in ranked.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    offs = local_frame(sess, offsets or [(0, 0)], "__pid int, __off long")
    idc = F.col("__off") + F.col("__rn") + F.lit(start - 1)
    out = ranked.join(F.broadcast(offs), "__pid", "left")
    if prefix:
        out = out.withColumn(id_col, F.concat(F.lit(prefix), idc.cast("string")))
    else:
        out = out.withColumn(id_col, idc.cast("long"))
    return out.drop("__pid", "__rn", "__off")


def upsert(
    live: DataFrame,
    staging: DataFrame,
    keys: Sequence[str],
    update_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Full merge: SCD-1 update of matched rows + append of new rows.

    Composition of M1 + M8 — the Spark equivalent of Oracle
    ``MERGE INTO … WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT``
    (``WithOracle.pm:172-220``).
    """
    update_cols = update_cols or [c for c in staging.columns if c not in keys]
    updated = scd1_update(live, staging, keys, update_cols)
    fresh = new_keys(staging, live, keys).select(*live.columns)
    return updated.unionByName(fresh)


def append(
    live: DataFrame,
    *new: DataFrame,
    id_col: str | None = None,
    order_by: Sequence[Column | str] = (),
) -> tuple[DataFrame, ...]:
    """Live-table INSERT: returns ``(live ∪ new…, *new as materialized)``.

    With ``id_col``, the single ``new`` frame first gets ``id_col`` ids
    continuing after ``live``'s max (from 1 on an empty table), numbered
    over ``order_by`` (M13). Each new frame is ``localCheckpoint``-ed once
    and unioned under ``live``'s columns (extra columns stay on the
    returned frame only); ``live`` itself is materialized first unless it
    is a single leaf, which bounds its lineage (module docstring).
    """
    if id_col is not None:
        if len(new) != 1:
            raise ValueError("ids are allocated for exactly one new frame")
        base = live.agg(F.max(id_col).alias("m")).first().m or 0
        new = (generate_ids(new[0], order_by, id_col=id_col, start=base + 1),)
    new = tuple(df.localCheckpoint() for df in new)
    if not live._jdf.queryExecution().logical().children().isEmpty():
        live = live.localCheckpoint()
    for df in new:
        live = live.unionByName(df.select(*live.columns))
    return (live, *new)


def find_or_create(
    live: DataFrame,
    rows: DataFrame,
    keys: Sequence[str],
    id_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Batch find-or-create (U1): the distinct ``rows`` whose ``keys`` are
    not in ``live`` yet, appended with ids ordered by ``keys``. Returns
    ``(live, created rows)``.

    This is M12 without the DISTINCT on the live side: a left-anti join
    needs none, and it would cost a shuffle stage per call.
    """
    fresh = rows.distinct().join(live.select(*keys), list(keys), "left_anti")
    return append(live, fresh, id_col=id_col, order_by=keys)
