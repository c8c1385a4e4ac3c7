"""IVF (inverted-file) approximate nearest-neighbor index.

The classic IVF recipe — k-means-partition the corpus into ``nlist``
cells, then answer a query by scanning only the ``nprobe`` cells whose
centroids are nearest — re-expressed as DataFrames:

- **train**: deterministic seeding (the ``nlist`` vectors with the
  smallest ids) + a fixed number of Lloyd refinement steps. Every
  floating-point reduction that crosses row order (the per-dimension
  centroid mean) is computed in ``decimal`` so the result is independent
  of partition order — this is what lets a DuckDB oracle reproduce the
  index bit-for-bit (same trick as ``plans.registry.money``).
- **assign**: vectors × centroids broadcast join (``nlist`` is small by
  construction — 2^10..2^16 in production), argmin of rounded squared-L2
  with centroid-id tie-break. The corpus side never shuffles: assignment
  is map-side against a broadcast centroid table.
- **search**: queries probe their ``nprobe`` nearest cells; candidates =
  corpus rows in probed cells (join on ``cell`` — bucket-local, no cross
  join), verified with exact cosine, ranked per query.

At 100 TB: the corpus⋈centroid assignment is embarrassingly parallel;
the only shuffle is the candidate join keyed on ``cell`` (uniformly
sized cells when k-means balances; AQE skew-split handles hot cells).
Storage layout: write the corpus bucketed by ``cell`` so repeated query
batches join shuffle-free. Compare ``similarity.lsh_banded_topk`` —
IVF trades LSH's oblivious hashing for data-adaptive cells (better
recall/scan-fraction at equal candidate volume).

Reference scope note: similarity search is extension scope (BASELINE
north star), not a Modware-Loader feature; cited in SURVEY §7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from modware_loader_spark.frames import ensure_min_partitions, local_frame
from modware_loader_spark.operators.similarity import cosine


def sq_l2(a, b):
    """Index-ordered sequential squared-L2 distance (double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# Above this many literal doubles (nlist × dim) the plan itself becomes
# the cost and the argmin switches to the broadcast centroid-ARRAY
# fallback. Set from the round-11 crossover sweep on this box (SCALE.md
# round-11: warm argmin at n=20k, dim=64 — literal 0.46 s at k=8 /
# 1.28 s at k=141 / 5.84 s at k=1024 vs array-column flat ~0.6-0.7 s at
# EVERY k, and the r10 min_by fallback 1.0-1.2 s flat but paying a
# full-corpus exchange): literal wins only below ~k=64·dim=64, so the
# budget is 4096 — small enough that every fixed-nlist-8 plan keeps its
# r10 shape bit-for-bit, and the pathological large-k literal region
# (O(k·dim) parse/analyze per job) is unreachable.
_LITERAL_CELL_BUDGET = 4096


# Trained centroids are one driver list ``[(cell, [float, ...])]``,
# sorted by cell id: nlist×dim doubles (a few MB at production
# nlist=2^16·d=128) that every executor needs verbatim anyway. Every
# function below takes that list; it enters a plan either as literals
# or as one ``local_frame`` row, never as a frame that is collected back.


def _centroid_literals(centroids: DataFrame) -> list:
    """The centroid list of a saved ``(cell, centroid)`` table."""
    return sorted(
        ((r["cell"], [float(x) for x in r["centroid"]]) for r in centroids.collect()),
        key=lambda t: t[0],
    )


def _sql_arr(c: list) -> str:
    """A literal array<double> as SQL text."""
    return "array(" + ",".join(f"{x!r}D" for x in c) + ")"


def _sql_sq_l2(vec_sql: str, c: list) -> str:
    """Rounded squared-L2 of a vector SQL expression vs a literal centroid."""
    return (
        f"round(aggregate(zip_with({vec_sql}, {_sql_arr(c)},"
        " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        " 0.0D, (acc, v) -> acc + v), 6)"
    )


def _dist_cell_pairs_sql(vec: str, cents: list) -> str:
    """SQL text of the (dist, cell) struct array vs every centroid."""
    pairs = ",".join(
        f"struct({_sql_sq_l2(vec, c)} AS dist, {cell} AS cell)"
        for cell, c in cents
    )
    return f"array({pairs})"


def _cent_array_row(spark, cents: list):
    """ONE-row frame carrying every centroid as an array<struct> column
    (``__cents``) — the large-k argmin vehicle: broadcast-joined to the
    corpus, the per-row fold runs over an array COLUMN, so plan size is
    O(1) in k (vs the literal path's O(k·dim) parse/analyze per job)
    and there is ZERO shuffle (vs the r10 ``min_by`` fallback's
    full-corpus exchange). Measured (SCALE.md round-11): flat ~0.6-0.7 s
    warm at every (k, n) tested up to k=1024, n=200k, where the literal
    path costs 5.8-6.5 s and ``min_by`` 1.0-1.3 s plus the exchange.
    The payload is k·dim doubles (~0.5 MB at k=1024, dim=64) — an
    ordinary broadcast-table size at any production nlist.
    """
    data = [([(int(cell), [float(x) for x in vec]) for cell, vec in cents],)]
    return local_frame(
        spark, data, "__cents array<struct<cell:int, centroid:array<double>>>"
    )


def _dist_cell_pairs_col(vec: str, cents_col: str = "__cents") -> str:
    """SQL text of the (dist, cell) struct array computed against the
    broadcast ``__cents`` array column — op-for-op identical IEEE
    arithmetic to ``_sql_sq_l2`` (same zip_with/aggregate fold order,
    same 0.0D seed, same 6dp round), so literal and array-column plans
    produce bit-identical assignments and either may serve any query."""
    return (
        f"transform({cents_col}, c -> struct("
        f"round(aggregate(zip_with({vec}, c.centroid,"
        " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        " 0.0D, (acc, v) -> acc + v), 6) AS dist, c.cell AS cell))"
    )


def _dist_cell_pairs(vec_col: str, cents: list, vec_sql: str | None = None):
    """Array of (dist, cell) structs vs every centroid — pure expression.

    Struct comparison is lexicographic, so ``array_min`` / ``array_sort``
    realize exactly the (min rounded dist, then min cell) tie-break the
    window version used. Emitted as ONE ``F.expr`` SQL string: building
    it node-by-node through the Python Column API costs a py4j round
    trip per node (~0.7 s at nlist=8×d=64); one parse call is ~free.

    ``vec_sql`` overrides the vector operand with an arbitrary SQL
    fragment (e.g. a ``slice(...)`` for product-quantization blocks).
    """
    vec = vec_sql or f"`{vec_col}`"
    return F.expr(_dist_cell_pairs_sql(vec, cents))


def _nearest_cell(vectors: DataFrame, cents: list, id_col: str,
                  vec_col: str) -> DataFrame:
    """Assign each vector to the centroid with min rounded squared-L2
    (tie-break: smaller cell id).

    Small nlist×dim: centroids become literal arrays and the argmin is
    a single map-side expression — assignment is embarrassingly
    parallel, ZERO shuffle of the corpus (the previous shape expanded
    every vector ×nlist and sorted the expansion through a per-vector
    window — an nlist× shuffle that dominates at 100 TB). Large nlist
    (> ``_LITERAL_CELL_BUDGET`` literal doubles): same map-side fold,
    but against the broadcast ``__cents`` ARRAY column — O(1) plan
    size, still zero shuffle, bit-identical arithmetic. (The r10
    ``min_by`` fallback this replaces paid a full-corpus hash exchange
    on the id — measured strictly dominated at every k, SCALE.md r11.)
    """
    dim = len(cents[0][1]) if cents else 0
    if cents and len(cents) * dim <= _LITERAL_CELL_BUDGET:
        return vectors.withColumn(
            "cell", F.array_min(_dist_cell_pairs(vec_col, cents)).getField("cell")
        )
    cent_row = _cent_array_row(vectors.sparkSession, cents)
    return (
        vectors.crossJoin(F.broadcast(cent_row))
        .withColumn(
            "cell",
            F.expr(f"array_min({_dist_cell_pairs_col(f'`{vec_col}`')}).cell"),
        )
        .drop("__cents")
    )


def ivf_train(
    df: DataFrame,
    nlist: int = 8,
    lloyd_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_strategy: str = "id",
    seed: int = 42,
    return_assignment: bool = False,
    train_points_per_cell: int | None = None,
    n_rows: int | None = None,
):
    """Train IVF centroids: the driver list ``[(cell, [float, ...])]``,
    sorted by cell id.

    ``seed_strategy``:

    - ``"id"`` (oracle path): seeds are the ``nlist`` smallest-id
      vectors. Trivially restatable in SQL, but id order can correlate
      with content (ingest order ≈ source ≈ topic), so at low
      ``lloyd_iters`` the seeds may come from one corner of the space
      and cells stay unbalanced — fine for the parity gate, under-trained
      as a production index.
    - ``"hash"`` (production path): seeds are the ``nlist`` vectors with
      the smallest ``xxhash64(id, seed)`` — a deterministic uniform
      sample of the corpus, independent of ingest order, so seeds land
      across the data distribution. Still fully reproducible (the hash
      is a pure function of ids + ``seed``), just not id-prefix-shaped.
      Measured recall/balance vs ``"id"``: SCALE.md §IVF.

    Each Lloyd step reassigns all vectors to their nearest centroid and
    recomputes the element-wise mean per cell in exact decimal
    arithmetic, rounded to 6dp — order-independent, so the trained index
    is reproducible across engines and partitionings.

    ``return_assignment=True`` returns ``(centroids, assigned)`` where
    ``assigned`` = the corpus with its ``cell`` against the FINAL
    centroids, persisted — the "build the index once" shape: every query
    batch reuses the materialized assignment instead of re-scanning the
    corpus through the argmin (one full corpus scan saved per batch).

    ``train_points_per_cell`` (the FAISS ``max_points_per_centroid``
    contract): cap the LLOYD TRAINING SET at ``cap = c · nlist`` rows —
    seeds and the refinement scans run over a deterministic md5-uniform
    sample (``hash_uniform(id, 'ivftr') < cap / n``), while the final
    assignment still covers the full corpus. k-means quality saturates
    at a few hundred points per centroid, but the un-capped Lloyd pass
    scans all n rows PER ITERATION — at 100 TB that is the binding term
    of the whole SemDeDup chain (the round-10 measurement: ``ivf_train``
    owned 11.5 of 14 s at 10x). The threshold filter needs no sort and
    no extra shuffle, and it is exactly restatable in the DuckDB oracle
    (same md5 prefix / 2^32 draw as ``operators/sampling.hash_uniform``).
    When ``cap >= n`` the filter keeps every row (u01 < 1.0 always
    holds), so small fixtures behave identically with or without the
    cap. ``n_rows`` lets callers that already counted (e.g.
    ``semdedup.default_nlist``) skip the count job.
    """
    # cell ids 0..nlist-1 in seed-id order. Seeds are k rows that get
    # broadcast to every executor anyway, so the driver-side collect +
    # renumber is the honest shape (same class as dim/header fetches) and
    # avoids a degenerate one-partition window.
    if seed_strategy == "hash":
        seed_order = [F.asc(F.xxhash64(F.col(id_col), F.lit(seed))), F.asc(id_col)]
    elif seed_strategy == "id":
        seed_order = [F.asc(id_col)]
    else:
        raise ValueError(f"unknown seed_strategy {seed_strategy!r}")
    train_df = df
    if train_points_per_cell is not None:
        from modware_loader_spark.operators.sampling import hash_uniform

        n = int(n_rows) if n_rows is not None else df.count()
        # left-assoc double arithmetic, mirrored verbatim in the oracle's
        # `least(1.0, c * nlist / n)` so the strict-< cut is bit-identical
        p = min(1.0, float(train_points_per_cell) * nlist / n)
        train_df = df.filter(hash_uniform(F.col(id_col), salt="ivftr") < F.lit(p))
    seed_rows = (
        train_df.orderBy(*seed_order)
        .limit(nlist)
        .select(
            F.col(id_col).alias("seed_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("centroid"),
        )
        .collect()
    )
    cents = [
        (i, list(r.centroid))
        for i, r in enumerate(sorted(seed_rows, key=lambda r: r.seed_id))
    ]
    vectors = ensure_min_partitions(df.select(id_col, vec_col))
    tr_vectors = (
        vectors
        if train_df is df
        else ensure_min_partitions(train_df.select(id_col, vec_col))
    )
    for _ in range(lloyd_iters):
        assigned = _nearest_cell(tr_vectors, cents, id_col, vec_col)
        by_dim = assigned.select(
            "cell", F.posexplode(F.col(vec_col)).alias("pos", "val")
        )
        # exact decimal mean per (cell, pos): the decimal sum is exact and
        # order-independent; divide in double (deterministic), round 6dp.
        # float→double→decimal (not float→decimal directly): Spark's
        # float-to-decimal goes through the float's shortest string repr,
        # which disagrees with DuckDB's numeric double→decimal cast.
        means = by_dim.groupBy("cell", "pos").agg(
            F.round(
                F.sum(F.col("val").cast("double").cast("decimal(28,12)"))
                .cast("double") / F.count(F.lit(1)),
                6,
            ).alias("m")
        )
        # One Spark job per Lloyd step: the nlist×dim means (KBs) come
        # back to the driver and become the next step's list, so the
        # assign/probe consumers downstream never re-run the training chain.
        step: dict[int, list] = {}
        for r in means.collect():
            step.setdefault(r["cell"], []).append((r["pos"], r["m"]))
        cents = [(c, [m for _, m in sorted(step[c])]) for c in sorted(step)]
    if not return_assignment:
        return cents
    # Persist contract (r13): the assignment is returned for reuse by
    # query batches — no in-operator release point; caller/bench sweep
    # releases. MEMORY_AND_DISK: a 100 TB assignment spills, never
    # evicts mid-probe.
    from pyspark.storagelevel import StorageLevel

    assigned = _nearest_cell(vectors, cents, id_col, vec_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return cents, assigned


def ivf_assign(
    df: DataFrame,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus rows + their ``cell`` id (map-side vs broadcast centroids)."""
    return _nearest_cell(df.select(id_col, vec_col), centroids, id_col, vec_col)


def _py_sq_l2_6dp(a: list, b: list) -> float:
    """Driver-side rounded squared-L2 with the SAME IEEE op order as the
    engine folds: sequential left-to-right accumulation, round to 6dp.
    (Python round is half-even where the SQL round is half-away — a
    divergence only at an exact .5e-6 boundary, the same documented
    regime every 6dp-rounded comparison in this repo lives in.)"""
    acc = 0.0
    for x, y in zip(a, b):
        d = x - y
        acc += d * d
    return round(acc, 6)


def assign_two_level(
    vectors: DataFrame,
    centroids: list,
    n_groups: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-level (inverted-multi-index-style) cell assignment: argmin
    over ``n_groups`` SUPERcentroids first, then argmin over only that
    group's member centroids — O((s + k/s)·dim) per-row arithmetic at
    s=√k instead of the flat path's O(k·dim).

    Mechanics: supercentroids are the first ``n_groups`` trained
    centroids by cell id (no extra training — a deterministic subsample,
    restatable in SQL); every centroid maps to its nearest super
    DRIVER-side (k×s distance evals over the already-collected literal
    list); per row, ONE projection computes the super argmin and a CASE
    branch evaluates ONLY the matched group's member argmin (the super
    argmin gets its own column first — see the comment below). Plan
    SIZE stays O(k·dim) literals either way.

    Measured honestly (SCALE.md round-10): on this Spark 4 local build
    the flat literal argmin evaluates at ~10 ns/element, so the √k-fold
    arithmetic reduction buys only ~10-15% end to end at every regime
    tested (20k-200k rows × k=141-1024) — per-row fold arithmetic is
    NOT the bottleneck at these row counts, and at large k the
    driver-side cost of the O(k·dim)-literal plan (shared by both
    variants) dominates, where the real escape hatch is the broadcast
    ``min_by`` fallback (``_LITERAL_CELL_BUDGET``). The two-level form
    is kept as the oracle-gated IMI shape whose advantage materializes
    when rows/plan-cost ratios are cluster-scale (10^10 rows amortize
    any plan cost; per-row arithmetic is then the whole bill).

    APPROXIMATE by design: the nearest super's group may not contain
    the globally nearest centroid — the standard IVF/IMI coarse-probe
    trade (Jégou et al. 2011). A super normally lands in its OWN group
    (distance 0 to itself); the one exception is an exactly-duplicated
    super vector losing its self-tie to a smaller sid — an empty group
    whose super can still win rows, so empty groups borrow their
    super's adoptive group's member list rather than being skipped.
    """
    k = len(centroids)
    if k == 0:
        raise ValueError("assign_two_level: empty centroid table")
    import math

    s = n_groups or max(1, math.isqrt(k))
    supers = centroids[:s]
    groups: dict[int, list] = {sid: [] for sid, _ in supers}
    home: dict[int, int] = {}
    for cell, vec in centroids:
        best = min(
            ((_py_sq_l2_6dp(vec, svec), sid) for sid, svec in supers),
        )[1]
        groups[best].append((cell, vec))
        if cell in groups:  # this centroid IS a super: remember its group
            home[cell] = best
    vec = f"`{vec_col}`"
    dim = len(centroids[0][1])
    if k * dim > _LITERAL_CELL_BUDGET:
        # Array form (r11): supers as one broadcast ARRAY column and the
        # sid -> member-list mapping as a broadcast MAP column — the IMI
        # shape with O(1) plan size (the literal CASE below costs
        # O(k·dim) parse/analyze per job, the r10-measured large-k
        # bottleneck shared with the flat literal argmin). Per-row work
        # is the promised O((s + k/s)·dim): one fold over the supers
        # array, one map lookup (s integer key compares), one fold over
        # the matched group's member array. Empty-group borrowing is
        # applied DRIVER-side when building the map, so semantics are
        # identical to the CASE path (pinned by
        # test_assign_two_level_agreement_and_edge_cases).
        eff_groups = {
            sid: (members or groups[home[sid]])
            for sid, members in groups.items()
        }
        data = [
            (
                [(int(sid), [float(x) for x in svec]) for sid, svec in supers],
                {
                    int(sid): [
                        (int(c), [float(x) for x in v]) for c, v in members
                    ]
                    for sid, members in eff_groups.items()
                },
            )
        ]
        aux = local_frame(
            vectors.sparkSession,
            data,
            "__supers array<struct<cell:int, centroid:array<double>>>, "
            "__groups map<int, array<struct<cell:int, centroid:array<double>>>>",
        )
        return (
            vectors.crossJoin(F.broadcast(aux))
            .withColumn(
                "__g",
                F.expr(f"array_min({_dist_cell_pairs_col(vec, '__supers')}).cell"),
            )
            .withColumn(
                "cell",
                F.expr(
                    "array_min("
                    + _dist_cell_pairs_col(vec, "element_at(__groups, `__g`)")
                    + ").cell"
                ),
            )
            .drop("__supers", "__groups", "__g")
        )
    super_pairs = _dist_cell_pairs_sql(
        vec, [(sid, svec) for sid, svec in supers]
    )
    branches = "".join(
        f" WHEN {sid} THEN array_min("
        f"{_dist_cell_pairs_sql(vec, members or groups[home[sid]])}).cell"
        for sid, members in groups.items()
    )
    # The super argmin gets its OWN projection: ``CASE expr WHEN v``
    # desugars to ``CASE WHEN expr = v`` per branch, so an inline
    # scrutinee would re-run the O(s·dim) fold once per branch tested
    # (measured: it cost MORE than the flat argmin it replaces).
    # CollapseProject keeps the non-cheap multi-referenced alias in its
    # own stage, so ``__g`` evaluates once per row. ELSE is unreachable
    # (the super argmin only emits super ids, and every super id has a
    # WHEN) — -1 makes a logic error loud.
    case = f"CASE `__g`{branches} ELSE -1 END"
    return (
        vectors.withColumn("__g", F.expr(f"array_min({super_pairs}).cell"))
        .withColumn("cell", F.expr(case))
        .drop("__g")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list | None = None,
    k: int = 5,
    nlist: int = 8,
    nprobe: int = 2,
    lloyd_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_strategy: str = "id",
    seed: int = 42,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN top-k: probe the ``nprobe`` nearest cells per query, exact
    cosine inside probed cells, deterministic rank tie-break on target id.

    ``centroids`` defaults to training on the corpus itself; in that case
    the final-centroid corpus assignment computed by ``ivf_train`` is
    reused (persisted) rather than re-derived, so repeat query batches
    skip the corpus argmin scan entirely. Recall vs
    ``similarity.brute_force_topk`` is measured in
    ``tests/test_invariants.py::test_ivf_recall``.

    ``assigned`` (requires ``centroids``): a pre-assigned corpus
    ``(id_col, vec_col, cell)`` — e.g. the bucketed table
    ``save_ivf_index``/``append_ivf_index`` maintain, or an old∪new
    union in the rolling-crawl flow — served AS-IS, skipping the corpus
    argmin entirely. This is the production serving shape: the index is
    assigned once per batch at ingest, and query batches only pay the
    probe + candidate join (shuffle-free against a bucketed table).
    """
    if assigned is not None:
        if centroids is None:
            raise ValueError("assigned requires centroids (for the probe list)")
        cells = assigned.select(
            F.col(id_col).alias("target_id"),
            F.col(vec_col).alias("t_vec"),
            "cell",
        )
    elif centroids is None:
        # trained centroids come back as a driver list (KBs), so the
        # assign/probe consumers below share one materialization — no
        # checkpoint, no re-run of the training chain per consumer. The
        # corpus assignment rides along persisted (VERDICT r05 item 3):
        # identical to ivf_assign(corpus, centroids) by construction, but
        # computed once per index build instead of once per query batch.
        centroids, assigned = ivf_train(
            corpus, nlist=nlist, lloyd_iters=lloyd_iters,
            id_col=id_col, vec_col=vec_col,
            seed_strategy=seed_strategy, seed=seed,
            return_assignment=True,
        )
        cells = assigned.select(
            F.col(id_col).alias("target_id"),
            F.col(vec_col).alias("t_vec"),
            "cell",
        )
    else:
        cells = ivf_assign(
            ensure_min_partitions(corpus), centroids, id_col, vec_col
        ).select(
            F.col(id_col).alias("target_id"),
            F.col(vec_col).alias("t_vec"),
            "cell",
        )
    # probe list: nprobe nearest centroids per query. Same literal
    # map-side trick as assignment — sort the (dist, cell) struct array
    # and explode the first nprobe entries; no window, no shuffle of the
    # query side before the cell join.
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    if centroids and len(centroids) * len(centroids[0][1]) <= _LITERAL_CELL_BUDGET:
        probes = q.select(
            "query_id",
            "q_vec",
            F.explode(
                F.slice(F.array_sort(_dist_cell_pairs("q_vec", centroids)), 1, nprobe)
            ).alias("__p"),
        ).select("query_id", "q_vec", F.col("__p").getField("cell").alias("cell"))
    else:
        # same broadcast-array shape as the assignment fallback: sort the
        # per-row (dist, cell) struct array and slice nprobe — no window,
        # no shuffle of the query side (the r10 version here paid a
        # window sort over the q×k expansion).
        cent_row = _cent_array_row(q.sparkSession, centroids)
        probes = (
            q.crossJoin(F.broadcast(cent_row))
            .select(
                "query_id",
                "q_vec",
                F.explode(
                    F.slice(
                        F.expr(f"array_sort({_dist_cell_pairs_col('`q_vec`')})"),
                        1,
                        nprobe,
                    )
                ).alias("__p"),
            )
            .select("query_id", "q_vec", F.col("__p").getField("cell").alias("cell"))
        )
    scored = (
        probes.join(cells, "cell")
        .filter(F.col("query_id") != F.col("target_id"))
        .withColumn("cos", F.round(cosine(F.col("q_vec"), F.col("t_vec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("target_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "target_id", "cos", "rank")
    )


def cell_outlier_flags(
    df: DataFrame,
    centroids: list,
    sigma: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-outlier verdicts by distance-to-centroid z-score —
    prototypicality pruning (the SSL-prototypes selection family /
    SemDeDup's complement: drop rows FAR from their cluster instead of
    near-duplicates close to each other). Returns ``(id, cell,
    dist_micros, is_outlier)`` with ``is_outlier = dist > mean_c +
    sigma * sd_c`` over the row's own cell.

    Arithmetic is the repo's engine-parity discipline: the rounded
    squared-L2 quantizes to integer micros BEFORE the per-cell sums
    (order-free bigint sum and sum-of-squares), and mean/variance/sd
    derive from those exact integers in a fixed IEEE op order
    (``mean = s/n``, ``var = ss/n - mean*mean``, ``sd =
    sqrt(max(var, 0))``), so the flags are bit-identical across
    engines and partitionings. Sum-of-squares headroom: dist_micros up
    to ~4e6 on unit-ish vectors squares to 1.6e13 — bigint holds ~5e5
    rows per cell per 10^18; size nlist accordingly at extreme scale
    (nlist ∝ n keeps per-cell counts bounded — the same knob as
    SemDeDup).

    Plan shape: the map-side literal-centroid argmin (zero corpus
    shuffle), one cell-cardinality aggregation, and a broadcast stats
    re-attach — the corpus never shuffles.
    """
    m = F.array_min(_dist_cell_pairs(vec_col, centroids))
    assigned = df.select(
        F.col(id_col),
        m.getField("cell").alias("cell"),
        F.round(m.getField("dist") * F.lit(1e6))
        .cast("long")
        .alias("dist_micros"),
    )
    stats = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dist_micros").alias("s"),
        F.sum(F.col("dist_micros") * F.col("dist_micros")).alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    var = F.col("ss") / F.col("n") - mean * mean
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    return assigned.join(F.broadcast(stats), "cell").select(
        F.col(id_col),
        "cell",
        "dist_micros",
        (F.col("dist_micros") > mean + F.lit(float(sigma)) * sd)
        .cast("int")
        .alias("is_outlier"),
    )


def save_ivf_index(
    df: DataFrame,
    centroids: list,
    table: str,
    n_buckets: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the assigned corpus ``(id, vec, cell)`` as a table
    BUCKETED by ``cell`` — the "build the index once" storage layout the
    module docstring promises: repeated query batches join candidates on
    ``cell`` against the bucketed table with NO corpus-side Exchange
    (the scan reports its bucketing to the planner; only the tiny probe
    side shuffles — or broadcasts — per batch). At 100 TB this is the
    difference between re-shuffling the corpus per query batch and
    never shuffling it again after the one bucketed write.

    ``n_buckets`` defaults to the centroid count (one bucket per cell —
    the natural layout while nlist is moderate; at very large nlist use
    fewer buckets, cells then co-locate but never split). Returns the
    saved table as a DataFrame. Plan contract pinned by
    ``tests/test_plan_quality.py::test_bucketed_ivf_index_join_is_exchange_free``.
    """
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = len(centroids)
    assigned = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col)
    (
        assigned.write.mode("overwrite")
        .bucketBy(int(n_buckets), "cell")
        .sortBy("cell")
        .format("parquet")
        .saveAsTable(table)
    )
    return spark.table(table)


def append_ivf_index(
    new_batch: DataFrame,
    centroids: list,
    table: str,
    n_buckets: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Append a NEW corpus batch into an existing ``save_ivf_index``
    table WITHOUT retraining — the rolling-crawl twin of
    ``dedup.minhash_incremental_flags`` (r11 VERDICT item 3).

    The batch is assigned map-side against the SAVED centroids (the
    frozen coarse quantizer — the FAISS ``IndexIVF.add`` contract: new
    vectors land in existing cells, centroids never move), then written
    with the SAME bucket spec in append mode, so the new files slot into
    the table's bucketing and candidate joins stay corpus-Exchange-free
    over old∪new (pinned by ``tests/test_plan_quality.py::
    test_incremental_ivf_append_stays_exchange_free``). At 100 TB this
    is what makes a daily crawl batch O(batch) instead of O(corpus):
    assignment touches only the new rows, the write appends only their
    bucketed files, and no existing file is rewritten. Recall drifts
    only as the data distribution drifts from the trained centroids —
    the standard IVF staleness trade; retrain + ``save_ivf_index`` when
    cell-size skew (``cell_outlier_flags`` / cell histograms) says so.

    ``n_buckets`` must match the spec the table was created with
    (default: one bucket per centroid, the ``save_ivf_index`` default).
    Returns the combined table as a DataFrame.
    """
    spark = new_batch.sparkSession
    if n_buckets is None:
        n_buckets = len(centroids)
    assigned = ivf_assign(new_batch, centroids, id_col=id_col, vec_col=vec_col)
    (
        assigned.write.mode("append")
        .bucketBy(int(n_buckets), "cell")
        .sortBy("cell")
        .format("parquet")
        .saveAsTable(table)
    )
    return spark.table(table)


def compact_ivf_index(spark, table: str) -> dict:
    """Compact a ``save_ivf_index``/``append_ivf_index`` table back to
    ONE file per bucket — the maintenance step of the rolling-index
    lifecycle (build → append* → monitor → compact → retrain). Each
    append slots its own part files into the buckets; after many crawl
    batches a bucket is dozens of small files and the candidate join's
    scan pays per-file open cost. Compaction reads the table, breaks
    lineage (``localCheckpoint`` — Spark refuses to overwrite a table
    its plan still reads), repartitions ON the bucket column into
    n_buckets partitions (Spark's repartition hash and its bucketing
    hash are both murmur3-pmod, so each task holds exactly one bucket's
    rows → exactly one output file per bucket), and rewrites with the
    SAME bucket spec — the Exchange-free candidate-join contract is
    preserved (re-asserted by ``tests/test_plan_quality.py::
    test_ivf_index_compaction``). Returns ``{"rows", "n_buckets",
    "files_before", "files_after"}``.
    """
    import re as _re

    desc = spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    n_buckets = None
    for r in desc:
        if str(r[0]).strip().lower() == "num buckets":
            m = _re.search(r"\d+", str(r[1]))
            if m:
                n_buckets = int(m.group())
    if not n_buckets:
        raise ValueError(f"{table} is not a bucketed table")
    files_before = len(
        [f for f in spark.table(table).inputFiles()]
    )
    snap = spark.table(table).localCheckpoint(eager=True)
    (
        snap.repartition(n_buckets, F.col("cell"))
        .write.mode("overwrite")
        .bucketBy(n_buckets, "cell")
        .sortBy("cell")
        .format("parquet")
        .saveAsTable(table)
    )
    out = spark.table(table)
    return {
        "rows": out.count(),
        "n_buckets": n_buckets,
        "files_before": files_before,
        "files_after": len(out.inputFiles()),
    }
