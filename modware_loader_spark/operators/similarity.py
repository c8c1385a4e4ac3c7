"""Similarity search over embedding columns (``array<float>``).

- ``cosine`` / ``dot``: JVM-side ``zip_with`` + left-fold ``aggregate`` —
  sequential accumulation in index order, so a DuckDB oracle using
  ``list_inner_product`` reproduces the same doubles.
- ``brute_force_topk``: exact baseline — query×target join, window top-k.
  At 100 TB the query side must be small (broadcast); target side streams.
- ``lsh_bucket_topk``: the scale path — sign-bit bucketing (random-
  hyperplane LSH degenerates to coordinate signs for unit-ish synthetic
  vectors): candidates share a bucket, so the join is bucket-local.
  Recall is tunable via bucket bits / multi-probe; this implements the
  single-probe skeleton with the same top-k contract.

No Python UDFs: a Pandas-UDF variant would move ~dim×n doubles through
Arrow per batch and lose to codegen'd ``aggregate`` at every size we
measured.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from modware_loader_spark.frames import ensure_min_partitions


def dot(a: Column, b: Column) -> Column:
    """Index-ordered sequential dot product (float32 → double widening)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sign_bucket(a: Column, bits: int = 12) -> Column:
    """LSH bucket id from the sign bits of the first ``bits`` dims."""
    idx = F.sequence(F.lit(1), F.lit(bits))
    return F.aggregate(
        idx,
        F.lit(0).cast("long"),
        lambda acc, i: acc * 2
        + F.when(F.element_at(a, i) > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )


def brute_force_topk(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query vector the k nearest targets
    (self-matches excluded), deterministic tie-break on target id."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    t = targets.select(
        F.col(id_col).alias("target_id"),
        F.col(vec_col).alias("t_vec"),
        norm(F.col(vec_col)).alias("t_norm"),
    )
    par = targets.sparkSession.sparkContext.defaultParallelism
    scored = (
        ensure_min_partitions(t)
        .crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("target_id"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("q_vec"), F.col("t_vec"))
                / (F.col("q_norm") * F.col("t_norm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("target_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "target_id", "cos", "rank")
    )


def cosine_near_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above ``threshold``.

    Norms are computed once per vector (not per pair — 3× less fold work),
    and the streaming side is repartitioned so the O(n²) pair stage uses
    every core instead of inheriting the source file's partitioning.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    with_norm = df.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("nrm")
    )
    a = ensure_min_partitions(
        with_norm.select(
            F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"), F.col("nrm").alias("na")
        )
    )
    b = with_norm.select(
        F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos",
            F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


def sign_band_hashes(vec: Column | str, bands: int, bits: int, stride: int) -> Column:
    """Array of ``bands`` band hashes; band ``b`` packs the sign bits of
    dims ``b*stride+1 .. b*stride+bits`` (coordinate-hyperplane LSH).

    Given a column NAME the whole array is rendered as ONE SQL string and
    parsed JVM-side: the per-term ``F.when`` construction pays one py4j
    round trip per operator — measured 1.09 s of driver time per call at
    the registered 12-band × 8-bit config (r12, the ``lit_array`` class
    of plan-construction cost) vs 0.01 s for the parsed form; the
    resulting expression tree (and physical plan) is identical. The
    Column form keeps the original construction for expression inputs;
    a dotted name (struct-field reference — `F.col` would resolve it,
    a backtick-quoted SQL identifier would not) takes it too."""
    if isinstance(vec, str) and "." in vec:
        vec = F.col(vec)
    if isinstance(vec, str):
        ref = "`" + vec.replace("`", "``") + "`"
        bands_sql = []
        for b in range(bands):
            terms = ["CAST(0 AS BIGINT)"]
            for j in range(bits):
                idx = b * stride + j + 1
                terms.append(
                    f"CAST((CASE WHEN (element_at({ref}, {idx}) > 0) "
                    f"THEN {1 << j} ELSE 0 END) AS BIGINT)"
                )
            bands_sql.append(" + ".join(terms))
        return F.expr("array(" + ", ".join(bands_sql) + ")")
    out = []
    for b in range(bands):
        h = F.lit(0).cast("long")
        for j in range(bits):
            idx = b * stride + j + 1
            h = h + F.when(
                F.element_at(vec, F.lit(idx)) > 0, F.lit(1 << j)
            ).otherwise(F.lit(0)).cast("long")
        out.append(h)
    return F.array(*out)


def band_candidate_pairs(
    df: DataFrame,
    bands: int,
    bits: int,
    stride: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate (vec_a, vec_b) pairs sharing ≥1 sign-band hash — the
    bucket-local candidate stage shared by ``cosine_bucket_near_pairs``
    and the candidate-budget guard test.

    Candidate generation carries bare ids only — deduping (vec_a, vec_b)
    BEFORE joining vectors back keeps the band-join shuffle narrow (two
    longs/row instead of two dim-width float arrays). The band table is
    pinned so the banding pass (bands×bits sign tests per vector + the
    source scan) runs once, not once per self-join side — same trick as
    lsh_banded_topk's self-join shape.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    bands_tbl = (
        ensure_min_partitions(df)
        .select(
            F.col(id_col),
            F.posexplode(sign_band_hashes(vec_col, bands, bits, stride)),
        )
        .withColumnsRenamed({"pos": "band_id", "col": "band_hash"})
    )
    if max_bucket is not None:
        from modware_loader_spark.operators.dedup import (
            filter_degenerate_buckets,
        )

        bands_tbl = filter_degenerate_buckets(bands_tbl, max_bucket)
    # Checkpoint AFTER the optional guard so the count + semi-join run
    # once too, not once per self-join side. lazy: eager localCheckpoint
    # would launch a job at *construction* time (before any action).
    # Checkpointed blocks are not recomputable on executor loss —
    # acceptable here because the band table is cheap to rebuild by
    # re-running the query; the pinning exists only to avoid scanning
    # the source twice within one job.
    bands_tbl = bands_tbl.localCheckpoint(eager=False)
    return (
        bands_tbl.select(F.col(id_col).alias("vec_a"), "band_id", "band_hash")
        .join(
            bands_tbl.select(F.col(id_col).alias("vec_b"), "band_id", "band_hash"),
            ["band_id", "band_hash"],
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()  # ≥1 shared band is enough
    )


def cosine_bucket_near_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    bands: int = 8,
    bits: int = 3,
    stride: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-pairs above ``threshold`` via banded sign-bit LSH candidate
    generation + exact-cosine verification — the 100 TB replacement for
    the all-pairs ``cosine_near_pairs``.

    Candidates = pairs agreeing on ≥1 of ``bands`` band hashes (each
    packing ``bits`` coordinate sign bits); the join is bucket-local on
    (band_id, band_hash) — no cross join. Verification recomputes exact
    cosine identically to the brute-force path, so emitted pairs are a
    subset of the exact result; only recall is approximate:
    1-(1-p^bits)^bands with p = P[sign agrees] (≈0.63 at cos=0.4 →
    expected recall ≈0.90 at the threshold boundary, higher above it).
    Measured on the synthetic embeddings at sf0.01: see
    ``tests/test_invariants.py::test_cosine_bucket_recall``.

    ``max_bucket`` is the degenerate-bucket guard for production runs:
    buckets holding more than this many vectors are skipped for
    candidate generation (a bucket of c vectors contributes c²/2 join
    rows — one viral duplicate cluster or a skewed hash turns the
    bucket join quadratic; the round-9 scale run measured the τ=0.4
    config passing ~66% of ALL pairs this way, SCALE.md). Standard LSH
    practice: a pair loses candidacy only if EVERY band it agrees on is
    over the cap, and members of over-cap buckets are near-dup cluster
    cores better handled by the components/keeper operators. Default
    None preserves exact registered-query semantics.
    """
    cands = band_candidate_pairs(
        df,
        bands=bands,
        bits=bits,
        stride=stride,
        id_col=id_col,
        vec_col=vec_col,
        max_bucket=max_bucket,
    )
    with_norm = df.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("nrm")
    )
    return (
        cands.join(
            with_norm.select(
                F.col(id_col).alias("vec_a"),
                F.col(vec_col).alias("va"),
                F.col("nrm").alias("na"),
            ),
            "vec_a",
        )
        .join(
            with_norm.select(
                F.col(id_col).alias("vec_b"),
                F.col(vec_col).alias("vb"),
                F.col("nrm").alias("nb"),
            ),
            "vec_b",
        )
        .withColumn(
            "cos",
            F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


def lsh_banded_topk(
    queries: DataFrame,
    targets: DataFrame | None = None,
    k: int = 3,
    bands: int = 12,
    bits: int = 2,
    stride: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with multi-table (banded) sign-LSH — the
    recall-bearing ANN path. A single ``bits``-wide bucket has recall
    p^bits per neighbor (p = P[one sign agrees]); ``bands`` independent
    tables lift it to 1-(1-p^bits)^bands, the multi-probe fix for the
    single-table variant's low recall. Candidates = (query, target)
    pairs sharing ≥1 band hash (bucket-local join, no cross join),
    verified with exact cosine, ranked per query with the same
    deterministic tie-break as ``brute_force_topk``. Measured recall@3
    vs brute force: ``tests/test_invariants.py::test_ann_recall``.

    ``targets`` defaults to ``queries`` (self-join ANN). At scale the
    production shape is a small query batch against the full corpus —
    the target side streams, the query-side band table is broadcast-
    sized, and the shuffle key is (band_id, band_hash).
    """
    # Broadcast the query side only in the query-batch shape (explicit
    # targets): in the self-join shape the "queries" are the full corpus
    # and must shuffle like any other big side.
    self_join = targets is None
    if targets is None:
        targets = queries
    hint = (lambda d: d) if self_join else F.broadcast
    par = targets.sparkSession.sparkContext.defaultParallelism

    def band_table(df: DataFrame, out_id: str) -> DataFrame:
        return ensure_min_partitions(df).select(
            F.col(id_col).alias(out_id),
            F.posexplode(sign_band_hashes(vec_col, bands, bits, stride)),
        ).withColumnsRenamed({"pos": "band_id", "col": "band_hash"})

    # candidate generation carries bare ids only; vectors re-attach after
    # the distinct (narrow band-join shuffle — see cosine_bucket_near_pairs).
    # The query side is a small batch by contract, so its band table and
    # vector table are broadcast — the corpus-side band table and vectors
    # never shuffle on the join key, they stream map-side.
    if self_join:
        # one banding pass, pinned, joined with itself — the hash subtree
        # (bands×bits hyperplane dots per vector) would otherwise run twice
        bt = band_table(targets, "target_id").localCheckpoint()
        qt = bt.withColumnsRenamed({"target_id": "query_id"})
    else:
        bt = band_table(targets, "target_id")
        qt = band_table(queries, "query_id")
    cands = (
        bt.join(hint(qt), ["band_id", "band_hash"])
        .filter(F.col("query_id") != F.col("target_id"))
        .select("query_id", "target_id")
        .distinct()
    )
    # norms attach once per vector, not per pair — the verify fold then
    # does one dot product per candidate instead of dot + two norms
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    t_vecs = targets.select(
        F.col(id_col).alias("target_id"),
        F.col(vec_col).alias("t_vec"),
        norm(F.col(vec_col)).alias("t_norm"),
    )
    scored = (
        cands.join(hint(q_vecs), "query_id")
        .join(t_vecs, "target_id")
        .withColumn(
            "cos",
            F.round(
                dot(F.col("q_vec"), F.col("t_vec"))
                / (F.col("q_norm") * F.col("t_norm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("target_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "target_id", "cos", "rank")
    )


def lsh_bucket_topk(
    df: DataFrame,
    k: int = 3,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the same sign bucket.

    The bucket join replaces the all-pairs cross join — per-bucket fan-out
    only, shuffle key is the bucket id. Single-probe: fast but low-recall
    when neighbors are weakly correlated — use ``lsh_banded_topk`` when
    recall matters.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    bucketed = ensure_min_partitions(df).select(
        F.col(id_col),
        F.col(vec_col),
        sign_bucket(F.col(vec_col), bits).alias("bucket"),
        norm(F.col(vec_col)).alias("__norm"),
    )
    a = bucketed.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        "bucket", F.col("__norm").alias("q_norm"),
    )
    b = bucketed.select(
        F.col(id_col).alias("target_id"), F.col(vec_col).alias("t_vec"),
        "bucket", F.col("__norm").alias("t_norm"),
    )
    scored = (
        a.join(b, "bucket")
        .filter(F.col("query_id") != F.col("target_id"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("q_vec"), F.col("t_vec"))
                / (F.col("q_norm") * F.col("t_norm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("target_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "bucket", "target_id", "cos", "rank")
    )


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``(id, scale, codes)``
    with ``x ≈ code·scale``, ``scale = max|x|/127``.

    The storage-scale companion to the ANN operators: float32→int8 is a
    4× cut on the corpus' dominant column (and the shape FAISS/SQ8 and
    every production vector store use for the coarse tier). Pure map
    stage — zero shuffle at any corpus size. Quantization uses
    ``floor(x/scale + 0.5)`` (not half-even rounding), which every
    engine computes identically on IEEE doubles, so a DuckDB oracle
    reproduces the codes bit-for-bit; reconstruction error is bounded by
    ``scale/2`` per element (asserted in tests). All-zero vectors get
    ``scale = 0`` and all-zero codes.
    """
    xdbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    absmax = F.array_max(F.transform(xdbl, lambda x: F.abs(x)))
    scale = absmax / F.lit(127.0)
    codes = F.when(absmax == 0, F.transform(xdbl, lambda x: F.lit(0))).otherwise(
        F.transform(xdbl, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int"))
    )
    # scale is emitted UNROUNDED: max/127 is one IEEE division both
    # engines compute identically, and rounding (e.g. to 6dp) would zero
    # the scale of tiny-magnitude vectors — breaking both reconstruction
    # and the scale==0 <=> all-zero-vector invariant
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        codes.cast("array<int>").alias("codes"),
    )


def matryoshka_rerank_topk(
    queries: DataFrame,
    targets: DataFrame,
    prefix_dim: int = 16,
    shortlist: int = 32,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka (MRL, Kusupati et al. 2022) two-stage search: shortlist
    on the first ``prefix_dim`` dims' cosine, exact full-dim re-rank.

    MRL-trained embeddings concentrate semantics in the prefix, so stage
    1 scans dim/prefix_dim x fewer bytes per vector — the same
    scan-cheap/verify-exact contract as ``pq_rerank_topk`` and
    ``binary_embed.hamming_rerank_topk``, but with zero training state
    and zero recall loss *within* the shortlist. The full-width float
    columns are touched only for |queries| x shortlist rows via the
    candidate join; the corpus never shuffles (broadcast query side,
    per-query top-k windows partition on query_id).

    Both stages round to 6dp before ranking with a target-id tie-break,
    so the shortlist membership itself is deterministic and
    engine-portable. Returns (query_id, target_id, cos, rank).
    """
    qp = queries.select(
        F.col(id_col).alias("query_id"),
        F.slice(F.col(vec_col), 1, prefix_dim).alias("q_pre"),
    )
    tp = targets.select(
        F.col(id_col).alias("target_id"),
        F.slice(F.col(vec_col), 1, prefix_dim).alias("t_pre"),
    )
    par = targets.sparkSession.sparkContext.defaultParallelism
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("pre_cos"), F.asc("target_id")
    )
    cand = (
        ensure_min_partitions(tp)
        .join(F.broadcast(qp), F.col("query_id") != F.col("target_id"))
        .withColumn(
            "pre_cos",
            F.round(
                dot(F.col("q_pre"), F.col("t_pre"))
                / (norm(F.col("q_pre")) * norm(F.col("t_pre"))),
                6,
            ),
        )
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= shortlist)
        .select("query_id", "target_id")
    )
    qf = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    tf = targets.select(
        F.col(id_col).alias("target_id"), F.col(vec_col).alias("t_vec")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("target_id"))
    return (
        cand.join(F.broadcast(qf), "query_id")
        .join(tf, "target_id")
        .withColumn(
            "cos",
            F.round(
                dot(F.col("q_vec"), F.col("t_vec"))
                / (norm(F.col("q_vec")) * norm(F.col("t_vec"))),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "target_id", "cos", "rank")
    )


def rp_sign_matrix(out_dims: int, in_dims: int) -> list[list[float]]:
    """Deterministic ±1 Johnson-Lindenstrauss projection matrix: sign of
    row k, input dim j (1-based) = parity of the first md5 hex digit of
    ``"rp:{k}:{j}"``. Computed driver-side with hashlib; an external SQL
    engine regenerates the identical matrix from the same md5 arithmetic
    (the ``embed_random_projection`` oracle does)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"rp:{k}:{j}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for j in range(1, in_dims + 1)
        ]
        for k in range(out_dims)
    ]


def random_projection(
    df: DataFrame,
    out_dims: int,
    in_dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss ±1 random projection of an embedding column
    to ``out_dims``: exploded output ``(id, k, proj)`` with ``proj``
    rounded to 6 decimals (the repo's float-portability convention for
    sequential index-ordered sums).

    The Achlioptas (2003) database-friendly JL variant: entries ±1, so
    the projection is ``out_dims`` index-ordered add/subtract folds —
    no multiplies beyond the sign, no trained state, and distances are
    preserved within (1±eps) at out_dims = O(ln n / eps^2). The matrix
    rides as a PLAN LITERAL (out_dims × in_dims doubles — a few KB), so
    this is a zero-shuffle map stage at any corpus size: the cheap
    front-stage for ANN shortlisting or clustering on a reduced
    dimension, complementing ``matryoshka_rerank_topk`` (which needs
    MRL-trained embeddings — JL works on any embedding).

    Scaling the ±1 sum by ``1/sqrt(out_dims)`` (the usual unit-variance
    normalization) is left to the consumer — a constant factor that
    cancels in cosine/rank comparisons.

    ``in_dims`` must equal the actual embedding length: ``zip_with``
    pads a shorter vector with NULLs, which propagate to a NULL ``proj``
    for that row (visible, not silently wrong — and identical in the
    oracle's ``e[j]`` out-of-range NULLs).
    """
    rows = rp_sign_matrix(out_dims, in_dims)
    # ONE parsed SQL literal for the whole matrix: F.lit(list) and
    # F.array(*cols) both cost a py4j round trip per element
    # (out_dims × in_dims of them here — the dense_fold_score lesson,
    # r12 profile); scalar.lit_array renders the nested constant as SQL
    # text parsed JVM-side in a single call.
    from modware_loader_spark.functions.scalar import lit_array

    mat = lit_array(rows, "double")
    proj = F.transform(
        F.sequence(F.lit(0), F.lit(out_dims - 1)),
        lambda k: F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.element_at(mat, k + 1),
                lambda x, s: x.cast("double") * s,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return df.select(
        F.col(id_col), F.posexplode(proj).alias("k", "__proj")
    ).select(
        id_col, "k", F.round(F.col("__proj"), 6).alias("proj")
    )
