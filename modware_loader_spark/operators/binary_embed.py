"""Binary (sign-quantized) embedding search: pack each vector's sign
bits into 32-bit words and scan with Hamming distance.

The most aggressive point on the embedding-compression curve after
``similarity.quantize_int8`` (8 bits/dim) and ``operators/pq`` (sub-bit
ADC codes): 1 bit/dim — a 64-d float vector becomes two 32-bit words,
a 32x smaller scan whose distance is XOR + popcount (both codegen'd
JVM intrinsics). Recall is the trade; the production pattern is
Hamming shortlist → exact re-rank, same shape as ``pq.pq_rerank_topk``.

Packing uses 32-bit words (not 64) so the per-word value stays within
exact double range and the external oracle's ``1::BIGINT << j`` math is
bit-identical; a dimension that is not a multiple of the word size
leaves the tail bits zero in both engines (out-of-range element lookups
are NULL → bit not set).

All built-in column expressions; the scan is a broadcast of the (small)
query batch against map-side packed targets — one shuffle for the
per-query top-k window, nothing else.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from modware_loader_spark.frames import ensure_min_partitions

WORD_BITS = 32


def pack_sign_bits(vec_col: Column, dim: int) -> Column:
    """``array<long>`` of ``ceil(dim/32)`` words; bit ``j`` of word ``w``
    is set iff ``vec[w*32 + j] >= 0`` (1-based element access)."""
    nwords = (dim + WORD_BITS - 1) // WORD_BITS

    # NB: the merge lambda must stay two-argument — PySpark treats a
    # 3-param lambda (even one with a default) as (acc, element, index) —
    # so the word offset is bound through a closure factory instead.
    def packer(base: int):
        def fn(acc, j):
            return acc + F.when(
                F.try_element_at(vec_col, F.lit(base + 1) + j) >= 0,
                # 2^j exact in double up to j=31, then exact long
                F.pow(F.lit(2.0), j).cast("long"),
            ).otherwise(F.lit(0).cast("long"))

        return fn

    return F.array(
        *[
            F.aggregate(
                F.sequence(F.lit(0), F.lit(WORD_BITS - 1)),
                F.lit(0).cast("long"),
                packer(w * WORD_BITS),
            )
            for w in range(nwords)
        ]
    )


def hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two packed word arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def hamming_topk(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per query: the ``k`` Hamming-nearest targets over sign-packed
    vectors (self excluded), ties broken on target id.

    Same scan shape as ``similarity.brute_force_topk`` but over the
    packed representation: the target side carries 8 bytes per 64-d
    vector instead of 256+, so the linear scan that is the exact-search
    fallback stays memory-bandwidth-bound 32x longer.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        pack_sign_bits(F.col(vec_col), dim).alias("q_bits"),
    )
    t = targets.select(
        F.col(id_col).alias("target_id"),
        pack_sign_bits(F.col(vec_col), dim).alias("t_bits"),
    )
    scored = (
        ensure_min_partitions(t)
        .crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("target_id"))
        .withColumn("hamming", hamming(F.col("q_bits"), F.col("t_bits")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("target_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "target_id", "hamming", "rank")
    )


def hamming_rerank_topk(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    shortlist: int = 32,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Production binary-ANN composition: Hamming shortlist → exact
    cosine re-rank (same two-stage shape as ``pq.pq_rerank_topk``).

    Stage 1 scans only packed words (8 bytes per 64-d vector) and keeps
    the ``shortlist`` Hamming-nearest candidates per query; stage 2
    fetches float vectors for shortlist rows alone and re-ranks by exact
    cosine. At corpus scale the float table is touched for
    |queries|·shortlist rows instead of |corpus| — the re-rank join
    broadcasts the shortlist pairs, so the corpus side never shuffles.
    """
    from modware_loader_spark.operators.similarity import dot, norm

    short = hamming_topk(
        queries, targets, k=shortlist, dim=dim, id_col=id_col, vec_col=vec_col
    ).select("query_id", "target_id")
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    tv = targets.select(
        F.col(id_col).alias("target_id"),
        F.col(vec_col).alias("t_vec"),
        norm(F.col(vec_col)).alias("t_norm"),
    )
    scored = (
        tv.join(F.broadcast(short.join(F.broadcast(qv), "query_id")), "target_id")
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
