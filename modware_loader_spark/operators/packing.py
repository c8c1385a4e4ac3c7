"""Document chunking and sequence packing — the two ops that turn a
cleaned corpus into fixed-budget training sequences.

- ``chunk_text``: split each document into overlapping fixed-size
  windows. Pure map stage — ``posexplode(sequence(...))`` + substring;
  parallelism equals the scan's, zero shuffle at any corpus size.
- ``pack_sequences``: concat-then-split packing. Documents are laid out
  on a virtual tape in a canonical order; ``pack_id = floor(exclusive
  prefix sum of weights / budget)`` assigns each document to the pack
  where it *starts* (the standard streaming-concatenation layout for
  LLM pretraining — a document straddling a boundary is attributed to
  its starting pack; true first-fit bin packing is order-sequential and
  not a parallel operator).

The prefix sum is the scale-critical part: a bare ``sum() OVER
(ORDER BY ...)`` serializes the corpus through one task. Instead the
rows are put in the canonical order partition-parallel
(``merge.range_sorted``, shared with M13 ids) and summed by
``stitch.running_stitch`` over their monotonic id: local sums per fixed
chunk, chunk offsets folded on the driver. Identical result to the
global window, no single-partition stage anywhere.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from modware_loader_spark.operators.merge import range_sorted
from modware_loader_spark.operators.sampling import hash_uniform
from modware_loader_spark.sources.stitch import running_stitch


def chunk_text(
    df: DataFrame,
    text_col: str = "text",
    size: int = 200,
    overlap: int = 50,
    chunk_col: str = "chunk",
) -> DataFrame:
    """Explode each document into windows of ``size`` chars overlapping
    by ``overlap`` (stride = size - overlap). Every document yields at
    least one chunk; the last chunk is short rather than padded.

    Chunk count is pure integer arithmetic —
    ``max(1, ceil((len - overlap) / stride))`` as
    ``greatest(1, (len - overlap + stride - 1) div stride)`` — so any
    SQL engine reproduces the split bit-for-bit.
    """
    if overlap >= size:
        raise ValueError(f"overlap ({overlap}) must be < size ({size})")
    stride = size - overlap
    n_chunks = F.expr(
        f"greatest(1L, (length(`{text_col}`) - {overlap} + {stride - 1}) div {stride})"
    )
    return (
        df.withColumn("__n_chunks", n_chunks)
        .select(
            "*",
            F.posexplode(F.sequence(F.lit(0), F.col("__n_chunks") - 1)).alias(
                "chunk_id", "__i"
            ),
        )
        .withColumn(
            chunk_col,
            F.expr(f"substring(`{text_col}`, 1 + chunk_id * {stride}, {size})"),
        )
        .drop("__n_chunks", "__i")
    )


def exclusive_prefix_sum(
    df: DataFrame,
    order_by: Sequence[Column | str],
    weight_col: str,
    out_col: str = "offset",
) -> DataFrame:
    """Exclusive running sum of ``weight_col`` over a canonical total
    order, computed partition-parallel (no global-window stage).

    Output rows = input rows + ``out_col`` = sum of all strictly-earlier
    weights: the inclusive ``running_stitch`` sum over the monotonic id of
    ``merge.range_sorted``, minus the row's own weight. That id increases
    in the canonical order, and numbering the rows densely first
    (``merge.generate_ids``) would only add its count job and its join.
    """
    weight = F.col(weight_col).cast("long")
    ranked = range_sorted(df, order_by)
    return (
        running_stitch(ranked, counts={"__incl": weight}, idx_col="__mid")
        .withColumn(out_col, F.col("__incl") - weight)
        .drop("__pid", "__mid", "__incl")
    )


def pack_sequences(
    df: DataFrame,
    order_by: Sequence[Column | str],
    weight_col: str,
    budget: int,
    pack_col: str = "pack_id",
) -> DataFrame:
    """Assign each row to ``floor(exclusive_prefix_sum(weight) / budget)``
    — the pack in which the row *starts* on the concatenated tape.

    Pack sizes hover around ``budget`` (a pack overshoots by at most one
    document minus one unit); packs are contiguous in the canonical
    order, so downstream per-pack concatenation is a plain groupBy.

    ``weight_col`` is an integer contract: fractional weights are
    truncated by the prefix sum's cast to long. ``budget`` must be a
    positive integer (0 would div-by-zero into NULL pack ids, negatives
    into negative packs).
    """
    if budget <= 0:
        raise ValueError(f"budget must be a positive integer, got {budget!r}")
    with_off = exclusive_prefix_sum(df, order_by, weight_col, out_col="__start")
    # integer div: exact at any tape length (doubles lose integers past 2^53)
    return with_off.withColumn(
        pack_col, F.expr(f"`__start` div {int(budget)}")
    ).drop("__start")


def assign_shards(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    salt: str = "shard",
) -> DataFrame:
    """Deterministic training-shard layout: the input plus ``(shard,
    pos)`` — the reproducible global shuffle every training-data export
    ends with.

    Training wants documents in random order, decorrelated from crawl /
    source order, yet REPRODUCIBLE (re-runs, spot-instance retries and
    incremental rebuilds must produce byte-identical shards). Both come
    from the md5 draw: ``shard = floor(u * n_shards)`` spreads rows
    uniformly and deterministically; ``pos`` ranks rows within a shard
    by the same draw (key tiebreak), so within-shard order is a
    deterministic random permutation. Downstream writers partition by
    ``shard`` and sort by ``pos`` (``partitionBy`` + ``sortWithinPartitions``).

    Scale shape: one hash shuffle on the shard key plus a
    partition-local sort per shard — no global sort, no single
    partition anywhere. Size ``n_shards`` so a shard fits an output
    file (10^4-10^5 at 100 TB); skew is impossible by construction
    (md5-uniform keys).
    """
    if n_shards <= 0:
        raise ValueError(f"assign_shards: n_shards must be positive, got {n_shards}")
    # Re-sharding a previously exported dataset (read_jsonl_shards
    # restores shard/pos) is the advertised incremental workflow: stale
    # layout columns are REPLACED, not duplicated (two 'shard' columns
    # would make the writer's repartition reference ambiguous).
    carry = [c for c in df.columns if c not in ("shard", "pos")]
    u = hash_uniform(F.col(key_col), salt=salt)
    shard = F.floor(u * F.lit(float(n_shards))).cast("int")
    w = Window.partitionBy(shard).orderBy(u.asc(), F.col(key_col).asc())
    return df.select(
        *[F.col(c) for c in carry],
        shard.alias("shard"),
        F.row_number().over(w).alias("pos"),
    )
