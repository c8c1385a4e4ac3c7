"""Benchmark decontamination: flag training documents sharing n-grams
with an evaluation/benchmark set.

Standard LLM-pipeline hygiene (GPT-3 appendix C / PaLM / Llama style):
any training document containing an n-gram (n≈8..13 tokens) that also
occurs in an eval benchmark is contaminated and must be dropped or
audited. Spark-first shape:

1. tokenize both sides (map stage, whole-stage codegen);
2. explode each side's *distinct-per-doc* n-grams;
3. join on the n-gram; the benchmark side is eval-set-sized (MBs even
   for dozens of benchmarks), so it is **broadcast** — the 100 TB corpus
   side never shuffles; contamination detection is a map-side hash
   probe;
4. group by document → distinct matched n-grams + total hits.

At scale, join on a 64-bit n-gram hash instead of the string (8 bytes vs
~60 for an 8-gram) — ``token_hash``-style ``conv(md5)`` keeps that
portable; collision rate at 2^64 is negligible for a contamination
gate. The string form is kept here because the DuckDB oracle then
reproduces values exactly.

Reference scope: no equivalent in the reference (its overlap machinery
is genomic-interval based, ``lib/Modware/Role/Blast/...``); this module
is extension scope per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from modware_loader_spark.frames import ensure_min_partitions


def ngrams(tokens_col: Column, n: int) -> Column:
    """All word n-grams of a token array as space-joined strings.

    Empty array when the document is shorter than ``n`` (guarded:
    Spark's ``sequence(1, k)`` with ``k < 1`` would count *down*).
    """
    return F.when(
        F.size(tokens_col) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens_col) - n + 1),
            lambda i: F.array_join(F.slice(tokens_col, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_inventory(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, gram) pairs, distinct per document — one row per (doc, n-gram)."""
    toks = F.split(F.trim(F.col(text_col)), " ")
    return (
        df.select(F.col(id_col), F.explode(F.array_distinct(ngrams(toks, n))).alias("gram"))
    )


def contamination(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
) -> DataFrame:
    """Per-document contamination report against a benchmark corpus.

    Returns ``(id_col, n_hit_grams, example_gram)``: the count of
    distinct document n-grams that occur anywhere in the benchmark, and
    the lexicographically-first matched n-gram (stable across engines —
    handy for audits). Only contaminated documents appear; anti-join
    against this result to get the clean corpus.

    The benchmark gram set is deduplicated then broadcast: the probe
    over the (huge) document side is a map-side BroadcastHashJoin — no
    shuffle of corpus data; the only exchange is the doc-id re-agg,
    which carries one slim row per matched (doc, gram).
    """
    bench_grams = (
        ngram_inventory(benchmark, bench_text_col or text_col, id_col, n)
        .select("gram")
        .distinct()
    )
    # The corpus-side shingle+probe is a pure map stage and inherits the
    # source's split count — one local parquet file serialized the whole
    # n-gram harvest onto one core (r13 drill: 9 tasks, flat 8-vs-32).
    # Guarded rebalance (the r12 ensure_min_partitions pattern: shuffle
    # only when actual splits < cores, so a production corpus with real
    # split counts never pays it), projected to the two columns the
    # inventory reads before the exchange (guide §2.3).
    slim = documents.select(F.col(id_col), F.col(text_col))
    doc_grams = ngram_inventory(ensure_min_partitions(slim), text_col, id_col, n)
    hits = doc_grams.join(F.broadcast(bench_grams), "gram", "inner")
    return hits.groupBy(id_col).agg(
        F.count("*").alias("n_hit_grams"),
        F.min("gram").alias("example_gram"),
    )


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The clean corpus: documents with zero benchmark n-gram overlap.

    left_anti against the contaminated-id set; the contaminated set is
    (by construction of a decent pipeline) tiny, so it broadcasts and
    the corpus again avoids shuffling.
    """
    dirty = contamination(documents, benchmark, n=n, text_col=text_col, id_col=id_col)
    return documents.join(
        F.broadcast(dirty.select(id_col)), id_col, "left_anti"
    )


# --------------------------------------------------------- Bloom filter
#
# The probe-side scale path promised above: instead of shipping the
# benchmark gram set (strings or hashes) into every task, ship an m-bit
# Bloom filter packed into array<long>. The probe stays a stateless
# map-side column expression (bit_get over a literal word array), the
# broadcast payload drops to m/8 bytes, and false positives only make
# the gate MORE conservative (a clean doc dropped), never less — the
# right failure direction for decontamination.


def bloom_build(
    bench: DataFrame,
    text_col: str = "text",
    n: int = 8,
    m_bits: int = 1 << 17,
    k_hashes: int = 4,
) -> list[int]:
    """Build the benchmark-gram Bloom filter: ``m_bits/64`` longs.

    Bit positions come from ``xxhash64(gram || '#' || i)`` computed BY
    SPARK (one job over the eval-sized benchmark set), so the probe plan
    reproduces them exactly — xxhash64 has no portable Python twin.
    """
    toks = F.split(F.trim(F.col(text_col)), " ")
    pos_rows = (
        bench.select(F.explode(ngrams(toks, n)).alias("gram"))
        .distinct()
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(k_hashes - 1)),
                    lambda i: F.pmod(
                        F.xxhash64(
                            F.concat(F.col("gram"), F.lit("#"), i.cast("string"))
                        ),
                        F.lit(m_bits),
                    ),
                )
            ).alias("pos")
        )
        .distinct()
        .collect()
    )
    words = [0] * ((m_bits + 63) // 64)
    for r in pos_rows:
        p = r.pos
        words[p // 64] |= 1 << (p % 64)
    # two's-complement into signed 64-bit (Spark longs)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_probe(gram: Column, words: list[int], m_bits: int, k_hashes: int) -> Column:
    """True iff every one of the gram's ``k_hashes`` bits is set.

    The bit positions materialize once into a small array (one xxhash64
    per seed) and the word/bit lookups run over that — the hash is not
    re-evaluated per lookup operand.
    """
    lit_words = F.array(*[F.lit(w).cast("long") for w in words])
    positions = F.transform(
        F.sequence(F.lit(0), F.lit(k_hashes - 1)),
        lambda i: F.pmod(
            F.xxhash64(F.concat(gram, F.lit("#"), i.cast("string"))),
            F.lit(m_bits),
        ),
    )
    return F.forall(
        positions,
        lambda p: F.bit_get(
            F.element_at(lit_words, (F.floor(p / 64) + 1).cast("int")),
            (p % 64).cast("int"),
        )
        == 1,
    )


def bloom_decontaminate(
    df: DataFrame,
    bloom_words: list[int],
    text_col: str = "text",
    n: int = 8,
    m_bits: int = 1 << 17,
    k_hashes: int = 4,
) -> DataFrame:
    """Keep documents none of whose n-grams hit the benchmark Bloom
    filter. Sound (never keeps a contaminated doc the exact gate would
    drop); false positives drop extra clean docs at the configured rate
    (~(1-e^{-kn/m})^k). Stateless map stage — works identically under
    Structured Streaming (same shape as ``stream_decontaminate``)."""
    toks = F.split(F.trim(F.col(text_col)), " ")
    hit = F.exists(
        ngrams(toks, n), lambda g: bloom_probe(g, bloom_words, m_bits, k_hashes)
    )
    return df.filter(~hit)


def bloom_build_values(df: DataFrame, col: str, m_bits: int = 1 << 17, k_hashes: int = 4) -> list[int]:
    """Bloom filter over an arbitrary column's distinct values (stringified).

    Same xxhash64-by-Spark position scheme as ``bloom_build`` so any plan
    can reproduce the probe bits exactly; used e.g. to ship a band-hash
    history index to a streaming dedup gate as m/8 bytes.
    """
    pos_rows = (
        df.select(F.col(col).cast("string").alias("gram"))
        .distinct()
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(k_hashes - 1)),
                    lambda i: F.pmod(
                        F.xxhash64(
                            F.concat(F.col("gram"), F.lit("#"), i.cast("string"))
                        ),
                        F.lit(m_bits),
                    ),
                )
            ).alias("pos")
        )
        .distinct()
        .collect()
    )
    words = [0] * ((m_bits + 63) // 64)
    for r in pos_rows:
        p = r.pos
        words[p // 64] |= 1 << (p % 64)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]
