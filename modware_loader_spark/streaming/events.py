"""Structured Streaming pipelines over the events table — the streaming
twins of the batch queries in ``plans.export_queries``
(``events_tumbling_window`` / ``events_sessionization``).

The reference has no streaming surface (its closest analog is chunked
flush loops, ``lib/Modware/Export/GAF.pm:129-135``); this is extension
scope per the BASELINE north star. Design:

- file/parquet source → event-time watermark → windowed aggregation;
  state is bounded by the watermark (late rows beyond it are dropped),
- session windows via ``F.session_window`` (gap-based, same 30-min gap as
  the batch twin),
- sinks: memory (tests), parquet + checkpoint (production).

Scale: stateful aggs shuffle on (window, keys); state store size is
(#active windows × #keys), bounded by the watermark horizon — the knobs
that matter at 100 TB/day are watermark delay and
``spark.sql.shuffle.partitions`` for the state store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def read_event_stream(spark, path: str, schema) -> DataFrame:
    return spark.readStream.schema(schema).parquet(path)


def stream_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first occurrence per key within the
    watermark horizon (``dropDuplicatesWithinWatermark``) — the streaming
    twin of the batch ``dedup_exact_fingerprint`` operator. State holds
    one entry per distinct key seen inside the horizon and is evicted as
    the watermark advances, so memory is bounded by (key cardinality per
    horizon), not by stream length."""
    keys = keys or ["user_id", "event_type"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """1-hour tumbling windows per event_type with a late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(38,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_aggregates(events: DataFrame, gap: str = "30 minutes",
                       watermark: str = "2 hours") -> DataFrame:
    """Gap-based session windows per user (native session_window state)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(38,6)")), 2)
            .cast("double")
            .alias("session_value"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def stream_decontaminate(
    docs: DataFrame,
    bench_grams: list[str],
    n: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Streaming benchmark decontamination: drop documents sharing any
    word n-gram with the (static) benchmark set — the streaming twin of
    ``operators.decontam.decontaminate``.

    The probe is STATELESS: each document's gram array is tested against
    the benchmark gram set map-side (``arrays_overlap``), so this runs in
    append mode with no state store, no watermark, and no shuffle —
    exactly the property you want on an ingest stream. The benchmark set
    is eval-corpus-sized (MBs); at the high end swap the literal array
    for a broadcast Bloom filter over the 64-bit gram hashes (same
    stateless shape, constant per-row probe).
    """
    from modware_loader_spark.operators.decontam import ngrams

    toks = F.split(F.trim(F.col(text_col)), " ")
    return docs.filter(~F.arrays_overlap(ngrams(toks, n), F.lit(bench_grams)))


def stream_quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Streaming Gopher quality gate: keep documents passing the
    A1.1 quality rules — the streaming twin of the batch
    ``text_gopher_quality_keep`` query.

    STATELESS like ``stream_decontaminate``: every rule is a column
    expression over the document itself (``operators.curation``), so
    this runs in append mode with no state store, no watermark and no
    shuffle — quality gating belongs on the ingest stream, before
    anything stateful pays for the rejected rows.
    """
    from modware_loader_spark.operators.curation import (
        gopher_quality_keep,
        gopher_quality_stats,
    )

    stats = gopher_quality_stats(F.col(text_col))
    return docs.filter(
        gopher_quality_keep(stats, min_stopword_hits=min_stopword_hits)
    )


def stream_classifier_gate(
    docs: DataFrame,
    weights: dict[int, int],
    n_buckets: int,
    bias_micros: int = 0,
    threshold_micros: int = 0,
    text_col: str = "text",
) -> DataFrame:
    """Streaming hashed-linear-classifier gate: keep documents whose
    fastText-style score clears the threshold — the streaming twin of
    the batch ``text_quality_classifier`` query.

    The batch operator (``operators.classifier``) explodes to tokens and
    joins a broadcast weight table — a shuffle shape streaming ingest
    should not pay. Here the (sparse) model ships as a LITERAL map and
    the score is a single ``aggregate`` fold over the token array:
    ``score = bias + sum coalesce(weights[bucket(token)], 0)`` — pure
    row expression, integer micro-unit arithmetic bit-identical to the
    batch scorer (pinned by a batch-equivalence test), append mode, no
    state store, no watermark, no shuffle. Model size bound: a literal
    map inlines into the plan, so this is for snapshot-sized models
    (10^4-ish occupied buckets); bigger models belong in the batch path.
    """
    from modware_loader_spark.operators.classifier import hash_bucket
    from modware_loader_spark.operators.text import tokens

    if weights:
        lit_map = F.create_map(
            *[
                F.lit(v).cast("long")
                for b, w in sorted(weights.items())
                for v in (b, w)
            ]
        )
        per_tok = lambda t: F.coalesce(  # noqa: E731
            lit_map[hash_bucket(t, n_buckets)], F.lit(0).cast("long")
        )
    else:
        per_tok = lambda t: F.lit(0).cast("long")  # noqa: E731
    score = F.aggregate(
        tokens(F.col(text_col)),
        F.lit(int(bias_micros)).cast("long"),
        lambda acc, t: acc + per_tok(t),
    )
    return docs.withColumn("score_micros", score).filter(
        F.col("score_micros") >= F.lit(int(threshold_micros))
    )


def stream_line_scrub(
    docs: DataFrame,
    boilerplate_hashes: list[str],
    text_col: str = "text",
    line_delim: str = "\n",
) -> DataFrame:
    """Streaming boilerplate-line removal: scrub each arriving document
    against a batch-computed boilerplate list
    (``operators.curation.boilerplate_lines``) — the batch-then-stream
    CCNet pattern. Stateless append-mode map stage like the other
    ingest-side gates."""
    from modware_loader_spark.operators.curation import scrub_lines

    return scrub_lines(docs, boilerplate_hashes, text_col, line_delim)


def stream_dedup_against_history(
    docs: DataFrame,
    history_band_hashes: list[int] | None = None,
    bloom_words: list[int] | None = None,
    m_bits: int = 1 << 17,
    k_hashes: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Streaming rolling-crawl dedup: drop documents that near-match the
    (static) history corpus — the streaming twin of the batch
    ``dedup.minhash_incremental_flags`` ``dup_of_history`` flag.

    Each streamed document is LSH-banded map-side with
    ``dedup.minhash_bands_col`` (bit-identical to the batch band table)
    and probed against the history index. STATELESS like
    ``stream_decontaminate``: append mode, no state store, no watermark,
    no shuffle — the history ships either as the literal band-hash
    array (exact; fine for eval-sized histories) or as an m/8-byte
    Bloom filter over the band hashes (``decontam.bloom_build_values``)
    whose false positives only over-drop, the safe direction. In-batch
    (stream x stream) dedup is a different contract — use
    ``stream_dedup`` on a fingerprint key for the exact-dup slice of it.
    """
    from modware_loader_spark.operators.decontam import bloom_probe
    from modware_loader_spark.operators.dedup import minhash_bands_col

    bands = minhash_bands_col(F.col(text_col))
    if bloom_words is not None:
        hit = F.exists(
            bands,
            lambda b: bloom_probe(b.cast("string"), bloom_words, m_bits, k_hashes),
        )
    elif history_band_hashes is not None:
        hit = F.arrays_overlap(
            bands, F.lit(history_band_hashes).cast("array<bigint>")
        )
    else:
        raise ValueError("provide history_band_hashes or bloom_words")
    return docs.filter(~hit)


def stream_lm_gate(
    docs: DataFrame,
    uni: dict,
    bi: dict,
    tri: dict,
    n_tokens: int,
    vocab: int,
    alpha: float | None = None,
    min_avg_lp_micros: int = -15_000_000,
    text_col: str = "text",
) -> DataFrame:
    """Streaming Stupid-Backoff LM gate: keep documents whose average
    per-trigram log-score clears the threshold — the streaming twin of
    the batch ``text_lm_perplexity`` scorer (``operators/lm.py``), same
    deployment shape as ``stream_classifier_gate``.

    The batch scorer explodes trigrams and joins the count tables — a
    shuffle shape streaming ingest should not pay. Here the snapshot
    model ships as LITERAL maps (``lm.lm_model_literals``; grams keyed
    by space-joined words — tokens are whitespace-split so the key is
    unambiguous) and the whole score is one ``aggregate`` fold over
    trigram positions: per position the published backoff chain
    ``c3/c2ctx -> alpha*c2/c1ctx -> alpha^2*(c1+1)/(N+V)``, ``ln``
    rounded to integer micro-nats, summed left-to-right — integer sums
    are order-free, so the result is bit-identical to the batch scorer
    (pinned by a batch-equivalence test). Pure row expression: append
    mode, no state store, no watermark, no shuffle. Documents shorter
    than three tokens carry no evidence and pass the gate untouched
    (``n_trigrams = 0``); the threshold compare is exact integer
    arithmetic (``lp_micros >= threshold * n_trigrams``), no division.
    Model-size bound: literal maps inline into the plan — snapshot-sized
    models only; web-scale LMs belong on the batch join path. Each map
    literal is bound to ONE helper column (``__uni_m``/``__bi_m``/
    ``__tri_m``) and the per-position lookups reference the column, so
    the inlined model appears once in the plan however many lookups use
    it; ``alpha`` defaults to the batch scorer's published constant
    (``lm.STUPID_BACKOFF_ALPHA``) so the twins cannot silently diverge.
    """
    from modware_loader_spark.operators.lm import STUPID_BACKOFF_ALPHA
    from modware_loader_spark.operators.text import tokens

    if alpha is None:
        alpha = STUPID_BACKOFF_ALPHA
    if n_tokens + vocab == 0:
        raise ValueError(
            "empty LM model (n_tokens + vocab == 0): the unigram floor "
            "(c1+1)/(N+V) would divide by zero and emit Inf/NaN scores; "
            "the batch twin yields zero stats rows on this input instead"
        )

    def lit_map(d: dict):
        if not d:
            return F.lit(None).cast("map<string,bigint>")
        return F.create_map(
            *[
                F.lit(v)
                for k, c in sorted(
                    (k if isinstance(k, str) else " ".join(k), c)
                    for k, c in d.items()
                )
                for v in (k, int(c))
            ]
        )

    w = tokens(F.col(text_col))
    n3 = F.greatest(F.size(w) - F.lit(2), F.lit(0)).cast("long")

    def lp_at(i):
        w1, w2, w3 = (F.element_at(w, i + j) for j in range(3))
        c3 = F.col("__tri_m")[F.concat_ws(" ", w1, w2, w3)].cast("long")
        c2_ctx = F.col("__bi_m")[F.concat_ws(" ", w1, w2)].cast("long")
        c2 = F.col("__bi_m")[F.concat_ws(" ", w2, w3)].cast("long")
        c1_ctx = F.col("__uni_m")[w2].cast("long")
        c1 = F.col("__uni_m")[w3].cast("long")
        s = (
            F.when(c3.isNotNull(), c3 / c2_ctx)
            .when(c2.isNotNull(), F.lit(alpha) * c2 / c1_ctx)
            .otherwise(
                F.lit(alpha * alpha)
                * (F.coalesce(c1, F.lit(0)) + F.lit(1))
                / F.lit(float(n_tokens + vocab))
            )
        )
        return F.round(F.log(s) * F.lit(1e6)).cast("long")

    positions = F.when(F.size(w) >= 3, F.sequence(F.lit(1), F.size(w) - 2)).otherwise(
        F.array().cast("array<int>")
    )
    lp_sum = F.aggregate(
        positions, F.lit(0).cast("long"), lambda acc, i: acc + lp_at(i)
    )
    out = (
        docs.withColumn("__uni_m", lit_map(uni))
        .withColumn("__bi_m", lit_map(bi))
        .withColumn("__tri_m", lit_map(tri))
        .withColumn("n_trigrams", n3)
        .withColumn("lp_micros", lp_sum)
        .drop("__uni_m", "__bi_m", "__tri_m")
    )
    return out.filter(
        (F.col("n_trigrams") == 0)
        | (
            F.col("lp_micros")
            >= F.lit(int(min_avg_lp_micros)) * F.col("n_trigrams")
        )
    )


def stream_temperature_gate(
    docs: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "temp",
) -> DataFrame:
    """Streaming temperature-sampling gate: keep rows whose
    deterministic md5-uniform draw clears their source's precomputed
    keep rate — the streaming twin of the batch ``sample_temperature``
    query.

    The batch operator (``operators.sampling.temperature_rates``)
    derives rates from source counts — a corpus aggregate a stream
    cannot compute; the production shape is: batch job snapshots the
    rates (source-cardinality-sized), the stream applies them as a
    LITERAL map. The membership draw is the same ``hash_uniform`` as
    the batch side, so a row admitted by the stream is exactly the row
    the batch sampler would keep under the same rates (pinned by a
    batch-equivalence test). Append mode, stateless, zero shuffle.
    Sources absent from the snapshot keep rate 0 (drop) — the
    conservative default for a crawl discovering new domains between
    rate refreshes.
    """
    from modware_loader_spark.operators.sampling import hash_uniform

    # A NULL-source snapshot entry (temperature_rates emits one when the
    # corpus has NULL sources) is unrepresentable as a Spark map key and
    # unsortable against str keys; a NULL lookup coalesces to 0.0 anyway,
    # so the entry is dead weight — skip it.
    clean = {s: r for s, r in rates.items() if s is not None}
    if clean:
        lit_map = F.create_map(
            *[
                c
                for s, r in sorted(clean.items())
                for c in (F.lit(s), F.lit(float(r)))
            ]
        )
        rate = F.coalesce(lit_map[F.col(source_col)], F.lit(0.0))
    else:
        rate = F.lit(0.0)
    return docs.filter(hash_uniform(F.col(key_col), salt=salt) < rate)


def stream_semantic_gate(
    stream_vecs: DataFrame,
    centroids: list,
    history: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming semantic-dedup gate against a STATIC frozen index —
    the streaming twin of ``semdedup.semantic_incremental_flags``'s
    history leg (as ``stream_dedup_against_history`` is for MinHash):
    each streamed vector is assigned to its IVF cell MAP-SIDE (the
    literal broadcast-argmin — a pure expression, so it runs inside a
    streaming microbatch with no state), then a stream-static LEFT
    ANTI join against the history index drops any row with a
    cell-local cosine near-duplicate in history. STATELESS: append
    mode, no watermark, no state store — the static side is the
    cell-bucketed ``save_ivf_index`` table, so each microbatch's
    candidate probe is bucket-local exactly like the batch path.

    Contract note (mirrors ``stream_dedup_against_history``): this
    gates against HISTORY only. Within-stream duplicates need the
    min-id rule over a complete batch — run
    ``semantic_incremental_flags`` on the micro-batch (foreachBatch)
    or downstream in the batch compactor.
    """
    from modware_loader_spark.operators.ivf import _nearest_cell
    from modware_loader_spark.operators.similarity import cosine

    assigned = _nearest_cell(stream_vecs, centroids, id_col, vec_col)
    h = history.select(
        F.col(id_col).alias("__h_id"),
        F.col(vec_col).alias("__h_vec"),
        F.col("cell").alias("__h_cell"),
    )
    cond = (F.col("cell") == F.col("__h_cell")) & (
        F.round(cosine(F.col(vec_col), F.col("__h_vec")), 6) >= F.lit(threshold)
    )
    return assigned.join(h, cond, "left_anti")
